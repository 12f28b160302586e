package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Streaming correctness = batch equivalence: the streamed windowed
  * aggregations must equal the same aggregation computed in batch mode.
  */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling window == batch window aggregation") {
    val streamed = StreamingOps.queries("q_stream_tumbling")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Tables(spark, sfDir, "events")
      .groupBy(window(col("ts"), "300 seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      .select(col("w.start"), col("event_type"), col("n"), col("val_sum"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup == batch distinct-id count") {
    val batch = Tables(spark, sfDir, "events")
      .select("event_id").distinct().count()
    val streamed = StreamingOps.queries("q_stream_dedup")(spark, sfDir)
      .collect()(0).getLong(0)
    assert(streamed == batch && streamed > 0)
  }

  test("within-watermark dedup DROPS the out-of-order quartile as late data") {
    import org.apache.spark.sql.expressions.Window
    val b = Tables(spark, sfDir, "events")
      .withColumn("q", ntile(4).over(Window.orderBy("ts", "event_id")))
      .select("event_id", "ts", "q").localCheckpoint(true)
    // Oracle precondition (fail loudly on a regenerated fixture): replay
    // order is 2, 3, 1, 4 and the late filter uses the PREVIOUS batch's
    // watermark, so "all of quartile 1 drops" needs max(q1) + 1 h <
    // max(q2). The fixture's quartiles span days — huge margin.
    val maxQ1 = b.filter(col("q") === 1).agg(max("ts")).collect()(0).getTimestamp(0)
    val maxQ2 = b.filter(col("q") === 2).agg(max("ts")).collect()(0).getTimestamp(0)
    assert(maxQ1.getTime + 3600 * 1000 < maxQ2.getTime,
      s"late-data precondition violated: max(q1)=$maxQ1 not 1h below max(q2)=$maxQ2")
    val surviving = b.filter(col("q") =!= 1).select("event_id").distinct().count()
    val total = b.select("event_id").distinct().count()
    val streamed = StreamingOps.queries("q_stream_dedup_wm")(spark, sfDir)
      .collect()(0).getLong(0)
    assert(streamed == surviving, s"expected the watermark-surviving surface $surviving, got $streamed")
    // lateness actually exercised: the late quartile must have been dropped
    assert(streamed < total, s"no late rows were dropped (got $streamed of $total)")
  }

  test("append-mode late agg: late quartile excluded, unclosed windows withheld") {
    import org.apache.spark.sql.expressions.Window
    val got = StreamingOps.queries("q_stream_late_agg")(spark, sfDir).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val b = Tables(spark, sfDir, "events")
      .withColumn("q", ntile(4).over(Window.orderBy("ts", "event_id")))
      .localCheckpoint(true)
    val surv = b.filter(col("q") =!= 1)
    val wmf = surv.agg(max("ts")).collect()(0).getTimestamp(0).getTime - 3600 * 1000
    val expect = surv
      .groupBy(window(col("ts"), "300 seconds").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      .select(col("w.start"), col("w.end"), col("n"), col("val_sum"))
      .collect()
      .filter(_.getTimestamp(1).getTime <= wmf)
      .map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == expect.toSet && got.nonEmpty)
    // the withheld tail is real: some closed-over-surviving windows exist
    // past the final watermark
    val all = surv.groupBy(window(col("ts"), "300 seconds")).count().count()
    assert(all > got.length, "no windows were withheld past the final watermark")
  }

  test("stream-stream join == batch time-window join") {
    val streamed = StreamingOps.queries("q_stream_join")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = Tables(spark, sfDir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("cu")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream LEFT OUTER join == batch left join on the watermark-closed surface") {
    val streamed = StreamingOps.queries("q_stream_join_outer")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = Tables(spark, sfDir, "events")
    val mx = ev.agg(least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts")))))
      .collect()(0).getTimestamp(0)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"), "left_outer")
      .filter(col("cts") <= lit(mx) - expr("INTERVAL 2 HOURS"))
      .groupBy(col("cu"))
      .agg(count(lit(1)).as("n_rows"), count(col("pts")).as("n_matched"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch)
    // outer semantics actually exercised: some click rows must be unmatched
    assert(streamed.values.exists { case (rows, matched) => matched < rows })
  }

  test("processing-time trigger drains to the batch aggregate over timed microbatches") {
    val streamed = StreamingOps.queries("q_stream_proctime")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Tables(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark drops late data (checkpoint-restored watermark, with control)") {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    import spark.implicits._
    val base = Files.createTempDirectory("graft-late").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "s").selectExpr("id", "CAST(s AS TIMESTAMP) AS ts")
        .coalesce(1).write.mode("append").parquet(s"$base/data")
    def agg() = spark.readStream.schema("id LONG, ts TIMESTAMP")
      .parquet(s"$base/data/*.parquet")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "60 minutes")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("w"), col("n"))
    // file sink supports checkpoint recovery (memory sink does not)
    def runToFiles(): Map[String, Long] = {
      val q = agg().writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // run 1: watermark ends at 12:02 − 10min = 11:52 (persisted in ckpt)
    write(Seq((1L, "2024-06-01 12:00:00"), (2L, "2024-06-01 12:02:00")))
    runToFiles()
    // run 2 (same checkpoint) sees ONLY the late 09:00 event — its window
    // closed long before the restored watermark → dropped
    write(Seq((3L, "2024-06-01 09:00:00")))
    runToFiles()
    // run 3: an on-time 14:30 event pushes the watermark past 13:00 so the
    // 12:00 window EMITS — proving emission works while 09:00 stays absent
    write(Seq((4L, "2024-06-01 14:30:00")))
    val out = runToFiles()
    assert(out.exists { case (w, n) => w.contains("12:00") && n == 2L },
      s"12:00 window should have emitted with 2 events: $out")
    assert(!out.keys.exists(_.contains("09:00")),
      s"late event leaked past the restored watermark: $out")
    // control: fresh query with no prior watermark state accepts the same
    // 09:00 event and emits its window — the drop above was the watermark.
    val q2 = agg().writeStream.format("memory").queryName("t_late_ctl")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val control = spark.table("t_late_ctl").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(control.exists(_._1.contains("09:00")), s"control missing 09:00: $control")
  }

  test("foreachBatch upsert: final state equals the batch latest-per-user compaction") {
    val got = StreamingOps.queries("q_stream_upsert")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2)))
    val expected = Tables(spark, sfDir, "events")
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view
      .mapValues(_.maxBy(e => (e._2.getTime, e._3))).toMap
    assert(got.length == expected.size)
    got.foreach { case (u, v, ts) =>
      val e = expected(u)
      assert(v == e._4 && ts == e._2, s"user $u state mismatch")
    }
  }

  test("incremental anomaly state merge equals the batch anomaly query, multi-batch") {
    val stream = graft.streaming.StreamingOps
      .queries("q_stream_anomaly")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    val batch = graft.operators.EventAnalytics
      .queries("q_events_anomaly")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    assert(stream == batch, "incremental merge must converge to the batch answer")
    assert(stream.nonEmpty)
    // the replay must actually be incremental: >= 2 chunk files, each its
    // own microbatch under maxFilesPerTrigger=1
    val tag = java.lang.ProcessHandle.current().pid().toString + "_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val chunkDir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_stream_anom_${tag}_chunks")
    val parts = Option(chunkDir.list()).getOrElse(Array.empty[String])
      .count(f => f.startsWith("part-") && f.endsWith(".parquet"))
    assert(parts >= 2, s"expected a multi-chunk replay, found $parts part files")
  }

  test("foreachBatch state fold is idempotent per batchId (at-least-once re-delivery)") {
    import spark.implicits._
    // foreachBatch can re-deliver a microbatch after a failure under the
    // SAME batchId; the additive moment fold must apply it exactly once.
    val state = ProcessCache.path("spec", "idem")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(state))
    import graft.sources.VersionedGraphStore
    def fold(batchId: Long, rows: Seq[(String, Long)]): Unit =
      StreamingOps.applyBatchIdempotent(state, batchId) {
        val batch = rows.toDF("k", "n")
        val merged = StreamingOps.cdcState(spark, state)
          .map(_.unionByName(batch)).getOrElse(batch)
        merged.groupBy("k").agg(sum("n").as("n"))
      }
    def snapshot(): Map[String, Long] = VersionedGraphStore.load(spark, state)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fold(0L, Seq(("a", 1L), ("b", 2L)))
    assert(snapshot() == Map("a" -> 1L, "b" -> 2L))
    fold(0L, Seq(("a", 1L), ("b", 2L))) // re-delivery: must be a no-op
    assert(snapshot() == Map("a" -> 1L, "b" -> 2L),
      "re-delivered batchId 0 double-counted into the state")
    fold(1L, Seq(("a", 10L)))
    assert(snapshot() == Map("a" -> 11L, "b" -> 2L))
    fold(1L, Seq(("a", 10L))) // and again at the newest id
    assert(snapshot() == Map("a" -> 11L, "b" -> 2L))
    // commit-log dividends: a re-delivered batch committed NO new version
    // (idempotency == version-id check), each version's manifest carries
    // its batchId, and batch 0's state stays time-travel readable AFTER
    // batch 1's merge.
    assert(VersionedGraphStore.versions(state) == Seq(1L, 2L))
    assert(VersionedGraphStore.metaAt(state, 1L).contains("0"))
    assert(VersionedGraphStore.metaAt(state, 2L).contains("1"))
    assert(VersionedGraphStore.loadAt(spark, state, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1L, "b" -> 2L),
      "time travel to the pre-merge CDC version must return batch 0's state")
  }

  test("changelog apply: tombstoned users absent, survivors equal the upsert rows") {
    val up = StreamingOps.queries("q_stream_upsert")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ch = StreamingOps.queries("q_stream_changelog")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // served rows = exactly the upsert (latest-wins) rows whose final
    // value is not a delete op; deleted users must be fully absent
    val expectedLive = up.filter { case (_, v) => v >= 25.0 }
    assert(ch == expectedLive,
      s"changelog mismatch: extra=${ch.keySet -- expectedLive.keySet} " +
        s"missing=${expectedLive.keySet -- ch.keySet}")
    assert(up.exists(_._2 < 25.0), "fixture must exercise the tombstone path")
  }

  test("session windows: gap property holds (no intra-session gap >= 30 min)") {
    val sessions = StreamingOps.queries("q_session_window")(spark, sfDir).collect()
    val events = Tables(spark, sfDir, "events")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // total session events == total events
    assert(sessions.map(_.getLong(2)).sum == events.values.map(_.length).sum)
    // session count per user == number of >= 30min gaps + 1
    val gapMs = 30L * 60 * 1000
    val expectedCounts = events.map { case (u, ts) =>
      u -> (1 + ts.sliding(2).count(p => p.length == 2 && p(1) - p(0) >= gapMs))
    }
    val gotCounts = sessions.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(gotCounts == expectedCounts)
  }
}
