package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import graft.{ProcessCache, QueryModule, Tables}

/** Structured Streaming surface over `events` (the reference's unbounded
  * request stream, `load_balancer.c:154-160`, re-expressed as a data
  * stream): tumbling/sliding windows with watermark, streaming dedup, and
  * session windows.
  *
  * The streaming queries replay events.parquet through `readStream` with
  * `Trigger.AvailableNow` into a memory sink, then return the sink table —
  * so the driver's batch-oracle compare applies (streaming result ==
  * batch-equivalent SQL). At scale the memory sink becomes a parquet/Kafka
  * sink and AvailableNow becomes a continuous trigger; the plan is
  * identical.
  *
  * events.ts is ns-precision parquet which Spark's streaming file source
  * can't read natively (same [PARQUET_TYPE_ILLEGAL] as batch), so the
  * stream reads nanos-as-long and rebuilds the timestamp — see
  * [[graft.Tables]].
  */
object StreamingOps extends QueryModule {

  /** Pre-write every replay-chunk directory the streaming queries use.
    * Each is written once per process ([[graft.ProcessCache.once]]) and
    * reused by every later run of the same query: staging is harness
    * cost (writing replay files), not operator cost. Invoked by Bench
    * before the timed loop so measured times reflect stream execution,
    * not the chunk-file writes (staging is billed separately as
    * `staging_sec`). */
  def stageAll(s: SparkSession, dir: String): Unit = {
    stageOuterJoinChunks(s, dir)
    stageLateChunks(s, dir)
    stageHashChunks(s, dir)
    stageUpsertChunks(s, dir)
    stageAnomalyChunks(s, dir)
    stageModSeqChunks(s, dir)
    stageGraphCcDelChunks(s, dir)
    stageDedupDelChunks(s, dir)
  }

  /** Write `frames` as sequential single-file chunks into `chunks`, then
    * PIN each chunk's part-file mod-time to a strictly increasing value.
    * The streaming file source replays in mod-time order; sequential
    * writes almost always produce distinct stamps, but a tie at the
    * filesystem's timestamp granularity would silently scramble the
    * replay order the late-data queries' oracles depend on — pinning
    * makes the order a property of the code, not of write latency. */
  private def writeChunksOrdered(chunks: String, frames: Seq[DataFrame]): Unit = {
    val dir = new java.io.File(chunks)
    val base = System.currentTimeMillis()
    frames.zipWithIndex.foreach { case (df, i) =>
      val before: Set[String] =
        if (i == 0) Set.empty
        else Option(dir.list()).map(_.toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(chunks)
      Option(dir.list()).getOrElse(Array.empty[String]).toSet.diff(before)
        .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
        .foreach { f =>
          require(new java.io.File(dir, f).setLastModified(base + (i + 1) * 60000L),
            s"could not pin mod-time of $chunks/$f")
        }
    }
  }

  /** 3 ts-tercile chunk files written in GLOBAL ts order (sequential
    * writes → monotone file mod-times → monotone watermark replay).
    * 3 chunks, not 4 (r6 perf task): the outer join's cost at local[32]
    * is per-microbatch state-store scheduling, and 3 in-order batches
    * exercise the same watermark progression — unmatched rows from batch
    * 1 emit while batch 2/3 advance the watermark — one batch cheaper. */
  private def stageOuterJoinChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_ojoin", dir) { chunks =>
      val ev = Tables.raw(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
      val bucketed = ev.withColumn("bucket", ntile(3).over(w)).localCheckpoint(true)
      writeChunksOrdered(chunks,
        (1 to 3).map(b => bucketed.filter(col("bucket") === b).drop("bucket")))
    }

  /** 4 ts-quartile chunk files written DELIBERATELY out of ts order —
    * 2, 3, 1, 4 — so quartile 1 arrives two batches after quartile 2 has
    * advanced the watermark days past it: every row of chunk 1 is
    * genuinely late and a watermarked stateful operator must DROP it.
    *
    * Why 2,3,1,4 and not 1,3,2,4: since SPARK-40925 a stateful operator
    * filters late input against the PREVIOUS microbatch's watermark
    * (eviction uses the current one). In 1,3,2,4 the late chunk 2 sits
    * above the previous-batch watermark (max(chunk 1) − 1 h) and nothing
    * drops; in 2,3,1,4 chunk 1 arrives under a previous-batch watermark of
    * max(chunk 2) − 1 h — ~7.5 fixture-days above its newest row — so the
    * WHOLE chunk is late under either watermark rule, and the oracle can
    * use the unambiguous `quartile ≠ 1` surviving surface (the spec
    * guards the max(q1) + 1 h < max(q2) precondition loudly).
    *
    * The quartile split is ntile(4) over (ts, event_id) — a total order,
    * so the oracle rebuilds the identical bucket assignment. */
  private def stageLateChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_late", dir) { chunks =>
      val ev = Tables.raw(s, dir, "events")
        .select(col("event_id"), col("ts"), col("value"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
      val bucketed = ev.withColumn("bucket", ntile(4).over(w)).localCheckpoint(true)
      writeChunksOrdered(chunks,
        Seq(2, 3, 1, 4).map(b => bucketed.filter(col("bucket") === b).drop("bucket")))
    }

  private val lateChunkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))

  /** 4-way hash-partitioned chunk files (no time order — exercises state
    * merge across arbitrarily-ordered microbatches), shared by
    * q_stream_microbatch and q_stream_proctime: same schema, same split,
    * one staging write (r6 perf task). */
  private def stageHashChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_hash4", dir) { chunks =>
      Tables.raw(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(chunks)
    }

  /** 4 ordered chunk files of EDGE CHANGES (src, dst, op) for the
    * delete-bearing streaming CC maintainer: chunks 1–3 hash-partition
    * the full symmetrized hierarchy graph as op='I' inserts; chunk 4 is
    * the takedown batch — op='D' for every region-4 nation↔region edge
    * plus the two glue inserts — the q_graph_cc_incremental_del diff
    * replayed as a stream (mod-time-pinned order: deletes must follow
    * their inserts). */
  private def stageGraphCcDelChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_graphccdel", dir) { chunks =>
      import graft.operators.GraphQueries.{hierEdges, ccDelV2, edgeMinus}
      // the SAME fixture algebra as the batch maintainer, read from its
      // single source (review finding: a re-spelled copy here would
      // silently diverge from the SHARED oracle if the GraphQueries
      // fixture ever changed): v1 = the full hierarchy graph streamed as
      // three insert slices, the takedown batch = the two-sided diff
      // v1 ∖ v2 (deletes) ⊎ v2 ∖ v1 (glue inserts)
      val v1 = hierEdges(s, dir).localCheckpoint(true)
      val v2 = ccDelV2(s, dir).localCheckpoint(true)
      def insSlice(m: Int) =
        v1.filter(pmod(xxhash64(col("src"), col("dst")), lit(3)) === m)
          .select(col("src"), col("dst"), lit("I").as("op"))
      val takedown = edgeMinus(v1, v2)
        .select(col("src"), col("dst"), lit("D").as("op"))
        .unionByName(edgeMinus(v2, v1)
          .select(col("src"), col("dst"), lit("I").as("op")))
      writeChunksOrdered(chunks, (0 until 3).map(insSlice) :+ takedown)
    }

  /** 4 ordered chunk files of DOCUMENT CHANGES (doc_id, text, op) for
    * the delete-bearing streaming dedup maintainer: chunks 1–3
    * hash-partition the old corpus (doc_id % 5 ≠ 4) as op='I' ingests;
    * chunk 4 is the combined takedown + ingest batch — op='D' for the
    * old corpus's doc_id % 7 == 3 slice, op='I' for the % 5 == 4 new
    * batch: the q_dedup_incremental_del diff replayed as a stream. */
  private def stageDedupDelChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_dedupdel", dir) { chunks =>
      // band predicates read from their single source in Dedup (review
      // finding: re-spelled literals here would silently desynchronize
      // the streamed chunks from the SHARED q_dedup_incremental_del
      // oracle if either band ever changed)
      import graft.operators.Dedup.{ingestIsNew, retired}
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = docs.filter(!ingestIsNew).localCheckpoint(true)
      def slice(m: Int) = old.filter(pmod(xxhash64(col("doc_id")), lit(3)) === m)
        .select(col("doc_id"), col("text"), lit("I").as("op"))
      val takedown = old.filter(retired(col("doc_id")))
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit("D").as("op"))
        .unionByName(docs.filter(ingestIsNew)
          .select(col("doc_id"), col("text"), lit("I").as("op")))
      writeChunksOrdered(chunks, (0 until 3).map(slice) :+ takedown)
    }

  /** 4 chunk files of VECTOR CHANGE rows (vec_id, op) for the streaming
    * ANN-index maintainer: chunks 1–3 ingest the whole corpus (op='I',
    * split by vec_id % 3), chunk 4 is the takedown batch (op='D' for
    * vec_id % 9 == 2 — the SAME retirement band as the batch twin
    * q_sim_ivf_del, read from one spelling so the SHARED oracle can't
    * desynchronize). Vector bytes are NOT streamed: signatures of the
    * realistic shape — the change stream carries ids, the store carries
    * embeddings, ingest fetches by id. */
  private def stageSimDelChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_simdel", dir) { chunks =>
      val ids = Tables(s, dir, "embeddings").select(col("vec_id"))
        .localCheckpoint(true)
      def slice(m: Int) = ids.filter(col("vec_id") % 3 === m)
        .select(col("vec_id"), lit("I").as("op"))
      val takedown = ids.filter(graft.operators.Similarity.ivfRetired(col("vec_id")))
        .select(col("vec_id"), lit("D").as("op"))
      writeChunksOrdered(chunks, (0 until 3).map(slice) :+ takedown)
    }

  /** 4 chunk files of SET CHANGE rows (id, op) for the streaming
    * sketch-retraction fold: chunks 1–3 ingest every distinct lineitem
    * part key (op='I', split by id % 3), chunk 4 retires the
    * id % 97 == 11 band (op='D' — the SAME band as the batch contract
    * q_agg_sketch_del, read from its single source so the SHARED oracle
    * cannot desynchronize). */
  private def stageSketchDelChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_sketchdel", dir) { chunks =>
      val ids = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("id")).distinct()
        .localCheckpoint(true)
      def slice(m: Int) = ids.filter(col("id") % 3 === m)
        .select(col("id"), lit("I").as("op"))
      val takedown = ids
        .filter(graft.operators.QualityOps.sketchRetired(col("id")))
        .select(col("id"), lit("D").as("op"))
      writeChunksOrdered(chunks, (0 until 3).map(slice) :+ takedown)
    }

  /** 4 chunk files split by `event_id % 4`, written in mod-time-pinned
    * order 0,1,2,3 (the [[writeChunksOrdered]] discipline) — unlike the
    * hash-partitioned upsert chunks, BOTH the batch membership and the
    * replay order are plain SQL (`event_id % 4 = m`, ascending m), so a
    * PREFIX of batches is oracle-expressible: exactly what the
    * time-travel query q_stream_upsert_history needs. */
  private def stageModSeqChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_modseq", dir) { chunks =>
      val ev = Tables.raw(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .localCheckpoint(true)
      writeChunksOrdered(chunks,
        (0 to 3).map(m => ev.filter(pmod(col("event_id"), lit(4)) === m)))
    }

  private def stageAnomalyChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_anom", s"${dir}_chunks") { chunks =>
      Tables.raw(s, dir, "events")
        .select(col("event_type"), col("ts"), col("value"))
        .repartition(4, col("event_type"), col("ts"))
        .write.mode("overwrite").parquet(chunks)
    }

  private def stageUpsertChunks(s: SparkSession, dir: String): String =
    ProcessCache.once("stream_upsert", s"${dir}_chunks") { chunks =>
      Tables.raw(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(chunks)
    }

  /** Idempotent foreachBatch MERGE commit (r7 VERDICT #5 — the r6 ad-hoc
    * dir-swap + `_last_batch_id` marker unified onto the
    * [[graft.sources.VersionedGraphStore]] commit-log discipline):
    * foreachBatch is at-least-once — a failed microbatch re-delivers
    * under the SAME batchId — so each applied batch COMMITS a new
    * immutable snapshot version whose manifest carries the batchId as
    * metadata, published by the store's one atomic link. Idempotency is
    * the version-id check (a re-delivered batchId ≤ the latest manifest's
    * is skipped), data and marker can never diverge because they are the
    * same manifest, readers never observe a half-written state (the old
    * delete+move window is gone), and TIME TRAVEL over CDC state falls
    * out for free — `loadAt(state, v)` is the table as of batch v's merge
    * (exercised by q_stream_upsert_history). This is the transactional-
    * table-commit shape the r6 scaladoc said a production target would
    * use; run state is still rebuilt from the checkpoint replay on a
    * fresh run (callers delete the state dir up front). */
  private[graft] def applyBatchIdempotent(state: String, batchId: Long)(
      merged: => DataFrame): Unit = {
    val last = graft.sources.VersionedGraphStore.latestMeta(state)
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return
    // Per-phase attribution (r8 VERDICT #4 — the CDC family's >2x was
    // unattributable between drift and real manifest overhead): the MERGE
    // compute is forced by a localCheckpoint (one in-memory
    // materialization of the per-batch state — bounded, the same frame
    // the commit writes anyway), then the commit-log write (full-state
    // parquet + manifest link) is timed separately. Both accumulate into
    // [[CdcPhases]], published by the bench as `cdc_phases`.
    val t0 = System.nanoTime()
    val m = merged.localCheckpoint(true)
    val t1 = System.nanoTime()
    graft.sources.VersionedGraphStore.commit(m, state,
      meta = Some(batchId.toString))
    val t2 = System.nanoTime()
    CdcPhases.record(t1 - t0, t2 - t1)
  }

  /** Process-level accumulator splitting every [[applyBatchIdempotent]]
    * microbatch into MERGE-compute vs commit-log-write time — the
    * per-phase breakdown that makes a CDC-family wall-time move
    * attributable from the bench JSON alone. */
  private[graft] object CdcPhases {
    private val mergeNs = new java.util.concurrent.atomic.AtomicLong
    private val commitNs = new java.util.concurrent.atomic.AtomicLong
    private val batches = new java.util.concurrent.atomic.AtomicLong
    def record(merge: Long, commit: Long): Unit = {
      mergeNs.addAndGet(merge); commitNs.addAndGet(commit)
      batches.incrementAndGet(); ()
    }
    /** Zero the counters — called at bench start so `cdc_phases`
      * attributes exactly the benched run's microbatches, not any CDC
      * work an earlier pass in the same JVM already did. */
    def reset(): Unit = { mergeNs.set(0); commitNs.set(0); batches.set(0) }
    /** JSON fragment for the bench line (cumulative across the run). */
    def json: String = {
      def s(ns: Long) = BigDecimal(ns / 1e9)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      s"""{"merge_sec":${s(mergeNs.get)},"commit_sec":${s(commitNs.get)},"batches":${batches.get}}"""
    }
  }

  /** Latest committed CDC state under the commit log, if any batch has
    * applied yet (the `stateFile.exists` of the commit-log world). */
  private[graft] def cdcState(s: SparkSession, state: String): Option[DataFrame] =
    if (graft.sources.VersionedGraphStore.versions(state).nonEmpty)
      Some(graft.sources.VersionedGraphStore.load(s, state))
    else None

  /** Pin `noDataMicroBatches.enabled=true` for the duration of `body` and
    * restore the previous value after (r7 ADVICE: the bare `conf.set` leaked
    * across queries on the shared session — benign only because true is the
    * Spark default). The trailing no-data microbatch it enables is what
    * flushes watermark-closed state after an AvailableNow source drains, so
    * the invariant is part of the query, not an ambient default; the stream
    * runs to completion INSIDE `body`, so restoring afterwards is safe. */
  private def withNoDataMicroBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** readStream version of the events loader (ns ts → TimestampType). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // A glob that matches zero files is a VALID empty stream to Spark —
    // a missing source would silently "succeed" with zero rows. Fail fast
    // instead so the bench's fail-visible contract holds for streaming too.
    val src = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    require(src.getFileSystem(s.sparkContext.hadoopConfiguration).exists(src),
      s"streaming source missing: $src")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The streaming file source needs an explicit schema; sniff the footer
    // with a batch read so either fixture encoding of ts (nanos-as-long or
    // TIMESTAMP(MICROS) → NTZ) is declared as-is, then normalize exactly
    // like the batch path (Tables.normalizeEventTs).
    val schema = Tables.parquet(s, s"$dir/events.parquet").schema
    // events.parquet is a single file; for a non-glob path the streaming
    // file source forces basePath = that file and then rejects it ("must be
    // a directory"), so feed it a glob that resolves to the same file.
    Tables.normalizeEventTs(
      s.readStream.schema(schema).parquet(s"$dir/*events.parquet"))
  }

  /** Run a streaming aggregation to completion on a memory sink, return
    * the materialized table.
    *
    * Stateful operators allocate state stores PER shuffle partition (a
    * stream-stream join allocates four) and the partition count freezes
    * into the checkpoint at first run — so it must be sized to the
    * stream's throughput, not the session's batch default. At this volume
    * 8 partitions cuts store-init overhead ~4× (the batch conf is
    * restored after the run; microbatch planning reads it at execution).
    */
  private def runToMemory(s: SparkSession, agg: DataFrame, name: String,
                          mode: String, partitions: Int = 8): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 5-minute windows with watermark, complete mode.
    "q_stream_tumbling" -> ((s, dir) => {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "300 seconds").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("val_sum"))
      runToMemory(s, agg, "t_stream_tumbling", "complete")
        .orderBy("win_start", "event_type")
    }),

    // Sliding windows: 10-minute window, 5-minute slide.
    "q_stream_sliding" -> ((s, dir) => {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "600 seconds", "300 seconds").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
        .select(col("w.start").as("win_start"), col("n"), col("val_sum"))
      runToMemory(s, agg, "t_stream_sliding", "complete")
        .orderBy("win_start")
    }),

    // Streaming dedup on event_id (append mode emits immediately), then a
    // batch count of the deduped stream. Output is keyed on event_id only:
    // dropDuplicates keeps an ARBITRARY row per id, so projecting any other
    // column would make the result depend on arrival order.
    "q_stream_dedup" -> ((s, dir) => {
      val deduped = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
        .select("event_id")
      runToMemory(s, deduped, "t_stream_dedup", "append")
        .agg(count(lit(1)).as("n_distinct_ids"))
    }),

    // Watermark-bounded streaming dedup under REAL late data: the staged
    // replay feeds ts-quartile chunks in order 2, 3, 1, 4 (see
    // stageLateChunks), so quartile 1 arrives days below the watermark
    // and the operator must DROP all of it as late — the thing watermarks
    // exist for, which an in-order replay never exercises. State for ids
    // older than the watermark is evicted — the production form for
    // unbounded streams. The oracle counts ids over the surviving
    // (quartile ≠ 1) surface.
    "q_stream_dedup_wm" -> ((s, dir) => {
      val chunks = stageLateChunks(s, dir)
      val deduped = s.readStream.schema(lateChunkSchema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id")
      runToMemory(s, deduped, "t_stream_dedup_wm", "append", partitions = 4)
        .agg(count(lit(1)).as("n_distinct_ids"))
    }),

    // Append-mode tumbling aggregation under the same late replay — the
    // window-finalization side of lateness: quartile 1's rows arrive
    // after the watermark passed their windows and are dropped before the
    // state store (numRowsDroppedByWatermark in the progress log), and
    // windows emit only once the watermark passes their end — the final
    // <1 h of event time stays withheld in state when the source drains.
    // Result = windows over the surviving rows whose end the final
    // watermark (global max − 1 h) passed; batch-equivalent, so the
    // DuckDB oracle rebuilds it exactly.
    "q_stream_late_agg" -> ((s, dir) => {
      val chunks = stageLateChunks(s, dir)
      val agg = s.readStream.schema(lateChunkSchema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "300 seconds").as("w"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
        .select(col("w.start").as("win_start"), col("n"), col("val_sum"))
      runToMemory(s, agg, "t_stream_late_agg", "append", partitions = 4)
        .orderBy("win_start")
    }),

    // Streaming parquet file sink (the production sink; memory sink is the
    // test harness): filtered projection streamed append-mode into a
    // parquet directory with a checkpoint, then the sink directory is read
    // back in batch and aggregated. Exactly-once comes from the sink's
    // commit log — re-running with the same checkpoint emits nothing new,
    // so the readback is stable across retries.
    "q_stream_sink" -> ((s, dir) => {
      val out = ProcessCache.path("stream_sink", dir)
      val ck = out + "_ck"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      val q = eventsStream(s, dir)
        .filter(col("event_type").isin("purchase", "signup"))
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Tables.parquet(s, out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
        .orderBy("event_type")
    }),

    // Stream-stream inner join: purchases joined to the same user's clicks
    // within a 30-minute event-time window. Both sides carry watermarks and
    // the join condition bounds event time on both ends — that is what lets
    // the state store evict rows (the unbounded-state trap of stream-stream
    // joins). Inner join in append mode emits exactly the batch-join pairs,
    // so the batch SQL oracle applies.
    "q_stream_join" -> ((s, dir) => {
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
        .withWatermark("cts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      // 4 shuffle partitions, not 8: a stream-stream join allocates FOUR
      // state stores per partition — halving partitions halves store-init
      // cost, the dominant term at this volume (sized to throughput on a
      // real cluster).
      val run = runToMemory(s, joined.select(col("cu"), col("cts"), col("pts")),
        "t_stream_join", "append", partitions = 4)
      run.groupBy(col("cu").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // Stream-stream LEFT OUTER join — the state-eviction semantics the
    // inner join doesn't exercise: an unmatched click is held in the state
    // store until the watermark passes its join bound, THEN emitted with
    // nulls. Events are staged into 4 ts-range chunks replayed one
    // file/trigger (sequential writes → monotone file mod-times → monotone
    // watermark; a hash chunking would replay out of time order and the
    // watermark would drop whole chunks as late). Rows whose bound the
    // final watermark never passes (cts > max(ts) − 2h: 1h delay + 30min
    // bound + margin) can never emit as unmatched, so both the query and
    // the oracle exclude them — the remaining surface is batch-equivalent.
    "q_stream_join_outer" -> ((s, dir) => {
      // staging harness, not the measured operator (pre-paid by stageAll
      // in the bench; written once per process either way)
      val chunks = stageOuterJoinChunks(s, dir)
      // The unmatched rows of the LAST chunk only surface in the trailing
      // no-data microbatch AvailableNow runs after the source drains —
      // that batch exists only while noDataMicroBatches is enabled
      // (default true): pinned for the run via withNoDataMicroBatches.
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      def src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
        .withWatermark("cts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      // 2 shuffle partitions, not 4: an outer stream-stream join allocates
      // FOUR state stores per partition and replays 3 data + trailing
      // no-data batches - at this volume store init dominates, and 8
      // stores halve it again vs 16 (sized to throughput on a cluster).
      val run = withNoDataMicroBatches(s) {
        runToMemory(s, joined.select(col("cu"), col("cts"), col("pts")),
          "t_stream_join_outer", "append", partitions = 2)
      }
      // Watermarks are per-SIDE maxima of the filtered streams (not the
      // global event max — the last click itself can't age out under a
      // watermark defined by clicks), and eviction uses their min.
      val mx = Tables.raw(s, dir, "events")
        .agg(least(
          max(when(col("event_type") === "click", col("ts"))),
          max(when(col("event_type") === "purchase", col("ts")))).as("m"))
      run.crossJoin(broadcast(mx))
        .filter(col("cts") <= col("m") - expr("INTERVAL 2 HOURS"))
        .groupBy(col("cu").as("user_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("pts")).as("n_matched"))
        .orderBy("user_id")
    }),

    // Custom stateful streaming: flatMapGroupsWithState tracking per-user
    // (event count, first/last event time in µs, 30-min-gap session count).
    // State merges correctly across microbatches (the session counter keeps
    // the previous batch's last timestamp as the boundary), so the result
    // is batch-equivalent regardless of how the source is chunked.
    "q_stream_stateful" -> ((s, dir) => {
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tsus"))
        .as[(Long, Long)]
      val updated = stream.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          case (user, rows, state) =>
            val gapUs = 30L * 60 * 1000000
            val ts = rows.map(_._2).toArray.sorted
            val (pn, pFirst, pLast, pSess) =
              state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue, 0L))
            var sess = pSess
            var last = pLast
            for (t <- ts) {
              if (last == Long.MinValue || t - last >= gapUs) sess += 1
              last = t
            }
            val next = (pn + ts.length, math.min(pFirst, ts.headOption.getOrElse(pFirst)),
              last, sess)
            state.update(next)
            Iterator((user, next._1, next._2, next._3, next._4))
        }
      val run = runToMemory(s, updated.toDF(
        "user_id", "n_events", "first_us", "last_us", "n_sessions"), "t_stream_stateful", "update")
      // update-mode memory sink appends one row per (user, batch); keep the
      // final state row per user (max event count).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      run.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n_events"),
          timestamp_micros(col("first_us")).as("first_ts"),
          timestamp_micros(col("last_us")).as("last_ts"), col("n_sessions"))
        .orderBy("user_id")
    }),

    // Stream-STATIC join — the enrichment shape (streaming facts against a
    // batch dimension): the static side needs no watermark and no state
    // store; each microbatch plans a fresh join against the dim, which
    // Catalyst broadcasts (dim << stream). At 100 TB the static side is
    // the bucketed/broadcast dimension table of the batch surface, reused
    // unchanged by the stream.
    "q_stream_static_join" -> ((s, dir) => {
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
      val agg = purchases.join(dim, col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      runToMemory(s, agg, "t_stream_static_join", "complete")
        .orderBy("c_mktsegment")
    }),

    // Multi-microbatch chunked replay — the missing "does state merge
    // across batches" slice of the oracled set (r3 verdict): events are
    // staged into 4 hash-partitioned chunk files (shared with
    // q_stream_proctime — same schema, same split, one staging write) and
    // replayed with maxFilesPerTrigger=1, so AvailableNow runs >= 4
    // microbatches and the running per-type aggregate must carry state
    // across every one. The update-mode memory sink keeps one row per
    // (type, batch-that-changed-it): the final row per type must equal
    // the batch aggregate (DuckDB-verified), and `multi_batch` pins that
    // the type was actually updated across >= 2 microbatches — chunked
    // execution, not one big batch.
    "q_stream_microbatch" -> ((s, dir) => {
      val chunks = stageHashChunks(s, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      val run = runToMemory(s, agg, "t_stream_microbatch", "update", partitions = 4)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n").desc)
      run
        .withColumn("rn", row_number().over(w))
        .withColumn("n_batches", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n"), col("val_sum"),
          (col("n_batches") >= 2).as("multi_batch"))
        .orderBy("event_type")
    }),

    // Real processing-time trigger — the family AvailableNow doesn't cover
    // (r4 verdict): the query runs on Trigger.ProcessingTime, firing on a
    // wall-clock cadence like a production continuous job, bounded by an
    // explicit drain condition instead of AvailableNow's built-in stop.
    // Events are staged into 4 chunk files replayed 1 file/trigger, so the
    // run spans >= 4 real timed microbatches; the driver loop polls
    // progress until the source has drained (cumulative numInputRows ==
    // staged count — progress events are emitted AFTER a batch commits,
    // so the sink table is final the moment the sum closes; waiting for a
    // trailing empty batch would burn one extra trigger cycle for
    // nothing), then stops the query — deadline-bounded, fail-visible on
    // timeout.
    // Complete-mode memory sink: the final table is the full aggregate,
    // so the batch SQL oracle applies regardless of batch boundaries.
    "q_stream_proctime" -> ((s, dir) => {
      val chunks = stageHashChunks(s, dir)
      val totalRows = Tables.parquet(s, chunks).count() // drain target (scalar)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = agg.writeStream.format("memory").queryName("t_stream_proctime")
          .outputMode("complete")
          .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        var drained = false
        while (!drained && System.nanoTime() < deadline) {
          Thread.sleep(100)
          drained = q.recentProgress.map(_.numInputRows).sum >= totalRows
        }
        q.stop()
        q.awaitTermination()
        require(drained, s"processing-time stream did not drain $totalRows rows in 120s")
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      s.table("t_stream_proctime").orderBy("event_type")
    }),

    // foreachBatch incremental upsert — the streaming MERGE sink: events
    // replay as >= 4 real microbatches (hash-chunked files, 1 per trigger,
    // so batches arrive in NO time order) and each batch's latest-per-user
    // rows merge into a parquet state directory, latest (ts, event_id)
    // winning. The merge is commutative across batch order, so the final
    // state must equal the batch latest-per-user compaction — which is
    // exactly the oracle. This is the API surface (foreachBatch + an
    // external idempotent sink) a production pipeline uses when the target
    // is a table format or KV store rather than a streaming-native sink;
    // at scale the overwrite becomes the store's transactional MERGE and
    // per-batch work stays proportional to the batch, not the state.
    "q_stream_upsert" -> ((s, dir) => {
      val base = ProcessCache.path("stream_upsert", dir)
      val (state, ck) = (base + "_state", base + "_ck")
      val chunks = stageUpsertChunks(s, dir)
      // state + checkpoint are RUN state (deleted each run so the stream
      // re-processes); only the replay chunks are staged once
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: DataFrame): DataFrame =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "ts", "event_id", "value")
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          // compact the batch first so the state merge unions K rows per
          // user, then re-rank: per-batch cost ∝ batch + state size;
          // applyBatchIdempotent skips a re-delivered batchId (the MERGE
          // here is idempotent per user anyway, but the guard makes the
          // contract explicit and uniform with q_stream_anomaly)
          applyBatchIdempotent(state, batchId)(latest(
            cdcState(batch.sparkSession, state)
              .map(_.unionByName(latest(batch)))
              .getOrElse(latest(batch))))
          ()
        }.start()
      q.awaitTermination()
      graft.sources.VersionedGraphStore.load(s, state)
        .select(col("user_id"), col("value"), col("ts").as("updated_at"))
        .orderBy("user_id")
    }),

    // TIME TRAVEL over CDC state — the payoff of the commit-log MERGE
    // discipline (r7 VERDICT #5): the same latest-wins upsert replays
    // over 4 chunks split by event_id % 4 in PINNED order 0,1,2,3 (one
    // commit-log version per microbatch, batchId in the manifest), and
    // after a LATER merge has committed (version 4 = all four chunks)
    // the query reads version 3 — the served table exactly as of batch
    // 2's merge. Both batch membership and order are plain SQL, so the
    // oracle recomputes the prefix state directly: latest row per user
    // over events with event_id % 4 < 3. At scale this is the "query the
    // table as of yesterday's load" read every lakehouse store offers,
    // at the cost of one manifest lookup — no state replay.
    "q_stream_upsert_history" -> ((s, dir) => {
      import graft.sources.VersionedGraphStore
      val chunks = stageModSeqChunks(s, dir)
      val base = ProcessCache.path("stream_cdchist", dir)
      val (state, ck) = (base + "_state", base + "_ck")
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: DataFrame): DataFrame =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "ts", "event_id", "value")
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          applyBatchIdempotent(state, batchId)(latest(
            cdcState(batch.sparkSession, state)
              .map(_.unionByName(latest(batch)))
              .getOrElse(latest(batch))))
          ()
        }.start()
      q.awaitTermination()
      val vs = VersionedGraphStore.versions(state)
      // 4 data chunks → versions 1..4 (batchIds 0..3 in replay order);
      // fail loudly if the replay didn't produce the expected history
      require(vs.contains(3L) && vs.max >= 4L,
        s"expected >= 4 committed CDC versions incl. v3, got $vs")
      require(VersionedGraphStore.metaAt(state, 3L).contains("2"),
        "version 3 must carry batchId 2 in its manifest")
      VersionedGraphStore.loadAt(s, state, 3L)
        .select(col("user_id"), col("value"), col("ts").as("updated_at"))
        .orderBy("user_id")
    }),

    // DELETE-BEARING STREAMING DEDUP MAINTENANCE — the near-dup twin of
    // q_stream_graph_cc_del, completing the streaming half of the
    // retraction contract: the stream carries DOCUMENT CHANGES
    // (doc_id, text, op); each microbatch retires op='D' documents from
    // the persisted LSH state by DELTA-SIZED ANTI-JOINS (signatures AND
    // stored pairs — never a re-verify, the q_dedup_incremental_del
    // algebra) and ingests op='I' documents against the SURVIVING
    // signatures: new-batch band signatures, collision candidates vs
    // state ∪ self, exact Jaccard verify on collision pairs only.
    // Candidate text is fetched from the corpus store by id (the
    // realistic shape — signatures are the streamed state, text is not).
    // Both state tables (band signatures, verified pairs) commit
    // idempotently per batchId. Incremental candidate discovery is
    // EXHAUSTIVE across batches: a pair's later-ingested member always
    // finds the earlier member's signature in state, and band signatures
    // don't depend on batching — so the final pair set equals the batch
    // maintainer's, and the oracle is SHARED verbatim with
    // q_dedup_incremental_del (the full live-corpus Jaccard recompute).
    "q_stream_dedup_del" -> ((s, dir) => {
      import graft.operators.Dedup
      val chunks = stageDedupDelChunks(s, dir)
      val (sigState, pairState, ck) =
        (chunks + "_sstate", chunks + "_pstate", chunks + "_ck")
      Seq(sigState, pairState, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("op", StringType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          val ss = batch.sparkSession
          import ss.implicits._
          val b = batch.localCheckpoint(true) // feeds ins + takedown ids
          val ins = b.filter(col("op") === "I").select("doc_id", "text")
          val delIds = b.filter(col("op") === "D").select("doc_id")
          val sigsLive = cdcState(ss, sigState)
            .getOrElse(Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "sig"))
            .join(delIds, Seq("doc_id"), "left_anti")
          val pairsLive = cdcState(ss, pairState)
            .getOrElse(Seq.empty[(Long, Long, Double)].toDF("da", "db", "jaccard"))
            .join(delIds.select(col("doc_id").as("da")), Seq("da"), "left_anti")
            .join(delIds.select(col("doc_id").as("db")), Seq("db"), "left_anti")
          val nb = Dedup.bandSignatures(ins).localCheckpoint(true)
          val vsOld = nb.as("n").join(sigsLive.as("o"),
              col("n.band") === col("o.band") && col("n.sig") === col("o.sig"))
            .select(least(col("n.doc_id"), col("o.doc_id")).as("da"),
              greatest(col("n.doc_id"), col("o.doc_id")).as("db"))
          val vsNew = nb.as("x").join(nb.as("y"),
              col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
              col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          val cand = vsOld.union(vsNew).distinct().localCheckpoint(true)
          val candDocs = cand.select(col("da").as("doc_id"))
            .union(cand.select(col("db").as("doc_id"))).distinct()
          // Tables.raw, not Tables(): the candidate-text fetch's first
          // operator is the doc_id-keyed semi-join shuffle, so the
          // fan-out repartition Tables() prepends re-shuffles the WHOLE
          // corpus table once per microbatch for nothing (r15; guide
          // §2.4 — the semi-join exchange immediately re-distributes).
          val sh = Dedup.shingles(Tables.raw(ss, dir, "documents")
            .join(candDocs, Seq("doc_id"), "left_semi")).localCheckpoint(true)
          val newPairs = Dedup.jaccardPairs(sh, Dedup.lshThreshold,
            Some(cand), preMaterialized = true)
          applyBatchIdempotent(sigState, batchId)(sigsLive.unionByName(nb))
          applyBatchIdempotent(pairState, batchId)(
            pairsLive.unionByName(newPairs))
          ()
        }.start()
      q.awaitTermination()
      val vs = graft.sources.VersionedGraphStore.versions(pairState)
      require(vs.size >= 4,
        s"expected >= 4 committed pair-state versions, got $vs")
      graft.sources.VersionedGraphStore.load(s, pairState).orderBy("da", "db")
    }),

    // STREAMING ANN-INDEX INGEST + TAKEDOWN (r10 VERDICT #7) — the
    // similarity-family streaming twin completing the contract for the
    // third index-bearing family (CC and dedup have theirs): the stream
    // carries VECTOR CHANGES (vec_id, op); chunks 1–3 ingest the corpus,
    // chunk 4 retires the % 9 == 2 band. Per microbatch: op='D' ids
    // prune the persisted postings by ONE delta-sized anti-join (the
    // q_sim_ivf_del algebra — no re-clustering, no rescans); op='I' ids
    // fetch their vectors from the corpus store and take ONE
    // nearest-centroid assignment against the FROZEN offline-trained
    // centroids ([[graft.operators.Similarity.assignFrozen]] — the same
    // spelling as the batch Lloyd assignment, so a streamed vector lands
    // in exactly the cell the batch index gives it). Postings commit
    // idempotently per batchId. Readout answers the standard probe set
    // from the maintained postings via the SHARED
    // [[graft.operators.Similarity.ivfReadout]]; the oracle is the batch
    // takedown's, verbatim — a vector ingested into the wrong cell, a
    // leaked retired posting, or a batching-dependent assignment all
    // flip the hash.
    "q_stream_sim_del" -> ((s, dir) => {
      import graft.operators.Similarity
      val chunks = stageSimDelChunks(s, dir)
      val (postState, ck) = (chunks + "_pstate", chunks + "_ck")
      Seq(postState, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("vec_id", LongType), StructField("op", StringType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          val ss = batch.sparkSession
          import ss.implicits._
          val b = batch.localCheckpoint(true) // feeds ingest + takedown
          val insIds = b.filter(col("op") === "I").select("vec_id")
          val delIds = b.filter(col("op") === "D").select("vec_id")
          val live = cdcState(ss, postState)
            .getOrElse(Seq.empty[(Long, Long)].toDF("vec_id", "cid"))
            .join(delIds, Seq("vec_id"), "left_anti")
          val ingested = Similarity.assignFrozen(ss, dir,
            Tables(ss, dir, "embeddings")
              .join(insIds, Seq("vec_id"), "left_semi"))
          applyBatchIdempotent(postState, batchId)(
            live.unionByName(ingested))
          ()
        }.start()
      q.awaitTermination()
      val vs = graft.sources.VersionedGraphStore.versions(postState)
      require(vs.size >= 4,
        s"expected >= 4 committed postings versions, got $vs")
      // fixture liveness: the takedown batch must have pruned postings
      // the ingest batches had committed (state as of batch 3 holds the
      // retired band; the final state must not)
      val preTake = graft.sources.VersionedGraphStore
        .loadAt(s, postState, 3L)
        .filter(Similarity.ivfRetired(col("vec_id")))
      require(preTake.limit(1).count() > 0,
        "fixture no longer demonstrates a streaming takedown " +
          "(no retired vector held a posting before batch 4)")
      val postings = graft.sources.VersionedGraphStore.load(s, postState)
      require(postings.filter(Similarity.ivfRetired(col("vec_id")))
          .limit(1).count() == 0,
        "retired postings leaked through the takedown batch")
      Similarity.ivfReadout(s, dir, postings)
    }),

    // STREAMING SKETCH-RETRACTION FOLD (r10 VERDICT #8) — the
    // q_agg_sketch_del DETECT+REBUILD contract applied per microbatch,
    // pinning the retraction spectrum's rebuild-only end in streaming
    // form. State is the sketch itself (KMV bottom-k samples per group +
    // the bitmap/exact-count row, one versioned table) PLUS the live id
    // set (the one state a rebuild-on-delete maintainer genuinely needs —
    // a lossy sketch cannot regenerate survivors). Per microbatch,
    // ROUTED on batch content:
    //  - insert-only batches take the MERGEABLE path, batch-sized work:
    //    KMV merge = bottom-k of (stored samples ∪ batch hashes) — exact
    //    by KMV mergeability — bitmap |= batch bits, counts add;
    //  - a delete-bearing batch DETECTS against the STORED state only
    //    (deleted hash inside a stored sample / deleted bucket bit set —
    //    both hazards require()d live, the batch twin's spelling), then
    //    REBUILDS both halves from the surviving live ids in one pass —
    //    the one honest path; naive subtraction corrupts exactly here.
    // Readout reads the final sketch state through the shared
    // [[graft.operators.QualityOps.sketchReadout]]; the oracle is the
    // batch contract's, verbatim — a wrong merge in ANY insert batch or
    // a subtraction shortcut in the delete batch flips the hash.
    "q_stream_sketch_del" -> ((s, dir) => {
      import graft.operators.QualityOps
      val k = QualityOps.sketchK
      val chunks = stageSketchDelChunks(s, dir)
      val (liveState, skState, ck) =
        (chunks + "_lstate", chunks + "_kstate", chunks + "_ck")
      Seq(liveState, skState, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("op", StringType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          val ss = batch.sparkSession
          import ss.implicits._
          val b = batch.localCheckpoint(true)
          val ins = b.filter(col("op") === "I").select("id")
          val del = b.filter(col("op") === "D").select("id")
          val live0 = cdcState(ss, liveState)
            .getOrElse(Seq.empty[Long].toDF("id"))
          val liveNew = live0.unionByName(ins)
            .join(del, Seq("id"), "left_anti").localCheckpoint(true)
          // split the stored sketch into its two halves (samples carry h,
          // the bitmap/count row carries h = null)
          val st0 = cdcState(ss, skState)
          def samples0 = st0.map(_.filter(col("h").isNotNull)
            .select(col("g"), col("h")))
            .getOrElse(Seq.empty[(Int, Long)].toDF("g", "h"))
          def agg0 = st0.map(_.filter(col("h").isNull)
            .select(col("g"), col("bitmap"), col("n_exact")))
            .getOrElse(Seq.empty[(Int, Long, Long)].toDF("g", "bitmap", "n_exact"))
          val delRows = QualityOps.sketchRows(del).localCheckpoint(true)
          val (samples, agg) = if (delRows.isEmpty) {
            // mergeable insert path — batch-sized work, never a rescan
            val insRows = QualityOps.sketchRows(ins)
            val samp = QualityOps.thetaBottomK(samples0
              .unionByName(insRows.select(col("g"), col("h")))
              .select(col("g").as("a"), col("h")), k)
              .select(col("a").as("g"), col("h"))
            val ag = agg0.unionByName(QualityOps.sketchAgg(insRows))
              .groupBy("g")
              .agg(expr("bit_or(bitmap)").as("bitmap"),
                sum("n_exact").as("n_exact"))
            (samp, ag)
          } else {
            // DETECT against the STORED state only (state-sized), both
            // hazards required live — then REBUILD from survivors
            val kmvHits = samples0
              .join(delRows.select("g", "h"), Seq("g", "h"), "left_semi")
              .count()
            require(kmvHits > 0,
              "takedown batch no longer demonstrates KMV " +
                "non-subtractability (no deleted hash inside a stored sample)")
            val bitHits = delRows.join(agg0, Seq("g"))
              .filter(expr("shiftright(bitmap, b) % 2 != 0")).count()
            require(bitHits > 0,
              "takedown batch no longer demonstrates bitmap " +
                "non-subtractability (no deleted bucket bit set in the state)")
            val survRows = QualityOps.sketchRows(liveNew)
              .localCheckpoint(true)
            val samp = QualityOps.thetaBottomK(
              survRows.select(col("g").as("a"), col("h")), k)
              .select(col("a").as("g"), col("h"))
            (samp, QualityOps.sketchAgg(survRows))
          }
          applyBatchIdempotent(liveState, batchId)(liveNew)
          applyBatchIdempotent(skState, batchId)(
            samples.select(col("g"), col("h"),
              lit(null).cast("long").as("bitmap"),
              lit(null).cast("long").as("n_exact"))
            .unionByName(agg.select(col("g"),
              lit(null).cast("long").as("h"),
              col("bitmap"), col("n_exact"))))
          ()
        }.start()
      q.awaitTermination()
      val vs = graft.sources.VersionedGraphStore.versions(skState)
      require(vs.size >= 4,
        s"expected >= 4 committed sketch-state versions, got $vs")
      val fin = graft.sources.VersionedGraphStore.load(s, skState)
      QualityOps.sketchReadout(
        fin.filter(col("h").isNotNull).select(col("g"), col("h")),
        fin.filter(col("h").isNull)
          .select(col("g"), col("bitmap"), col("n_exact")), k)
    }),

    // DELETE-BEARING STREAMING CC MAINTENANCE (r9 VERDICT #8) — the
    // takedown twin of q_stream_graph_cc: the stream carries EDGE CHANGE
    // rows (src, dst, op), chunks 1–3 insert the full hierarchy graph,
    // chunk 4 is a takedown batch (drop every region-4 nation↔region
    // edge — splitting that component and VANISHING the region node —
    // plus two glue inserts). foreachBatch ROUTES on the batch's
    // content: insert-only batches take the contracted-component
    // maintainer; a delete-bearing batch routes through
    // [[graft.plans.GraphOps.incrementalConnectedComponentsDelete]]
    // (scoped recompute of the delete-affected components + glue). The
    // surviving-edge set rides along as its OWN versioned table — the
    // one state a delete-capable maintainer genuinely needs beyond the
    // labels (reachability is undecidable from labels alone) — both
    // stores committed idempotently per batchId. Oracle: the full
    // recursive CC over the post-takedown graph, SHARED verbatim with
    // q_graph_cc_incremental_del (the batch maintainer of the same
    // diff), so the stream fold and the batch maintainer are pinned to
    // the same truth.
    "q_stream_graph_cc_del" -> ((s, dir) => {
      import graft.plans.GraphOps
      val chunks = stageGraphCcDelChunks(s, dir)
      val (compState, edgeState, ck) =
        (chunks + "_cstate", chunks + "_estate", chunks + "_ck")
      Seq(compState, edgeState, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType),
        StructField("op", StringType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          val ss = batch.sparkSession
          val b = batch.localCheckpoint(true) // feeds ins, del, and routing
          val ins = b.filter(col("op") === "I").select("src", "dst")
          val del = b.filter(col("op") === "D").select("src", "dst")
          val hasDel = del.limit(1).count() > 0
          val newEdges = (cdcState(ss, edgeState) match {
            case None => ins
            case Some(pe) => pe.unionByName(ins)
              .join(del.select(col("src").as("xs"), col("dst").as("xd")),
                col("src") === col("xs") && col("dst") === col("xd"), "left_anti")
          }).distinct().localCheckpoint(true)
          val comps = (cdcState(ss, compState), hasDel) match {
            case (None, _) => GraphOps.connectedComponents(ss, newEdges)
            case (Some(prev), false) =>
              GraphOps.incrementalConnectedComponents(ss, prev, ins)
            case (Some(prev), true) =>
              GraphOps.incrementalConnectedComponentsDelete(
                ss, newEdges, prev, ins, del)
          }
          applyBatchIdempotent(compState, batchId)(comps)
          applyBatchIdempotent(edgeState, batchId)(newEdges)
          ()
        }.start()
      q.awaitTermination()
      val vs = graft.sources.VersionedGraphStore.versions(compState)
      require(vs.size >= 4,
        s"expected >= 4 committed component-state versions, got $vs")
      graft.sources.VersionedGraphStore.load(s, compState)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")
    }),

    // STREAMING GRAPH-ANALYTICS MAINTENANCE — the end-to-end join of the
    // CDC commit-log discipline with the incremental graph family: the
    // hierarchy graph's DIRECTED edges replay as 4 hash-chunked
    // microbatches (no meaningful order — CC maintenance is commutative,
    // each state is the exact components of the edges applied so far),
    // and every batch advances the component state via
    // [[graft.plans.GraphOps.incrementalConnectedComponents]] — per-batch
    // work ∝ batch size + touched components, NEVER the accumulated
    // graph, which is what lets a 100 TB edge stream maintain components
    // without re-running CC per trigger. Each merged state commits as a
    // VersionedGraphStore version (idempotent per batchId, time travel
    // over component history for free). The oracle is q_graph_cc's full
    // recursive CTE over the COMPLETE graph: the hash compare proves
    // fold(incremental, batches) == full(all edges).
    "q_stream_graph_cc" -> ((s, dir) => {
      import graft.plans.GraphOps
      val base = ProcessCache.path("stream_graphcc", dir)
      val chunks = ProcessCache.once("stream_graphcc", s"${dir}_chunks") { out =>
        val n = Tables.raw(s, dir, "nation")
        val c = Tables.raw(s, dir, "customer")
        n.select((col("n_nationkey") + 10).cast("long").as("src"),
            col("n_regionkey").cast("long").as("dst"))
          .union(c.select((col("c_custkey") + 100).cast("long").as("src"),
            (col("c_nationkey") + 10).cast("long").as("dst")))
          .repartition(4, col("src"))
          .write.mode("overwrite").parquet(out)
      }
      val (state, ck) = (base + "_state", base + "_ck")
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("src", LongType), StructField("dst", LongType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          val ss = batch.sparkSession
          // symmetrize per batch (batches partition the directed edges,
          // so the union of per-batch symmetrizations is the symmetrized
          // graph); compact to the batch's distinct edges first
          val sym = batch.union(
              batch.select(col("dst").as("src"), col("src").as("dst")))
            .distinct().localCheckpoint(true)
          applyBatchIdempotent(state, batchId)(
            cdcState(ss, state) match {
              case None       => GraphOps.connectedComponents(ss, sym)
              case Some(prev) => GraphOps.incrementalConnectedComponents(ss, prev, sym)
            })
          ()
        }.start()
      q.awaitTermination()
      // 4 data chunks → >= 4 committed component-state versions (a
      // no-data trailing batch may add one more); fail loudly if the
      // replay didn't actually maintain state across >= 4 microbatches
      val vs = graft.sources.VersionedGraphStore.versions(state)
      require(vs.size >= 4,
        s"expected >= 4 committed component-state versions, got $vs")
      graft.sources.VersionedGraphStore.load(s, state)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")
    }),

    // Session windows (30-minute gap) per user — batch session_window (the
    // streaming variant requires append mode + watermark, which withholds
    // the final unexpired sessions, so batch is the oracle-comparable form;
    // the same plan runs under readStream in update mode).
    "q_session_window" -> ((s, dir) => {
      Tables.raw(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("val_sum"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n_events"), col("val_sum"))
        .orderBy("user_id", "session_start")
    }),

    // Streaming metric monitoring — q_events_anomaly run INCREMENTALLY:
    // each microbatch folds its hourly (n, Σcents) moments into a parquet
    // state table by ADDITIVE merge (union + re-sum — commutative and
    // associative, so batch order is irrelevant and per-batch cost is
    // ∝ batch + state grid, never the history); after the replay drains,
    // the 2σ flags are computed from the merged state with the SAME
    // single-sourced arithmetic as the batch query, and the oracle is the
    // batch query's SQL verbatim — the hash compare IS the proof that
    // incremental monitoring converges to the batch answer. This is the
    // always-on shape: at scale the state table is the monitoring store
    // and each trigger touches one microbatch + a #types×#hours grid.
    "q_stream_anomaly" -> ((s, dir) => {
      val chunks = stageAnomalyChunks(s, dir)
      val base = ProcessCache.path("stream_anom", dir)
      val (state, ck) = (base + "_state", base + "_ck")
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_type", StringType), StructField("ts", TimestampType),
        StructField("value", DoubleType)))
      def moments(df: DataFrame): DataFrame = df
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sv"))
      def remerge(df: DataFrame): DataFrame = df
        .groupBy("event_type", "hr")
        .agg(sum("n").as("n"), sum("sv").as("sv"))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          // the additive union+re-sum would double-count a re-delivered
          // batch; applyBatchIdempotent makes the fold exactly-once per
          // batchId (r6 ADVICE)
          applyBatchIdempotent(state, batchId)(remerge(
            cdcState(batch.sparkSession, state)
              .map(_.unionByName(moments(batch)))
              .getOrElse(moments(batch))))
          ()
        }.start()
      q.awaitTermination()
      graft.operators.EventAnalytics.anomalyFlags(
        graft.sources.VersionedGraphStore.load(s, state).localCheckpoint(true))
    }),

    // TRUE STREAMING session windows — the operator q_session_window
    // deliberately runs in batch (append mode withholds unexpired
    // sessions): here the withholding IS the point. Events replay over
    // the in-order ts-tercile chunks with a 1 h watermark; sessions merge
    // across microbatches in the state store and append-emit only once
    // the watermark passes their end. Both the query and the oracle then
    // restrict to the WATERMARK-CLOSED surface (session_end < final
    // watermark = max ts − 1 h) — the q_stream_join_outer discipline —
    // so the emitted set is batch-equivalent and exactly oracled.
    "q_stream_session" -> ((s, dir) => {
      val chunks = stageOuterJoinChunks(s, dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      val agg = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
      // the trailing no-data microbatch flushes the last closed sessions
      val run = withNoDataMicroBatches(s) {
        runToMemory(s, agg, "t_stream_session", "append", partitions = 4)
      }
      val mx = Tables.raw(s, dir, "events")
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("wm"))
      run.crossJoin(broadcast(mx))
        .filter(col("session_end") < col("wm"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // DELETE-aware changelog apply — the CDC slice q_stream_upsert's
    // latest-wins MERGE doesn't cover: each record carries an op code
    // (derived deterministically: value < 25 ⇒ D, else U — 62/150 fixture
    // users end deleted, a real mix), the per-user LATEST op wins across
    // arbitrarily-ordered microbatches, and a final D removes the row
    // from the served table (tombstone semantics). Same idempotent
    // foreachBatch MERGE shape and shared 4-chunk staging as upsert; the
    // final table is batch-equivalent (latest row per user, D filtered),
    // which is exactly the oracle.
    "q_stream_changelog" -> ((s, dir) => {
      val chunks = stageUpsertChunks(s, dir)
      val base = ProcessCache.path("stream_cdcdel", dir)
      val (state, ck) = (base + "_state", base + "_ck")
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: DataFrame): DataFrame =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "ts", "event_id", "value", "op")
      def withOp(df: DataFrame): DataFrame =
        df.withColumn("op", when(col("value") < 25.0, "D").otherwise("U"))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          applyBatchIdempotent(state, batchId)(latest(
            cdcState(batch.sparkSession, state)
              .map(_.unionByName(latest(withOp(batch))))
              .getOrElse(latest(withOp(batch)))))
          ()
        }.start()
      q.awaitTermination()
      graft.sources.VersionedGraphStore.load(s, state)
        .filter(col("op") === "U") // tombstoned users are not served
        .select(col("user_id"), col("value"), col("ts").as("updated_at"))
        .orderBy("user_id")
    }),

    // Incremental QUANTILE monitoring — the sketch member of the
    // streaming-state family (anomaly folds moments; this folds the
    // bottom-k KMV sample of [[graft.functions.BottomKQuantileAgg]]):
    // each microbatch sketches its rows per event type and re-sketches
    // the union with the parquet state — the KMV closure property makes
    // the folded sample BIT-IDENTICAL to one batch pass over all rows,
    // so the final p25..p90 readout is oracled exactly (not "within ε"),
    // with NO pre-known value bounds. State is ≤ k pairs per type
    // regardless of history; the fold is idempotent per batchId. Replays
    // the shared 4-way hash chunks (same staging as microbatch/proctime).
    "q_stream_quantile" -> ((s, dir) => {
      import graft.functions.QuantileSketch
      val chunks = stageHashChunks(s, dir)
      val base = ProcessCache.path("stream_qsk", dir)
      val (state, ck) = (base + "_state", base + "_ck")
      Seq(state, ck).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val k = 128
      def resketch(pairs: DataFrame): DataFrame = pairs
        .groupBy("event_type").agg(QuantileSketch.sketch(col("hv"), k).as("sk"))
        .select(col("event_type"), explode(col("sk")).as("hv"))
      def sampleOf(df: DataFrame): DataFrame = resketch(df
        .filter(col("value").isNotNull)
        .select(col("event_type"), QuantileSketch.pair(col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long")).as("hv")))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(chunks)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.BenchContext.tagStreamThread(batch.sparkSession)
          applyBatchIdempotent(state, batchId)(resketch(
            cdcState(batch.sparkSession, state)
              .map(_.unionByName(sampleOf(batch)))
              .getOrElse(sampleOf(batch))))
          ()
        }.start()
      q.awaitTermination()
      graft.sources.VersionedGraphStore.load(s, state)
        .groupBy("event_type").agg(QuantileSketch.sketch(col("hv"), k).as("sk"))
        .select(col("event_type"),
          QuantileSketch.quantile(col("sk"), 1, 4).as("p25_cents"),
          QuantileSketch.quantile(col("sk"), 1, 2).as("p50_cents"),
          QuantileSketch.quantile(col("sk"), 3, 4).as("p75_cents"),
          QuantileSketch.quantile(col("sk"), 9, 10).as("p90_cents"))
        .orderBy("event_type")
    })
  )

  def oracles: Map[String, String] = Map(
    // Window start = epoch-aligned 300s bucket, built with naive-timestamp
    // arithmetic (no epoch()/to_timestamp, which are timezone-sensitive).
    "q_stream_tumbling" ->
      """SELECT TIMESTAMP '2024-01-01'
           + (date_diff('second', TIMESTAMP '2024-01-01', ts) // 300) * 300
             * INTERVAL '1 second' AS win_start,
         event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q_stream_sliding" ->
      """WITH offs(o) AS (VALUES (0), (300)),
         b AS (SELECT TIMESTAMP '2023-12-01'
             + ((date_diff('second', TIMESTAMP '2023-12-01', ts) - o) // 600) * 600
               * INTERVAL '1 second' + o * INTERVAL '1 second' AS win_start,
             value
           FROM events CROSS JOIN offs)
         SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM b GROUP BY 1 ORDER BY win_start""",
    "q_stream_dedup" ->
      "SELECT COUNT(DISTINCT event_id) AS n_distinct_ids FROM events",
    // Replay order 2, 3, 1, 4 over ntile(4) quartiles of the
    // (ts, event_id) total order: every quartile-1 row sits far below both
    // candidate late-filter watermarks (previous-batch and current) when
    // it arrives, so the surviving surface is exactly quartiles 2–4. The
    // spec guards the preconditions (max(q1) + 1 h < max(q2)) loudly.
    "q_stream_dedup_wm" ->
      """WITH b AS (SELECT event_id,
             ntile(4) OVER (ORDER BY ts, event_id) AS q FROM events)
         SELECT COUNT(DISTINCT event_id) AS n_distinct_ids
         FROM b WHERE q <> 1""",
    // Same surviving surface, aggregated into epoch-aligned 300 s windows,
    // restricted to windows the FINAL watermark (global on-time max − 1 h)
    // closed — the append-mode emission rule.
    "q_stream_late_agg" ->
      """WITH b AS (SELECT ts, value,
             ntile(4) OVER (ORDER BY ts, event_id) AS q FROM events),
         surv AS (SELECT ts, value FROM b WHERE q <> 1),
         wmf AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM surv),
         win AS (SELECT TIMESTAMP '2024-01-01'
             + (date_diff('second', TIMESTAMP '2024-01-01', ts) // 300) * 300
               * INTERVAL '1 second' AS win_start,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
           FROM surv GROUP BY 1)
         SELECT win_start, n, val_sum FROM win
         WHERE win_start + INTERVAL 300 SECOND <= (SELECT w FROM wmf)
         ORDER BY win_start""",
    "q_stream_sink" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM events WHERE event_type IN ('purchase', 'signup')
         GROUP BY event_type ORDER BY event_type""",
    "q_stream_static_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM events JOIN customer ON user_id = c_custkey
         WHERE event_type = 'purchase'
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // Totals are fully DuckDB-recomputable; multi_batch is the in-query
    // self-check that >= 2 microbatches updated each type (the oracle pins
    // TRUE — a single-batch execution would emit exactly one sink row per
    // type and fail the hash).
    "q_stream_microbatch" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum,
         TRUE AS multi_batch
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Batch-order-independent merge => final state == batch compaction.
    // Batch-equivalence verbatim: the incremental state merge must land
    // exactly where the batch anomaly query lands.
    "q_stream_anomaly" -> graft.operators.EventAnalytics.anomalySql,
    // The incremental fold converges to the one-pass bottom-k sample (KMV
    // closure), so the oracle IS the batch sketch: one ROW_NUMBER over the
    // portable rank hash per type, nearest-rank quantiles in pure integer
    // arithmetic — identical to q_agg_quantile_sketch's spelling.
    "q_stream_quantile" -> {
      val rank = (num: Int, den: Int) => s"($num * m + ${den - 1}) // $den"
      s"""WITH h AS (SELECT event_type,
             CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS v,
             ${graft.functions.QuantileSketch.hashSql("event_id")} AS hh
           FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, v, ROW_NUMBER() OVER (
                 PARTITION BY event_type ORDER BY hh, v) AS rn FROM h),
         samp AS (SELECT event_type, v FROM r WHERE rn <= 128),
         o AS (SELECT event_type, v, ROW_NUMBER() OVER (
                 PARTITION BY event_type ORDER BY v) AS vr,
               COUNT(*) OVER (PARTITION BY event_type) AS m FROM samp)
         SELECT event_type,
           MAX(CASE WHEN vr = ${rank(1, 4)} THEN v END) AS p25_cents,
           MAX(CASE WHEN vr = ${rank(1, 2)} THEN v END) AS p50_cents,
           MAX(CASE WHEN vr = ${rank(3, 4)} THEN v END) AS p75_cents,
           MAX(CASE WHEN vr = ${rank(9, 10)} THEN v END) AS p90_cents
         FROM o GROUP BY event_type ORDER BY event_type"""
    },
    "q_stream_upsert" ->
      """SELECT user_id, value, ts AS updated_at FROM (
           SELECT user_id, value, ts, ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    // Time travel to the state AS OF batch 2's merge: batches are the
    // event_id % 4 classes replayed in ascending order, so version 3 ==
    // the latest-wins compaction over classes 0..2 — recomputed here
    // directly from `events` (the oracle knows nothing about manifests).
    "q_stream_upsert_history" ->
      """SELECT user_id, value, ts AS updated_at FROM (
           SELECT user_id, value, ts, ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE event_id % 4 < 3) WHERE rn = 1 ORDER BY user_id""",
    // The COMPLETE hierarchy graph's components — SHARED verbatim with
    // q_graph_cc's oracle (the r9 hub-root seed restriction included:
    // this copy had kept the seed-from-every-vertex spelling and was the
    // one oracle that still blew DuckDB's memory at sf1) — the oracle
    // knows nothing about batching, commit-log versions, or the
    // incremental contraction, so a wrong merge in ANY microbatch fails
    // the compare.
    "q_stream_graph_cc" ->
      graft.operators.GraphQueries.oracles("q_graph_cc"),
    // The post-takedown graph's components — SHARED verbatim with the
    // batch maintainer of the same diff (q_graph_cc_incremental_del), so
    // the streaming fold and the batch maintenance path are pinned to
    // one truth; the oracle knows nothing about batching, routing, or
    // the edge-state table.
    "q_stream_graph_cc_del" ->
      graft.operators.GraphQueries.oracles("q_graph_cc_incremental_del"),
    // The full live-corpus Jaccard recompute — SHARED verbatim with the
    // batch maintainer of the same diff (q_dedup_incremental_del): a
    // leaked retired pair, a missed cross-batch ingest pair, or a wrong
    // per-batch candidate set all flip the compare.
    "q_stream_dedup_del" ->
      graft.operators.Dedup.oracles("q_dedup_incremental_del"),
    // The frozen-centroid IVF takedown oracle — SHARED verbatim with the
    // batch twin (q_sim_ivf_del): the oracle knows nothing about
    // batching, the postings state table, or the ingest path, so a
    // batching-dependent cell assignment or a leaked retired posting in
    // ANY microbatch fails the compare.
    "q_stream_sim_del" ->
      graft.operators.Similarity.oracles("q_sim_ivf_del"),
    // The rebuild-from-survivors sketch contract — SHARED verbatim with
    // the batch twin (q_agg_sketch_del): the oracle knows nothing about
    // batching, the KMV merge, or the detect/rebuild routing, so a wrong
    // merge in any insert batch or a subtraction shortcut in the delete
    // batch fails the compare.
    "q_stream_sketch_del" ->
      graft.operators.QualityOps.oracles("q_agg_sketch_del"),
    // The same gaps-and-islands session rebuild as q_session_window
    // (session end = last event + the 30 min gap), restricted to the
    // watermark-closed surface exactly like the Spark side. Ties on
    // equal ts within a user can't affect session membership, so the
    // window needs no tiebreak column.
    "q_stream_session" ->
      """WITH mx AS (SELECT MAX(ts) - INTERVAL '1 hour' AS wm FROM events),
         x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM x),
         g AS (SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL '30 minutes' AS session_end,
                 COUNT(*) AS n_events
               FROM y GROUP BY user_id, sid)
         SELECT user_id, CAST(session_start AS TIMESTAMP) AS session_start,
           CAST(session_end AS TIMESTAMP) AS session_end, n_events
         FROM g, mx WHERE session_end < wm
         ORDER BY user_id, session_start""",
    // Latest row per user with the derived op; a final D tombstones the
    // user out of the served table.
    "q_stream_changelog" ->
      """SELECT user_id, value, ts AS updated_at FROM (
           SELECT user_id, value, ts,
             CASE WHEN value < 25 THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 AND op = 'U' ORDER BY user_id""",
    // Complete-mode sink over timed microbatches == the batch aggregate.
    "q_stream_proctime" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_stream_join" ->
      """SELECT c.user_id, COUNT(*) AS n_pairs
         FROM events c JOIN events p
           ON p.user_id = c.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         GROUP BY c.user_id ORDER BY c.user_id""",
    "q_stream_join_outer" ->
      """WITH mx AS (SELECT LEAST(
             MAX(CASE WHEN event_type = 'click' THEN ts END),
             MAX(CASE WHEN event_type = 'purchase' THEN ts END)) AS m
           FROM events),
         c AS (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
         j AS (SELECT c.cu, c.cts, p.pts
               FROM c LEFT JOIN p ON p.pu = c.cu AND p.pts >= c.cts
                 AND p.pts <= c.cts + INTERVAL 30 MINUTE)
         SELECT cu AS user_id, COUNT(*) AS n_rows,
           CAST(COUNT(pts) AS BIGINT) AS n_matched
         FROM j WHERE cts <= (SELECT m - INTERVAL 2 HOUR FROM mx)
         GROUP BY cu ORDER BY cu""",
    "q_stream_stateful" ->
      """WITH x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, COUNT(*) AS n_events,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
           CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
           CAST(SUM(new_s) AS BIGINT) AS n_sessions
         FROM x GROUP BY user_id ORDER BY user_id""",
    // Islands formulation of gap-based sessionization.
    "q_session_window" ->
      """WITH x AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         y AS (SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS val_sum
         FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"""
  )
}
