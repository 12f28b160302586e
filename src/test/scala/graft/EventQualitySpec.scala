package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventAnalytics, QualityOps, TextOps, Multimodal}

/** In-memory cross-checks for the round-4 event-analytics and data-quality
  * operators (the DuckDB oracle is the primary gate; these pin the
  * semantics against independent driver-side recomputation and the
  * invariants the oracle can't express, e.g. blocking completeness).
  */
class EventQualitySpec extends SparkSpec {

  private val gapUs = 6L * 3600 * 1000000

  test("skyline: mutually non-dominated and maximal against the full table") {
    def dominates(a: (Double, Int), b: (Double, Int)): Boolean =
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    val all = Tables(spark, sfDir, "part")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val sky = graft.operators.Relational.queries("q_skyline")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(sky.nonEmpty && sky.size < all.size)
    // no skyline row dominates another
    for ((ka, a) <- sky; (kb, b) <- sky if ka != kb)
      assert(!dominates(a, b), s"$ka dominates $kb inside the skyline")
    // every excluded row is dominated by some skyline row
    for ((k, v) <- all if !sky.contains(k))
      assert(sky.values.exists(s2 => dominates(s2, v)), s"$k wrongly excluded")
  }

  test("sessionize: per-session gaps respect the 6h threshold and events are conserved") {
    val events = Tables(spark, sfDir, "events")
      .select("user_id", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime * 1000
        + (r.getTimestamp(2).getNanos / 1000) % 1000))
    val sessions = EventAnalytics.queries("q_sessionize")(spark, sfDir).collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum == events.length,
      "every event belongs to exactly one session")
    // independent recomputation: session count per user from sorted gaps
    val expected = events.groupBy(_._1).view.mapValues { es =>
      val ts = es.sortBy(e => (e._3, e._2)).map(_._3)
      1 + ts.sliding(2).count { case Array(a, b) => b - a > gapUs; case _ => false }
    }.toMap
    val got = sessions.groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length).toMap
    assert(got == expected)
  }

  test("funnel: stage counts are monotone non-increasing from a positive base") {
    val rows = EventAnalytics.queries("q_funnel")(spark, sfDir).collect()
      .sortBy(_.getAs[String]("stage"))
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts.head > 0, "some users sign up")
    counts.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => () }
  }

  test("gapfill: spine is dense and filled values come from the last observed hour") {
    val out = EventAnalytics.queries("q_ts_gapfill")(spark, sfDir).collect()
    val types = out.map(_.getAs[String]("event_type")).distinct
    val hours = out.map(_.getAs[java.sql.Timestamp]("h")).distinct
    assert(out.length == types.length * hours.length, "dense type x hour grid")
    // forward fill: a gap row's value equals the previous row's value
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("h").getTime)
      sorted.sliding(2).foreach {
        case Array(prev, cur) if cur.getAs[Boolean]("is_gap") =>
          assert(cur.getAs[Any]("ffill_val_e4") == prev.getAs[Any]("ffill_val_e4"))
        case _ => ()
      }
    }
  }

  test("fuzzy join: banded candidates lose no pair vs brute force (blocking completeness)") {
    import TestLev.lev
    val names = Tables.raw(spark, sfDir, "part").select("p_name").distinct()
      .collect().map(_.getString(0))
    val brute = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b))).toSet
    val got = QualityOps.queries("q_join_fuzzy")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == brute, "banded equi-join must equal unblocked brute force")
    assert(brute.nonEmpty, "fixture vocabulary should contain close names")
  }

  test("checksum: invariant under repartition, sensitive to row changes") {
    val base = QualityOps.queries("q_checksum_table")(spark, sfDir).collect().head
    val again = QualityOps.queries("q_checksum_table")(spark, sfDir).collect().head
    assert(base == again, "deterministic across runs/partitionings")
    // dropping one row must change both signatures (hash with the SAME
    // single-sourced canon the shipped query uses)
    val orders = Tables.raw(spark, sfDir, "orders")
    val one = orders.limit(1).select("o_orderkey").collect().head.getLong(0)
    val h = graft.functions.PortableHash.hash60(QualityOps.ordersCanon)
    val dropped = orders.filter(col("o_orderkey") =!= one)
      .select(h.as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), (sum(col("h") % 1000000007L) % 1000000007L))
      .collect().head
    assert(dropped != base)
  }

  test("tfidf: top-3 per doc matches in-memory computation") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val n = docs.length.toDouble
    val df = docs.flatMap { case (_, ts) => ts.distinct }.groupBy(identity)
      .view.mapValues(_.length).toMap
    val expected = docs.map { case (id, ts) =>
      val top = ts.groupBy(identity).view.mapValues(_.length).toSeq
        .map { case (tok, tf) =>
          (tok, BigDecimal(tf * math.log(n / df(tok)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (tok, sc) => (-sc, tok) }.take(3).map(_._1)
      id -> top
    }.toMap
    val got = TextOps.queries("q_text_tfidf")(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id")).view.mapValues(
        _.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("tok")).toSeq).toMap
    assert(got == expected)
  }

  test("windowed distinct count: running value matches in-memory prefix sets") {
    val events = Tables(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val expected = events.groupBy(_._1).iterator.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3.getTime * 1000000 + e._3.getNanos / 1000, e._2))
      val seen = scala.collection.mutable.Set.empty[String]
      sorted.map { e => seen += e._4; e._2 -> seen.size }
    }.toMap
    val got = graft.operators.Windows.queries("q_win_distinct")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("n_distinct_types")).toMap
    assert(got == expected)
  }

  test("incremental merge: merged partial states equal a three-way re-split") {
    // split differently than the query (by key parity rather than date):
    // mergeability must hold for ANY disjoint partition of the rows
    val q = QualityOps.queries("q_agg_incremental")(spark, sfDir).collect()
    val orders = Tables.raw(spark, sfDir, "orders")
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    def partial(f: org.apache.spark.sql.Column) = orders.filter(f)
      .select(col("o_orderpriority"), cents.as("c")).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("c").as("s"), min("c").as("mn"), max("c").as("mx"))
    val merged = partial(col("o_orderkey") % 3 === 0)
      .union(partial(col("o_orderkey") % 3 === 1))
      .union(partial(col("o_orderkey") % 3 === 2))
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n"), sum("s").as("s"), min("mn").as("mn"), max("mx").as("mx"))
      .withColumn("avg_e4", expr("(s * 100) div n"))
      .orderBy("o_orderpriority").collect()
    assert(q.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq ==
      merged.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq)
  }

  test("cross-modal join covers every document exactly once") {
    val rows = Multimodal.queries("q_mm_crossmodal")(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables(spark, sfDir, "documents").count(),
      "1:1 id join must conserve the corpus")
  }

  test("inverted index: df and posting heads match in-memory postings") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    val postings = docs.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val got = TextOps.queries("q_text_invindex")(spark, sfDir).collect()
    assert(got.length == postings.size)
    got.foreach { r =>
      val exp = postings(r.getAs[String]("tok"))
      assert(r.getAs[Long]("df") == exp.length)
      assert(r.getAs[String]("postings_head") == exp.take(20).mkString(","))
    }
  }

  test("fk audit: the clean fixture reports zero orphans on every edge") {
    val rows = QualityOps.queries("q_fk_orphans")(spark, sfDir).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_orphan_rows") == 0 && r.getAs[Long]("n_orphan_keys") == 0,
        s"unexpected orphans: $r")
    }
  }

  test("weighted sampling: matches in-memory A-ES and biases toward heavy docs") {
    val rows = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        graft.functions.PortableHash.hash60(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.map { case (id, w, h) =>
      (id, w, math.log((h + 1).toDouble / math.pow(2, 60)) / w)
    }.sortBy { case (id, _, k) => (-k, id) }.take(100).map(_._1).toSet
    val got = graft.operators.TrainingPipeline.queries("q_sample_weighted")(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(got.toSet == expected)
    val corpusAvg = rows.map(_._2).sum.toDouble / rows.length
    val sampleAvg = rows.filter(r => expected(r._1)).map(_._2).sum.toDouble / 100
    assert(sampleAvg > corpusAvg, s"weighting should favor heavy docs: $sampleAvg vs $corpusAvg")
  }

  test("chunking: stride-drop reassembly reproduces every document exactly") {
    val texts = Tables(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = TextOps.queries("q_text_chunk")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_start"),
        r.getAs[Int]("n_tokens"), r.getAs[String]("chunk")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(chunks.keySet == texts.keySet)
    val overlap = 32 - 24
    chunks.foreach { case (id, cs) =>
      // starts are 0, stride, 2*stride, ...; widths = min(32, remaining)
      val total = texts(id).split(" ").length
      assert(cs.map(_._2).toSeq == cs.indices.map(_ * 24))
      cs.foreach { case (_, s, n, c) =>
        assert(n == math.min(32, total - s) && c.split(" ").length == n)
      }
      // chunk 0 + each later chunk minus its 8-token overlap == the doc
      val rebuilt = (cs.head._4.split(" ") ++
        cs.tail.flatMap(_._4.split(" ").drop(overlap))).mkString(" ")
      assert(rebuilt == texts(id), s"doc $id reassembly")
    }
  }

  test("vocab prune: order preserved, only sub-1% tokens masked, counts consistent") {
    val docsTok = Tables(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val freq = docsTok.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val total = freq.values.sum
    val got = TextOps.queries("q_text_vocab_prune")(spark, sfDir).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == docsTok.keySet)
    got.foreach { r =>
      val (id, pruned) = (r.getAs[Long]("doc_id"), r.getAs[String]("pruned").split(" ").toSeq)
      val orig = docsTok(id)
      assert(r.getAs[Long]("n_tokens") == orig.size && pruned.size == orig.size)
      orig.zip(pruned).foreach { case (o, p) =>
        if (freq(o) * 100 >= total) assert(p == o, s"doc $id kept token changed")
        else assert(p == "<unk>", s"doc $id rare token '$o' unmasked")
      }
      assert(r.getAs[Long]("n_unk") == pruned.count(_ == "<unk>"))
    }
  }

  test("decontam: benchmark excluded, verdict == threshold, benchmark dups flagged") {
    val out = TextOps.queries("q_text_decontam")(spark, sfDir).collect()
    assert(out.forall(_.getAs[Long]("doc_id") % 50 != 0))
    out.foreach { r =>
      assert(r.getAs[Boolean]("contaminated") == (r.getAs[Long]("n_shared") >= 20))
    }
    // a corpus doc whose text EQUALS a benchmark doc's shares every
    // fingerprint, so if it has >= 20 fingerprints it must be flagged
    val texts = Tables(spark, sfDir, "documents")
      .filter("doc_id < 1000 AND length(text) >= 8")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val benchTexts = texts.filter(_._1 % 50 == 0).map(_._2).toSet
    val nFp = TextOps.queries("q_text_winnow")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_fp")).toMap
    val contaminated = out.filter(_.getAs[Boolean]("contaminated"))
      .map(_.getAs[Long]("doc_id")).toSet
    texts.filter(t => t._1 % 50 != 0 && benchTexts(t._2) && nFp(t._1) >= 20)
      .foreach { case (id, _) => assert(contaminated(id), s"benchmark dup $id") }
  }

  test("sequence packing: bin assignment matches a sequential per-source pack") {
    val docs = Tables(spark, sfDir, "documents").select("source", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ").length))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).toSeq.map { case (_, id, n) =>
        val (bin, off) = (cum / 128, cum % 128)
        cum += n
        (src, id) -> ((bin.toInt, off.toInt, off + n > 128))
      }
    }.toMap
    val got = TextOps.queries("q_text_pack")(spark, sfDir).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val k = (r.getAs[String]("source"), r.getAs[Long]("doc_id"))
      val v = (r.getAs[Int]("bin_id"), r.getAs[Int]("bin_offset"),
        r.getAs[Boolean]("straddles"))
      assert(v == expected(k), s"doc $k")
    }
  }

  test("cdc upsert: op tags and values match a driver-side latest-wins merge") {
    val cutoffUs = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").getTime * 1000
    val evs = Tables(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def latest(side: Array[(Long, Long, Long, Double)]) =
      side.groupBy(_._1).view.mapValues(_.maxBy(e => (e._2, e._3))).toMap
    val base = latest(evs.filter(_._2 < cutoffUs))
    val delta = latest(evs.filter(_._2 >= cutoffUs))
    val got = EventAnalytics.queries("q_cdc_upsert")(spark, sfDir).collect()
    assert(got.map(_.getAs[Long]("user_id")).toSet == base.keySet ++ delta.keySet)
    got.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val expOp = (base.contains(u), delta.contains(u)) match {
        case (false, _) => "insert"
        case (_, false) => "keep"
        case _          => "update"
      }
      assert(r.getAs[String]("op") == expOp, s"user $u")
      val exp = delta.getOrElse(u, base(u))
      assert(r.getAs[Double]("value") == exp._4, s"user $u value")
    }
  }

  test("ewma guard: a hot key past the per-key collect bound fails loudly") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val evs = (1 to 100).map(i =>
      (7L, new java.sql.Timestamp(ts0.getTime + i * 1000L), i.toLong, i.toDouble))
      .toDF("user_id", "ts", "event_id", "value")
    // below the guard: the fold runs and matches the in-memory recurrence
    val ok = EventAnalytics.ewmaGuarded(evs, 100L).collect()
    assert(ok.length == 1 && ok(0).getLong(1) == 100L)
    val expect = (1 to 100).map(_ * 100L).reduceLeft((a, x) => (x + a) / 2)
    assert(ok(0).getLong(2) == expect)
    // past the guard: loud raise_error, not a silent single-row blowup
    val err = intercept[Exception] {
      EventAnalytics.ewmaGuarded(evs, 99L).collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(err).exists(m => m != null && m.contains("per-key collect guard")),
      s"expected the guard message in: ${causes(err).mkString(" | ")}")
  }

  test("phash: reported pairs respect the hamming bound and include exact duplicates") {
    val pairs = Multimodal.queries("q_mm_phash")(spark, sfDir).collect()
    assert(pairs.forall(_.getAs[Int]("hamming") <= 8))
    // exact duplicate texts have identical payloads -> hamming 0 pairs exist
    val dups = Tables(spark, sfDir, "documents").groupBy("text")
      .agg(min("doc_id").as("a"), max("doc_id").as("b"), count(lit(1)).as("n"))
      .filter(col("n") > 1).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val zero = pairs.filter(_.getAs[Int]("hamming") == 0)
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    dups.foreach { case (a, b) => assert(zero.contains((a, b)), s"dup pair ($a,$b)") }
  }

  test("profile: per-column row counts, nulls, and custkey cardinality match the table") {
    val orders = Tables.raw(spark, sfDir, "orders")
    val nRows = orders.count()
    val rows = QualityOps.queries("q_profile")(spark, sfDir).collect()
    assert(rows.length == 5, "five profiled columns")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == nRows, r.getAs[String]("col_name"))
      assert(r.getAs[Long]("n_nulls") == 0L, "clean fixture has no nulls")
    }
    val ck = rows.find(_.getAs[String]("col_name") == "3_custkey").get
    val expDistinct = orders.select("o_custkey").distinct().count()
    assert(ck.getAs[Long]("n_distinct") == expDistinct)
  }

  test("weighted median: matches in-memory weighted-median recomputation per flag") {
    import graft.operators.Relational
    val li = Tables.raw(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong,
        r.getDouble(2).toLong))
    val expected = li.groupBy(_._1).view.mapValues { rs =>
      val byVal = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val tot = byVal.map(_._2).sum
      var cum = 0L
      (byVal.collectFirst { case (c, w) if { cum += w; cum * 2 >= tot } => c }.get, tot)
    }.toMap
    val got = Relational.queries("q_agg_wmedian")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("anomaly detection matches an in-memory integer 2-sigma test, both flags fire") {
    val evs = Tables(spark, sfDir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        floor(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val buckets = evs.groupBy(e => (e._1, e._2)).view
      .mapValues(es => (es.length.toLong, es.map(_._3).sum)).toMap
    val byType = buckets.toSeq.groupBy(_._1._1)
    val expect = byType.flatMap { case (_, hs) =>
      val hh = hs.length.toLong
      val (s, ss) = (hs.map(_._2._1).sum, hs.map(x => x._2._1 * x._2._1).sum)
      val (vs, vss) = (hs.map(_._2._2).sum, hs.map(x => x._2._2 * x._2._2).sum)
      hs.flatMap { case ((ty, hr), (n, sv)) =>
        val ca = (n * hh - s) * (n * hh - s) > 4 * (hh * ss - s * s)
        val va = (sv * hh - vs) * (sv * hh - vs) > 4 * (hh * vss - vs * vs)
        if (ca || va) Some((ty, hr) -> (n, sv, ca, va)) else None
      }
    }
    val got = EventAnalytics.queries("q_events_anomaly")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got == expect)
    // both signal kinds must actually fire on this corpus
    assert(got.values.exists(_._3), "no count anomaly fired")
    assert(got.values.exists(_._4), "no value anomaly fired")
  }

  test("mergeable quantile state: exactly one median bucket, contains the true median") {
    val rows = QualityOps.queries("q_agg_quantile_state")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.map(_._2).sum == Tables(spark, sfDir, "orders").count())
    val med = rows.filter(_._4)
    assert(med.length == 1, s"exactly one median bucket, got ${med.length}")
    // LOWER median (the rank-ceil(N/2) element), not interpolating
    // percentile: with an even row count the interpolated midpoint can
    // legitimately sit in the bucket ABOVE the flagged one when the two
    // middle values straddle a boundary — the flag is defined on ranks
    val cents = Tables(spark, sfDir, "orders")
      .select(expr("CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT)"))
      .collect().map(_.getLong(0)).sorted
    val lowerMedian = cents((cents.length + 1) / 2 - 1)
    val b = med.head._1
    assert(lowerMedian >= b * 5000000L && lowerMedian < (b + 1) * 5000000L,
      s"lower median $lowerMedian outside flagged bucket $b")
  }

  test("compaction plan: row-conserving, contiguous bins, greedy capacity respected") {
    val target = 100000L
    val bins = graft.operators.Relational.queries("q_layout_compaction")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).sortBy(_._1)
    val totalRows = Tables(spark, sfDir, "lineitem").count()
    assert(bins.map(_._3).sum == totalRows, "every manifest row lands in a bin")
    assert(bins.map(_._1).toSeq == bins.indices.map(_.toLong), "bins contiguous from 0")
    // greedy prefix assignment: a bin starts strictly before its capacity
    // boundary, so rows-before-last-file < (bin+1)*target for every bin
    bins.foldLeft(0L) { case (before, (bin, _, rows, _, _)) =>
      assert(before < (bin + 1) * target || rows == 0, s"bin $bin starts past capacity")
      before + rows
    }
    // month spans must not overlap between consecutive bins
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a._5.before(b._4), s"bins ${a._1},${b._1} overlap")
      case _ => ()
    }
  }

  test("ab test: A/A split never fires (false-positive guard), planted effect always fires") {
    val rows = EventAnalytics.queries("q_ab_test")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(6), r.getBoolean(7))).toMap
    val types = Tables(spark, sfDir, "events").select("event_type")
      .distinct().collect().map(_.getString(0)).toSet
    assert(rows.keySet == (for (s <- Set("aa", "planted"); t <- types) yield (s, t)))
    val nEvents = Tables(spark, sfDir, "events").count()
    assert(rows.collect { case ((s, _), v) if s == "aa" => v._1 + v._2 }.sum == nEvents)
    rows.foreach { case ((scenario, ty), (_, _, lift, sig)) =>
      if (scenario == "aa")
        assert(!sig, s"A/A false positive on $ty")
      else {
        assert(sig, s"planted +5000-cent effect not detected on $ty — test has no power")
        assert(lift == 1L, s"planted lift direction wrong on $ty")
      }
    }
  }

  test("dq rule suite: clean rules pass, planted drift/range/completeness rules fire") {
    val rows = QualityOps.queries("q_dq_rules")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    assert(rows.size == 6)
    val nEvents = Tables(spark, sfDir, "events").count()
    // rules 1, 2, 6 are genuinely clean on this fixture
    for (id <- Seq(1, 2)) {
      assert(rows(id)._2 == nEvents); assert(rows(id)._3 == 0L && rows(id)._4)
    }
    assert(rows(6)._3 == 0L && rows(6)._4, "referential rule should pass")
    assert(rows(6)._2 == Tables(spark, sfDir, "lineitem").count())
    // rules 3 (schema drift: 'error' type), 4 (range cap), 5 (empty hours)
    // must FIRE — an all-pass suite would be a trivially-green oracle
    val errorCount = Tables(spark, sfDir, "events")
      .filter(col("event_type") === "error").count()
    assert(errorCount > 0 && rows(3)._3 == errorCount && !rows(3)._4)
    assert(rows(4)._3 > 0 && !rows(4)._4)
    assert(rows(5)._3 > 0 && !rows(5)._4)
    assert(rows(5)._2 >= rows(5)._3, "grid size bounds the missing count")
  }

  test("scrub: deny tokens gone, token count conserved, redaction count exact") {
    val deny = Set("customer", "spark", "big")
    val got = TextOps.queries("q_text_scrub")(spark, sfDir).collect()
    val texts = Tables(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.length == texts.size)
    got.foreach { r =>
      val orig = texts(r.getAs[Long]("doc_id")).split(" ", -1)
      val scrub = r.getAs[String]("scrubbed").split(" ", -1)
      assert(scrub.length == orig.length, "token count conserved")
      assert(!scrub.exists(deny), "no deny token survives")
      assert(r.getAs[Int]("n_redacted") == orig.count(deny),
        s"doc ${r.getAs[Long]("doc_id")}")
      orig.zip(scrub).foreach { case (o, sc) =>
        assert(if (deny(o)) sc == "[X]" else sc == o)
      }
    }
  }

  test("theta sketch: estimates within 25% of exact; theta and bound invariants hold") {
    val r = QualityOps.queries("q_sketch_theta")(spark, sfDir).collect().head
    def g(n: String) = r.getAs[Long](n)
    assert(g("theta") == math.min(g("kth_a"), g("kth_b")))
    assert(g("n_common") <= g("n_union_below") && g("n_union_below") <= 512)
    assert(g("exact_inter") > 0 && g("exact_inter") < g("exact_union"),
      "fixture slices must really overlap AND really differ")
    // hash-compare can't see accuracy (both engines replay the same
    // estimator) — the 25% bound lives here
    for ((e, x) <- Seq("est_inter" -> "exact_inter", "est_union" -> "exact_union"))
      assert((g(e) - g(x)).abs * 4 <= g(x), s"$e=${g(e)} far from ${g(x)}")
  }

  test("acf: matches an in-memory dense-grid recompute; Cauchy-Schwarz bound holds") {
    // epoch-hour truncation is tz-independent (whole-hour buckets of
    // absolute epoch millis == date_trunc('hour') under the UTC session)
    val events = Tables(spark, sfDir, "events")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L))
    val h0 = events.map(_._2).min
    val h1 = events.map(_._2).max
    val hours = (h0 to h1).toArray
    val byType = events.groupBy(_._1).view.mapValues { es =>
      val cnt = es.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      hours.map(cnt.getOrElse(_, 0L))
    }.toMap
    val expected = byType.flatMap { case (tpe, n) =>
      val hh = n.length.toLong
      val ss = n.sum
      val d = n.map(x => hh * x - ss)
      (1 to 3).map { l =>
        val num = (0 until d.length - l).map(t => d(t) * d(t + l)).sum
        val den = d.map(x => x * x).sum
        (tpe, l) -> ((num, den))
      }
    }
    val got = EventAnalytics.queries("q_ts_acf")(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("lag_h")) ->
        ((r.getAs[Long]("acf_num"), r.getAs[Long]("acf_den")))).toMap
    assert(got == expected)
    // |r_L| <= 1: the lagged numerator can never exceed the variance mass
    got.values.foreach { case (num, den) =>
      assert(den > 0 && math.abs(num) <= den)
    }
  }

  test("cdc schema evolution: loadAt serves each version's own schema, merged read zero-fills") {
    import spark.implicits._
    val base = ProcessCache.path("spec", "schemaevo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val v1 = graft.sources.VersionedGraphStore.commit(
      Seq((1L, "a")).toDF("k", "name"), base)
    val v2 = graft.sources.VersionedGraphStore.commit(
      Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("k", "name", "region"), base)
    assert(graft.sources.VersionedGraphStore.loadAt(spark, base, v1)
      .columns.toSeq == Seq("k", "name"))
    assert(graft.sources.VersionedGraphStore.loadAt(spark, base, v2)
      .columns.toSeq == Seq("k", "name", "region"))
    val out = EventAnalytics.queries("q_cdc_schema_evolution")(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("snapshot"))
    assert(out.map(r => (r.getAs[Long]("snapshot"), r.getAs[Int]("n_cols"))).toSeq
      == Seq((1L, 2), (2L, 3)))
    // narrow-schema history rows contribute zero region mass
    assert(out.head.getAs[Long]("n_region_vals") == 0L
      && out.head.getAs[Long]("region_sum") == 0L)
    assert(out(1).getAs[Long]("n_region_vals") == out(1).getAs[Long]("n_rows"))
  }
}
