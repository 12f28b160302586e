package graft

import org.apache.spark.sql.functions._
import graft.plans.{GraftRules, SkewJoin}

/** Scale-posture specs: salting, bucketed co-located joins, custom
  * optimizer rule injection.
  */
class ScaleSpec extends SparkSpec {

  test("salted join == plain join on a skewed key") {
    import spark.implicits._
    // 90% of probe rows share one key — the canonical skew shape.
    val probe = spark.range(10000)
      .select((when(col("id") % 10 === 0, col("id") % 100).otherwise(7L)).as("k"),
        col("id").as("payload"))
    val build = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("dim"))
    val plain = probe.join(build, "k").agg(count(lit(1)), sum("dim"), sum("payload"))
      .collect()(0)
    val salted = SkewJoin.saltedJoin(probe, build, "k", 8)
      .agg(count(lit(1)), sum("dim"), sum("payload")).collect()(0)
    assert(plain == salted)
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the in-memory catalog forgets tables between JVMs but the warehouse
      // dir survives — clear both for idempotence
      for (t <- Seq("bt_a", "bt_b")) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft-warehouse/$t"))
      }
      spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("va"))
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
      spark.range(1000).select(col("id").as("k"), (col("id") % 5).as("vb"))
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
      val joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_layout_partitioned: event_type prunes via PartitionFilters, not row pushdown") {
    val plan = SparkEntry.queries("q_layout_partitioned")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
      s"event_type must prune at the listing level:\n${plan.take(900)}")
    assert("PushedFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isEmpty,
      s"event_type must not also burn a row-level pushdown:\n${plan.take(900)}")
  }

  test("partitioned write + partition pruning reaches the scan") {
    import spark.implicits._
    val dir = "/tmp/graft-partitioned-orders"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Tables(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("1997"),
      s"partition filter should reach the scan:\n${scan.take(800)}")
    val expect = Tables(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() == expect)
  }

  test("TopKPerKey custom operator == window formulation, with partial phase before the exchange") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val custom = graft.plans.TopK.perKey(o, 3,
      Seq("o_custkey"), Seq("o_totalprice" -> true, "o_orderkey" -> false))
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowed = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    assert(custom.exceptAll(windowed).isEmpty && windowed.exceptAll(custom).isEmpty)
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(500))
    // partial phase (trailing ", true") must sit below the exchange — that
    // is the map-side rank pruning this operator exists for
    val idxPartial = plan.indexOf(", true")
    val idxExchange = plan.indexOf("Exchange")
    val idxFinal = plan.indexOf(", false")
    assert(idxFinal >= 0 && idxExchange > idxFinal && idxPartial > idxExchange,
      s"expected final ≺ Exchange ≺ partial in:\n${plan.take(800)}")
  }

  test("z-order buckets are local in BOTH dims (the data-skipping property)") {
    val rows = SparkEntry.queries("q_layout_zorder")(spark, sfDir).collect()
    assert(rows.length > 8, s"expected many z-buckets, got ${rows.length}")
    def avgSpan(lo: Int, hi: Int): Double =
      rows.map(r => (r.getLong(hi) - r.getLong(lo)).toDouble).sum / rows.length
    val (xSpan, ySpan) = (avgSpan(2, 3), avgSpan(4, 5))
    // A single-dim sort would leave the OTHER dim spanning ~the full 256
    // rank domain per bucket; Morton bucketing bounds both (each z>>10
    // bucket pins the top 3 bits of each dim → span ≤ ~32).
    assert(xSpan < 64.0, s"x span $xSpan not local")
    assert(ySpan < 64.0, s"y span $ySpan not local")
  }

  test("runtime bloom filter prunes the fact side before its shuffle") {
    import graft.operators.Relational
    val (planStr, withBloom) = Relational.withBloomConfs(spark) {
      val df = Relational.bloomJoinFrame(spark, sfDir)
      // InjectRuntimeFilter is a logical-optimizer rule, so the filter pair
      // is already visible pre-execution — no need to run the plan twice.
      (df.queryExecution.executedPlan.toString, df.collect().toSet)
    }
    // creation side plans bloom_filter_agg; the fact leg filters with
    // might_contain (Spark's pretty names for the runtime filter pair)
    assert(planStr.contains("might_contain") && planStr.contains("bloom_filter_agg"),
      s"expected a runtime bloom filter on the application side:\n${planStr.take(1200)}")
    // pruning only: must equal the un-filtered (broadcast) join result
    val plain = Relational.bloomJoinFrame(spark, sfDir).collect().toSet
    assert(withBloom == plain)
  }

  test("stratified sampler prunes rank map-side (TopKPerKey partial below its exchange)") {
    val plan = SparkEntry.queries("q_sample_stratified")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(500))
    // the presentation orderBy adds a range exchange ABOVE the operator, so
    // anchor the search at the final phase and walk down: final ≺ hash
    // exchange ≺ partial
    val idxFinal = plan.indexOf(", false")
    val idxExchange = plan.indexOf("Exchange hashpartitioning", idxFinal)
    val idxPartial = plan.indexOf(", true", idxExchange)
    assert(idxFinal >= 0 && idxExchange > idxFinal && idxPartial > idxExchange,
      s"expected final ≺ hash exchange ≺ partial in:\n${plan.take(800)}")
  }

  test("banded interval join is an equi join, never a nested loop") {
    val plan = SparkEntry.queries("q_join_interval")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded rewrite must not fall back to a loop join:\n${plan.take(800)}")
  }

  test("count-min sketch builds partial sketches below the exchange") {
    // The linear-sketch property in the plan: executor-local partial
    // sketches (map side) merge through ONE exchange row per partition.
    val plan = SparkEntry.queries("q_sketch_cms")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val iFinal = plan.indexOf("functions=[countminagg")
    val iExchange = plan.indexOf("Exchange SinglePartition")
    val iPartial = plan.indexOf("partial_countminagg")
    assert(iFinal >= 0 && iExchange > iFinal && iPartial > iExchange,
      s"expected final ≺ Exchange ≺ partial in:\n${plan.take(1500)}")
  }

  test("BFS seen-set anti-join flips broadcast -> shuffle past the size gate") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val f = Seq((0L, 0)).toDF("v", "level")
    val seen = Seq((0L, 0)).toDF("v", "level")
    def planOf(seenCount: Long): String =
      graft.plans.GraphOps.expandTwice(e, f, seen, Seq(), seenCount, 0L)
        .queryExecution.executedPlan.toString
    val small = planOf(10L)
    assert(small.matches("(?s).*BroadcastHashJoin.*LeftAnti.*"),
      s"below the gate the seen prune should broadcast:\n${small.take(600)}")
    val big = planOf(graft.plans.GraphOps.BroadcastSeenLimit + 1)
    val antiLine = big.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(antiLine.nonEmpty && !antiLine.contains("Broadcast"),
      s"past the gate the seen prune must not broadcast:\n${big.take(600)}")
  }

  test("multi-graph BFS superstep keys on (graph, src) and flips broadcast past the gate") {
    import spark.implicits._
    val e = Seq(("a", 0L, 1L), ("b", 0L, 2L)).toDF("graph", "src", "dst")
    val f = Seq(("a", 0L, 0), ("b", 0L, 0)).toDF("graph", "v", "level")
    def planOf(seenCount: Long, frontierCount: Long): String =
      graft.plans.GraphOps.expandTwice(e, f, f, Seq("graph"), seenCount,
        frontierCount).queryExecution.executedPlan.toString
    // the frontier join must key on BOTH graph and vertex — a graph-only
    // key funnels each whole graph through one task at 100 TB
    val small = planOf(10L, 10L)
    // the frontier join is the INNER edge⋈frontier join (the seen prune is
    // a separate LeftAnti, which AQE may push below the union)
    val joinLine = small.linesIterator
      .find(l => l.contains("Join") && l.contains("Inner") && l.contains("fg"))
      .getOrElse("")
    assert(joinLine.contains("graph") && (joinLine.contains("src") || joinLine.contains("fv")),
      s"frontier join must key on (graph, vertex):\n${small.take(800)}")
    assert(small.matches("(?s).*BroadcastHashJoin.*LeftAnti.*"),
      s"below the gate the seen prune should broadcast:\n${small.take(600)}")
    val past = graft.plans.GraphOps.BroadcastSeenLimit + 1
    val big = planOf(past, past)
    val antiLine = big.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(antiLine.nonEmpty && !antiLine.contains("Broadcast"),
      s"past the gate the seen prune must not broadcast:\n${big.take(600)}")
    assert(!big.toLowerCase.contains("cartesian") &&
      !big.toLowerCase.contains("broadcastnestedloop"),
      s"no nested-loop/cartesian in the superstep:\n${big.take(600)}")
  }

  test("corpus-sized join sides carry no forced broadcast hint (r5 scale-killers)") {
    // q_sim_neardup's build side is the whole embeddings table and
    // q_udtf_ngrams' survivor set grows with the corpus — both were
    // broadcast()-forced in r5, which OOMs at scale regardless of local
    // timings. The joins must stay unhinted (AQE may still choose to
    // broadcast at fixture scale from STATS — that's fine and flips on
    // its own at 100x; the hint would not).
    for (q <- Seq("q_sim_neardup", "q_udtf_ngrams")) {
      val lp = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(!lp.contains("broadcast"),
        s"$q must not carry a broadcast hint:\n${lp.take(800)}")
    }
  }

  test("near-dup pair generation is LSH-banded: the cell self-join keys include (band, sig)") {
    // The r6 scale defect: a plain label-equi self join is O(m²) pairs
    // within a cell of m rows and label is low-cardinality, so at 100 TB
    // it is an all-pairs join in disguise. The pair join must key on the
    // hyperplane band columns so candidates are LSH-bucket collisions.
    val lp = SparkEntry.queries("q_sim_neardup")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val pairJoins = lp.linesIterator
      .filter(l => l.contains("Join Inner") && l.contains("label")).toSeq
    assert(pairJoins.nonEmpty, s"expected a label-keyed pair join in:\n${lp.take(1000)}")
    assert(pairJoins.forall(l => l.contains("band") && l.contains("sig")),
      s"the cell pair join must also key on (band, sig):\n${pairJoins.mkString("\n")}")
  }

  test("ppjoin exact self-join: intersect rides arrays through cand, no full s-equi-join") {
    // The r13 scale defect this pins: with prefix-filter candidates the
    // docs they touch are corpus-DENSE, so an s-keyed equi-join between
    // two shingle sides (even candidate-semi-restricted ones) rebuilds
    // the all-pairs join. The exact path must (a) count intersections
    // via array_intersect per candidate pair, and (b) key its only
    // corpus-scale joins on doc ids (da/db/doc_id), never on s alone —
    // the one legitimate s-keyed join is the PREFIX collision join,
    // whose sides are the ~(1−t)-fraction prefix frames.
    val qe = graft.operators.Dedup.queries("q_dedup_ppjoin")(spark, sfDir)
      .queryExecution
    val op = qe.optimizedPlan.toString.toLowerCase
    assert(op.contains("sortedintersectcount"),
      s"expected the per-pair sorted-merge intersect count in the " +
        s"exact-verify stage:\n${op.take(800)}")
    // at most two s-keyed inner joins are legitimate: sh ⋈ sid (dense-id
    // map) and the PREFIX collision join (both sides ~(1−t)-fraction
    // prefix frames); dfreq/sizes are window counts since r14. A third
    // s-keyed join means someone reintroduced a shingle-side
    // equi-join — the all-pairs quadratic in disguise.
    val sJoins = op.linesIterator
      .filter(l => l.contains("join inner") && l.contains("(s#")).toSeq
    assert(sJoins.size <= 2,
      s"extra s-keyed inner join — the quadratic is back:\n${sJoins.mkString("\n")}")
  }

  test("ppjoin ingest twin: candidate verify intersects through cand, never an s-equi-join") {
    // Same defect class as the batch test above, caught LIVE in r14: the
    // ingest twin first shipped its prefix-collision candidates (doc-
    // DENSE) through the semi-restricted s-equi-join shape that is only
    // right for doc-sparse LSH collisions — 18.6 s vs 7.7 s for the whole
    // batch join it extends. Legitimate s-keyed INNER joins here: the
    // verify's sh ⋈ sid dense-id map plus the two prefix collision joins
    // (new×state and new×new, both sides ~(1−t)-fraction prefix frames);
    // the dfreq annotate is a LEFT join (unseen shingles rank 0) and the
    // state-side prefix/dfreq/pairs tables come pre-built from parquet.
    val qe = graft.operators.Dedup
      .queries("q_dedup_ppjoin_incremental")(spark, sfDir)
      .queryExecution
    val op = qe.optimizedPlan.toString.toLowerCase
    assert(op.contains("sortedintersectcount"),
      s"expected the per-pair sorted-merge intersect count in the " +
        s"ingest verify stage:\n${op.take(800)}")
    val sJoins = op.linesIterator
      .filter(l => l.contains("join inner") && l.contains("(s#")).toSeq
    assert(sJoins.size <= 3,
      s"extra s-keyed inner join — the ingest quadratic is back:\n${sJoins.mkString("\n")}")
  }

  test("round-6 additions: corpus-sized joins unhinted, no nested-loop/cartesian anywhere") {
    // q_dedup_substr's df frame and q_text_lm_score's bigram model both
    // grow with the corpus (shingle/vocab² cardinality) — they must join
    // unhinted; q_graph_ktruss's wedge joins are equi on vertex ids and
    // must never plan a nested-loop or cartesian product.
    for (q <- Seq("q_dedup_substr", "q_text_lm_score")) {
      val lp = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan.toString.toLowerCase
      assert(!lp.contains("broadcast"),
        s"$q must not carry a broadcast hint:\n${lp.take(800)}")
    }
    for (q <- Seq("q_graph_ktruss", "q_dedup_substr", "q_events_anomaly",
        "q_ab_test")) {
      val pp = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!pp.contains("BroadcastNestedLoopJoin") &&
        !pp.contains("CartesianProduct"),
        s"$q plans a nested-loop/cartesian join:\n${pp.take(800)}")
    }
  }

  test("r8 weak fixes: theta bottom-k is a mergeable aggregate, PMI unigram joins unhinted") {
    import org.apache.spark.sql.expressions.Window
    // q_sketch_theta (r8 weak): the bottom-k build must be the mergeable
    // BottomKQuantileAgg with a map-side partial phase — the window
    // spelling funneled each side's entire distinct-hash set through one
    // task (a corpus-sized frame into a Window with 2 partition keys).
    val sides = spark.range(5000)
      .select((col("id") % 2 === 0).as("a"), (col("id") * 37 % 4999).as("h"))
      .distinct()
    val bk = graft.operators.QualityOps.thetaBottomK(sides, 16)
    val pp = bk.queryExecution.executedPlan.toString
    assert(!pp.contains("Window"),
      s"theta bottom-k must not plan a window sort:\n${pp.take(800)}")
    assert(pp.toLowerCase.contains("partial_bottomkquantileagg"),
      s"expected a map-side partial bottom-k aggregate:\n${pp.take(800)}")
    // and it equals the window formulation exactly (input distinct on (a,h))
    val w = Window.partitionBy("a").orderBy("h")
    val win = sides.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 16).select("a", "h")
    assert(bk.exceptAll(win).isEmpty && win.exceptAll(bk).isEmpty)
    // q_text_pmi (r8 weak): vocabulary is unbounded in corpus size — the
    // unigram equi joins must carry no broadcast hint (AQE broadcasts
    // small frames from stats on its own; the hint would not flip off at
    // 100x). The 1-row total frame rides a Cross join, not these.
    val pmi = SparkEntry.queries("q_text_pmi")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    val equiJoins = pmi.linesIterator.filter(_.contains("Join Inner")).toSeq
    assert(equiJoins.nonEmpty, s"expected unigram equi joins in:\n${pmi.take(800)}")
    assert(equiJoins.forall(l => !l.toLowerCase.contains("broadcast")),
      s"unigram joins must be unhinted:\n${equiJoins.mkString("\n")}")
  }

  test("dynamic partition pruning fires on the partitioned fact scan") {
    val df = SparkEntry.queries("q_join_dpp")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter:\n${plan.take(1000)}")
    // and the dim filter must actually prune: a strict subset of types
    val got = df.collect().map(_.getString(0)).toSet
    val all = Tables(spark, sfDir, "events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(got.nonEmpty && got.subsetOf(all) && got != all,
      s"dim filter should select a strict non-empty subset: $got of $all")
  }

  test("BFS frontier join flips broadcast -> shuffle past the size gate") {
    import spark.implicits._
    // On a scale-free graph a middle BFS level is O(|V|): the frontier must
    // obey the same size gate as the seen set or it becomes a multi-GB
    // forced broadcast at 10^9 vertices.
    val e = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val f = Seq((0L, 0)).toDF("v", "level")
    val seen = Seq((0L, 0)).toDF("v", "level")
    def planOf(frontierCount: Long): String =
      graft.plans.GraphOps.expandTwice(e, f, seen, Seq(), 10L, frontierCount)
        .queryExecution.executedPlan.toString
    // below the gate: the frontier Inner join broadcasts
    val small = planOf(10L)
    val innerSmall = small.linesIterator.find(l =>
      l.contains("Join") && l.contains("Inner")).getOrElse("")
    assert(innerSmall.contains("Broadcast"),
      s"below the gate the frontier join should broadcast:\n${small.take(600)}")
    // past the gate: the frontier join flips to a sort-merge join (seen
    // stays gated separately — seenCount 10 keeps its broadcast, proving
    // the two gates are independent)
    val big = planOf(graft.plans.GraphOps.BroadcastSeenLimit + 1)
    val innerBig = big.linesIterator.find(l =>
      l.contains("Join") && l.contains("Inner")).getOrElse("")
    assert(innerBig.contains("SortMergeJoin"),
      s"past the gate the frontier join must merge-join:\n${big.take(600)}")
  }

  test("banded RANGE-window rewrite == direct RANGE window") {
    // The shipped q_win_range IS the banded plan; the naive 3-partition
    // spelling lives only here, as the equality baseline.
    val direct = graft.operators.Windows.naiveRangeWindow(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).sorted
    val banded = SparkEntry.queries("q_win_range")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).sorted
    assert(direct.nonEmpty && direct.sameElements(banded))
  }

  test("plan shapes: pushed filters, broadcast joins, top-k rewrite, Generate") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    // predicate pushdown reaches the parquet scan
    assert(plan("q_filter_predicates").contains("PushedFilters: [IsNotNull"),
      "filters should be pushed to the scan")
    // the 6-way join keeps its dims broadcast (explicit hints honored)
    assert(plan("q_tpch_q5").contains("BroadcastHashJoin"),
      "q5 dims should broadcast")
    // orderBy+limit is rewritten to TakeOrderedAndProject (no global sort)
    assert(plan("q_topk").contains("TakeOrderedAndProject"),
      "top-k should avoid a global sort")
    // the custom UDTF is planned through the native Generate operator
    assert(plan("q_udtf_ngrams").contains("Generate"),
      "ngrams generator should plan as Generate")
  }

  test("plan shapes: sessionize single exchange, fuzzy/phash no nested-loop join") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    // ONE hash exchange (user_id) serves both windows and the session agg —
    // the grouping keys extend the window partition key.
    val sess = plan("q_sessionize")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(sess).size
    assert(hashExchanges == 1, s"sessionize should shuffle once:\n$sess")
    // banded equi-join blocking: no quadratic join operator anywhere.
    // q_graph_jaccard rides along: its wedge self-join must stay key-based
    // (vertex-id equi joins), never degrade to an all-pairs comparison.
    for (q <- Seq("q_join_fuzzy", "q_mm_phash", "q_graph_jaccard")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not plan a nested-loop/cartesian join:\n$p")
    }
    // checksum aggregates map-side: single-partition exchange only
    val ck = plan("q_checksum_table")
    assert(!ck.contains("Exchange hashpartitioning"),
      s"checksum needs no key shuffle:\n$ck")
  }

  test("plan shapes: chunking shuffle-free, pack single exchange, broadcast probes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
    // chunking is pure narrow ops — its only exchange is the oracle's
    // final orderBy (range partitioning), never a hash shuffle
    val chunk = plan("q_text_chunk")
    assert(!chunk.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$chunk")
    // packing = one running-sum window per source stream: exactly one
    // hash exchange feeds it
    val pack = plan("q_text_pack")
    assert("Exchange hashpartitioning".r.findAllIn(pack).size == 1,
      s"packing should shuffle once:\n$pack")
    // the tiny signature/vocab sides broadcast; the corpus side streams
    for (q <- Seq("q_text_decontam", "q_text_vocab_prune")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q's probe join should broadcast:\n$p")
    }
  }

  test("BlockFuzzyJoin rule rewrites a levenshtein theta join to a banded equi join") {
    import spark.implicits._
    GraftRules.install(spark)
    val names = Tables.raw(spark, sfDir, "part").select("p_name").distinct()
    val a = names.select(col("p_name").as("na"))
    val b = names.select(col("p_name").as("nb"))
    // the naive spelling a user writes — Catalyst alone would plan BNLJ
    val fuzzy = a.join(b, levenshtein(col("na"), col("nb")) <= 2 &&
      col("na") < col("nb"))
    val plan = fuzzy.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"lev theta join should be blocked into an equi join:\n$plan")
    assert(plan.contains("__graft_lev_band"), s"band key should appear:\n$plan")
    // results must equal unblocked brute force
    import TestLev.lev
    val all = names.collect().map(_.getString(0))
    val brute = (for { x <- all; y <- all if x < y && lev(x, y) <= 2 } yield (x, y)).toSet
    val got = fuzzy.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == brute)
  }

  test("CollapseDoubleRound rule fires via extraOptimizations and preserves results") {
    import spark.implicits._
    GraftRules.install(spark)
    val df = Seq(1.23456, 2.5, -2.675).toDF("x")
      .select(round(round(col("x"), 2), 4).as("r"))
    val plan = df.queryExecution.optimizedPlan.toString
    // outer round(…, 4) must be gone
    assert(!plan.contains(", 4)"), s"outer round not collapsed:\n$plan")
    val expect = Seq(1.23456, 2.5, -2.675).toDF("x")
      .select(round(col("x"), 2).as("r")).collect().map(_.getDouble(0)).toSeq
    assert(df.collect().map(_.getDouble(0)).toSeq == expect)
  }
}
