package graft

import org.apache.spark.sql.functions._
import graft.plans.GraphOps
import graft.sources.{AdjacencyCodec, GraphStore}
import scala.collection.mutable

/** Golden graph tests over the G0–G12 adjacency-matrix fixtures
  * (`src/test/resources/graphs/`, authored to the shapes listed in
  * FIXTURES.md §1): BFS level-SET equality from start 17 on G6 (the
  * criterion of the reference's BFS checker) plus an independent
  * in-memory BFS oracle for every fixture.
  */
class GraphSpec extends SparkSpec {
  private val fixtures = new java.io.File(getClass.getResource("/graphs").toURI).getPath

  /** Independent oracle: plain sequential BFS over an adjacency map. */
  private def refBfs(edges: Seq[(Long, Long)], start: Long): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val lvl = mutable.Map(start -> 0)
    var frontier = Seq(start)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(lvl.contains)
      next.foreach(v => lvl(v) = lvl(frontier.head) + 1)
      frontier = next
    }
    lvl.toMap
  }

  private def sparkBfs(path: String, start: Long): Map[Long, Int] = {
    val edges = AdjacencyCodec.read(spark, path)
    GraphOps.bfsLevels(spark, edges, start)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("G6 BFS from vertex 17: level sets equal the in-memory oracle") {
    val path = s"$fixtures/G6.txt"
    val expected = refBfs(AdjacencyCodec.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, 17L)
    val got = sparkBfs(path, 17L)
    // level-set equality, the checker's criterion
    assert(got.groupBy(_._2).view.mapValues(_.keySet).toMap ==
      expected.groupBy(_._2).view.mapValues(_.keySet).toMap)
  }

  test("BFS matches oracle on every fixture (incl. directed G2, self-loop G0)") {
    for (g <- Seq("G0", "G1", "G2", "G3", "G4", "G5", "G7", "G8", "G9")) {
      val path = s"$fixtures/$g.txt"
      val edges = AdjacencyCodec.read(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(sparkBfs(path, 0L) == refBfs(edges, 0L), s"fixture $g")
    }
  }

  test("Pregel BFS == DataFrame-loop BFS on every fixture") {
    // from vertex 0, a non-zero start, and a start that is no edge
    // endpoint (its BFS is the start alone)
    val isolated = 1000000L
    def levels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (g <- Seq("G2", "G5", "G6", "G12"); start <- Seq(0L, 3L, isolated)) {
      val edges = AdjacencyCodec.read(spark, s"$fixtures/$g.txt")
      val loop = levels(GraphOps.bfsLevels(spark, edges, start))
      val pregelDf = GraphOps.bfsLevelsPregel(spark, edges, start)
      val pregel = levels(pregelDf)
      assert(pregel == loop, s"fixture $g from $start")
      if (start == isolated) assert(pregel == Map(isolated -> 0), s"fixture $g")
      // the GraphX vertex RDD takes the edge RDD's partition count
      assert(pregelDf.rdd.getNumPartitions == math.max(1, edges.rdd.getNumPartitions),
        s"fixture $g: vertex partitions")
    }
  }

  test("checkpointCount: exact count, one LogicalRDD leaf, exactly one Spark job") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(0L, 1000L, 1L, 4).toDF().filter(col("id") % 3 === 0)
    val ((cp, n), jobs) = sparkJobs(GraphOps.checkpointCount(df))
    assert(n == 334L)
    assert(cp.queryExecution.logical.isInstanceOf[LogicalRDD],
      s"not a single LogicalRDD leaf:\n${cp.queryExecution.logical}")
    assert(jobs == 1, s"$jobs Spark jobs for one checkpoint-and-count")
    // the filled checkpoint serves later reads, and a predicate counts a subset
    assert(cp.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L by 3L))
    assert(GraphOps.checkpointCount(df, col("id") < 30)._2 == 10L)
  }

  test("BFS loops run a pinned number of Spark jobs per call") {
    // The barrier count of the level-BFS and σ-BFS loops, pinned: a change
    // to how a superstep is built must not add a barrier (or a broadcast
    // or shuffle job) per level.
    val g6 = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val multi = Seq("G1.txt", "G3.txt", "G6.txt").map { f =>
      AdjacencyCodec.read(spark, s"$fixtures/$f").withColumn("graph", lit(f))
    }.reduce(_.unionByName(_))
    val bfs = sparkJobs(GraphOps.bfsLevels(spark, g6, 17L))._2
    val graphs = sparkJobs(GraphOps.multiGraphBfs(spark, multi, 0L))._2
    val sigma = sparkJobs(GraphOps.multiSourceBfsSigma(spark, g6,
      Seq(0L, 17L, 29L)))._2
    assert((bfs, graphs, sigma) == ((32, 32, 30)),
      s"Spark jobs (bfsLevels, multiGraphBfs, multiSourceBfsSigma)")
  }

  test("G12 empty graph: BFS returns just the start vertex") {
    assert(sparkBfs(s"$fixtures/G12.txt", 0L) == Map(0L -> 0))
  }

  test("BFS-tree leaves: leaves = reachable minus internal, level-consistent") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val levels = GraphOps.bfsLevels(spark, edges, 17L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val leaves = GraphOps.bfsTreeLeaves(spark, edges, 17L).collect()
      .map(r => r.getLong(0)).toSet
    assert(leaves.subsetOf(levels.keySet))
    // every non-leaf reachable vertex parents someone one level deeper
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    for (v <- levels.keySet -- leaves) {
      assert(e.exists { case (s, d) =>
        s == v && levels.get(d).contains(levels(v) + 1) &&
          // v is the MIN such parent of d
          !e.exists { case (s2, d2) => d2 == d && s2 < v &&
            levels.get(s2).contains(levels(v)) }
      }, s"vertex $v should be a min-parent")
    }
  }

  test("PageRank DataFrame loop converges to the same fixed point as GraphX") {
    import org.apache.spark.graphx.{Edge, Graph}
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    // 20 iterations: both implementations are within tolerance of the
    // unique fixed point regardless of initialization details
    val ours = GraphOps.pageRank(spark, edges, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val edgeRdd = edges.collect().map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val gx = Graph.fromEdges(spark.sparkContext.parallelize(edgeRdd.toSeq), ())
      .staticPageRank(20).vertices.collect().toMap
    for ((v, pr) <- gx) {
      assert(math.abs(ours(v) - pr) < 1e-3, s"vertex $v: ours=${ours(v)} graphx=$pr")
    }
  }

  test("personalized PageRank matches GraphX staticPersonalizedPageRank") {
    import org.apache.spark.graphx.{Edge, Graph}
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val raw = GraphOps.personalizedPageRank(spark, edges, 17L, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // GraphX normalizes personalized ranks to sum 1 (normalizeRankSum);
    // our recurrence (and its DuckDB oracle) keeps raw teleport mass —
    // compare the normalized distributions.
    val total = raw.values.sum
    val ours = raw.map { case (v, pr) => v -> pr / total }
    val edgeRdd = edges.collect().map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val gx = Graph.fromEdges(spark.sparkContext.parallelize(edgeRdd.toSeq), ())
      .staticPersonalizedPageRank(17L, 20).vertices.collect().toMap
    for ((v, pr) <- gx) {
      assert(math.abs(ours(v) - pr) < 1e-3, s"vertex $v: ours=${ours(v)} graphx=$pr")
    }
    // the teleport term alone guarantees the seed at least its restart mass
    // (a high-in-degree neighbor may legitimately out-rank the seed, so
    // max-at-seed is NOT an invariant)
    assert(raw(17L) >= 0.15)
    assert(raw.values.forall(_ >= 0.0))
  }

  test("multi-source Brandes equals the sum of single-source dependency passes") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val vs = edges.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.sorted
    val seeds = vs.take(3).toSeq
    val perSeed = seeds.map { s =>
      s -> GraphOps.brandesDependency(spark, edges, s)
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    }
    val expected = vs.map { v =>
      v -> perSeed.collect { case (s, dep) if s != v => dep.getOrElse(v, 0.0) }.sum
    }.toMap
    val got = GraphOps.multiSourceBrandes(spark, edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (v <- vs) {
      // per-seed deps are rounded at 1e-4 before summing in the reference
      // (r14: the double-summation compares moved from e6 to e4 rounding)
      assert(math.abs(got(v) - expected(v)) < 1e-3, s"vertex $v")
    }
  }

  test("SCC: cycles, cross-SCC chains, and a vertex that needs a second coloring round") {
    import spark.implicits._
    // {1,2} → 3 → {4,5}: two 2-cycles bridged by a chain vertex; 3 has
    // both an in- and an out-edge, so it survives the trim pre-pass and
    // round 1's flood assigns it.
    // {8,9} → {0,10}: the 2-cycle {0,10} is colored by root 9 but is NOT
    // in SCC(9) (no path back), and trim can't peel it (every vertex has
    // in+out edges) — so it stays unassigned until round 2: the
    // multi-round path of the algorithm is exercised even with trim.
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L),
      (8L, 9L), (9L, 8L), (9L, 0L), (0L, 10L), (10L, 0L)).toDF("src", "dst")
    val got = GraphOps.stronglyConnectedComponents(spark, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 5L, 5L -> 5L,
      8L -> 9L, 9L -> 9L, 0L -> 10L, 10L -> 10L))
  }

  test("SCC trim: a pure chain resolves with ZERO coloring rounds (maxRounds=1)") {
    import spark.implicits._
    // Every vertex of a chain is a singleton SCC; pre-trim, each round's
    // color flood peeled O(1) of them (the adversarial case the round cap
    // exists for). With the trim pre-pass the whole chain peels inside
    // round 1's trim fixpoint — no flood supersteps at all.
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.stronglyConnectedComponents(spark, chain, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 9L).map(v => v -> v).toMap)
  }

  test("weighted PageRank: uniform weights == unweighted; weights actually shift mass") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (2L, 3L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(spark, edges, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // constant weight w=7: w/Σw = 1/outdeg, so ranks agree to float noise
    val uniform = GraphOps.weightedPageRank(spark, edges.withColumn("w", lit(7L)), 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((v, p) <- pr) assert(math.abs(uniform(v) - p) < 1e-9, s"vertex $v")
    // skewed weight on 0->1 must pull mass toward 1 relative to 2
    val skew = GraphOps.weightedPageRank(spark,
      edges.withColumn("w", when(col("src") === 0 && col("dst") === 1, 9L).otherwise(1L)), 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(skew(1L) > uniform(1L), "weight 9 on 0->1 must raise vertex 1's rank")
  }

  test("VersionedGraphStore: concurrent writers claim distinct monotonic ids; time travel stable") {
    import spark.implicits._
    import graft.sources.VersionedGraphStore
    val base = ProcessCache.path("spec", "vstore")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // 4 writers race: every commit must win a DISTINCT id (the losing
    // createLink retries with the next id), ids are 1..4, and each
    // claimed snapshot holds exactly its writer's data — a torn manifest
    // or double-claimed version breaks one of these.
    val claimed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          val v = VersionedGraphStore.commit(
            Seq((i.toLong, 0L)).toDF("src", "dst"), base)
          claimed.add(i.toLong -> v)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent commit failed: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    val byWriter = claimed.asScala.toMap
    assert(byWriter.values.toSeq.sorted == Seq(1L, 2L, 3L, 4L),
      s"expected ids 1..4, got ${byWriter.values.toSeq.sorted}")
    assert(VersionedGraphStore.versions(base) == Seq(1L, 2L, 3L, 4L))
    for ((writer, v) <- byWriter) {
      val rows = VersionedGraphStore.loadAt(spark, base, v)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((writer, 0L)), s"snapshot $v holds $rows, not writer $writer's data")
    }
    // a later commit must not disturb a time-travel read of an old id
    val latest = VersionedGraphStore.commit(
      Seq((99L, 99L)).toDF("src", "dst"), base)
    assert(latest == 5L)
    val v1writer = byWriter.find(_._2 == 1L).get._1
    assert(VersionedGraphStore.loadAt(spark, base, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((v1writer, 0L)))
    assert(VersionedGraphStore.load(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((99L, 99L)))
    // retention vacuum: old manifests go first (commit point), then
    // unreferenced snapshot directories; the survivors stay readable.
    // Under the DEFAULT grace period the just-written unreferenced dirs
    // are YOUNG and must survive (they are indistinguishable from a
    // concurrent commit that has written data but not yet linked its
    // manifest — the r7 ADVICE race); with graceMs = 0 (exclusive
    // access, as here) they collect.
    assert(VersionedGraphStore.vacuum(base, keepLast = 2) == Seq(1L, 2L, 3L))
    assert(VersionedGraphStore.versions(base) == Seq(4L, 5L))
    intercept[IllegalArgumentException] {
      VersionedGraphStore.loadAt(spark, base, 1L)
    }
    assert(VersionedGraphStore.load(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((99L, 99L)))
    def snapDirs() = new java.io.File(base).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
    assert(snapDirs().length == 5,
      s"graced vacuum removed young unreferenced dirs (${snapDirs().length} left, want 5)")
    assert(VersionedGraphStore.vacuum(base, keepLast = 2, graceMs = 0L).isEmpty)
    assert(snapDirs().length == 2,
      s"exclusive vacuum left ${snapDirs().length} snapshot dirs, want 2")
    assert(VersionedGraphStore.load(spark, base)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((99L, 99L)))
  }

  test("dagLayers throws loudly on cyclic input instead of silently truncating (both gate paths)") {
    import spark.implicits._
    // a cycle REACHABLE FROM A SOURCE keeps improving layers forever (a
    // source-free pure cycle would start with an empty frontier instead)
    val cyc = Seq((5L, 0L), (0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val exDriver = intercept[IllegalStateException] {
      GraphOps.dagLayers(spark, cyc, maxIter = 8)
    }
    assert(exDriver.getMessage.contains("cycle"))
    val exBsp = intercept[IllegalStateException] {
      GraphOps.dagLayers(spark, cyc, maxIter = 8, driverSolveLimit = 0L)
    }
    assert(exBsp.getMessage.contains("cycle"))
  }

  test("multiGraphBfs: one (graph,v)-keyed job == per-graph bfsLevels over a fixture directory") {
    // the reference's load-balancer scenario: a directory of graph files,
    // one BFS per graph — here ONE batched job must equal the per-graph runs
    val files = Seq("G1.txt", "G3.txt", "G6.txt")
    val edges = files.map { f =>
      AdjacencyCodec.read(spark, s"$fixtures/$f")
        .withColumn("graph", org.apache.spark.sql.functions.lit(f))
    }.reduce(_.unionByName(_))
    val multi = GraphOps.multiGraphBfs(spark, edges, 0L).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val single = files.flatMap { f =>
      GraphOps.bfsLevels(spark, AdjacencyCodec.read(spark, s"$fixtures/$f"), 0L)
        .collect().map(r => (f, r.getLong(0)) -> r.getInt(1))
    }.toMap
    assert(multi == single, "batched multi-graph BFS diverges from per-graph BFS")
    assert(files.forall(f => multi.keys.exists(_._1 == f)),
      "every graph in the directory must contribute reachable vertices")
  }

  test("incrementalConnectedComponents(state, delta) == full CC on the merged graph") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    // base: three components {1,2,3}, {10,11}, {20,21}
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // delta: merges {1..3} with {10,11}, attaches NEW vertices 30,31 to 20,
    // and adds a brand-new isolated pair {40,41}
    val delta = Seq((3L, 10L), (20L, 30L), (30L, 31L), (40L, 41L))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = GraphOps.connectedComponents(spark, sym(base))
    val inc = toMap(GraphOps.incrementalConnectedComponents(spark, prev, sym(delta)))
    val full = toMap(GraphOps.connectedComponents(spark, sym(base ++ delta)))
    assert(inc == full, "incremental maintenance diverges from the full recompute")
    // and through the forced-BSP contracted-CC path too
    val incBsp = toMap(GraphOps.incrementalConnectedComponents(
      spark, prev, sym(delta), driverSolveLimit = 0L))
    assert(incBsp == full, "BSP contracted-CC path diverges")
    assert(inc(11L) == 1L && inc(31L) == 20L && inc(41L) == 40L)
  }

  /** The BFS diff `(v1, v2, inserted, deleted)` of the delete-aware BFS
    * maintainer tests. v1: chain 0→1→2→3→4 plus a shortcut 0→3
    * (level(3)=1, level(4)=2) and a spur 1→10 (level 2). v2 deletes the
    * shortcut 0→3 → levels of 3 and 4 RAISE through the support cascade
    * (3: 1→3, 4: 2→4); deletes 1→10 → vertex 10 VANISHES; inserts 0→4 →
    * level(4) LOWERS to 1 (the raise and the lower fight over the same
    * vertex — the single fixpoint must pick 1). */
  private def bfsDelDiff = {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    (df(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L), (1L, 10L))),
      df(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L))),
      df(Seq((0L, 4L))), df(Seq((0L, 3L), (1L, 10L))))
  }

  /** The weighted `(src, dst, w)` diff `(v1, v2, inserted, deleted)` of
    * the delete-aware SSSP maintainer tests. v1: 0→1 (w1), 1→2 (w1),
    * 2→3 (w1), plus a cheap shortcut 0→2 (w1) so dist(2)=1, dist(3)=2;
    * a spur 1→10 (w1). v2 deletes the shortcut (dist(2) raises 1→2
    * through the tight cascade, dist(3) 2→3); deletes the spur (10
    * vanishes); inserts a direct 0→3 (w2) — the raise and the lower meet
    * at vertex 3 (min 2). */
  private def ssspDelDiff = {
    import spark.implicits._
    def df(e: Seq[(Long, Long, Long)]) = e.toDF("src", "dst", "w")
    (df(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 2L, 1L), (1L, 10L, 1L))),
      df(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 2L))),
      df(Seq((0L, 3L, 2L))), df(Seq((0L, 2L, 1L), (1L, 10L, 1L))))
  }

  /** The DAG diff `(v1, v2, inserted, deleted)` of the delete-aware
    * layering tests. v1: 0→1→2→3 chain, plus 0→2 (so layer(2)=2 via
    * 0→1→2), 5→6 pendant, and 0→5 (layer(5)=1, layer(6)=2). v2 deletes
    * 1→2 (layer(2) LOWERS 2→1 via 0→2, layer(3) 3→2); deletes 0→5 (5
    * becomes a NEW SOURCE: layer 1→0, 6: 2→1); inserts 3→7 (a new
    * vertex at the end of a raise chain). */
  private def dagDelDiff = {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    (df(Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (5L, 6L), (0L, 5L))),
      df(Seq((0L, 1L), (2L, 3L), (0L, 2L), (5L, 6L), (3L, 7L))),
      df(Seq((3L, 7L))), df(Seq((1L, 2L), (0L, 5L))))
  }

  test("incrementalBfsLevelsDelete == full BFS (raise, cascade, vanish, insert-lower)") {
    val (v1, v2, ins, del) = bfsDelDiff
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val prev = GraphOps.bfsLevels(spark, v1, 0L)
    val inc = toMap(GraphOps.incrementalBfsLevelsDelete(spark, v2, prev, ins, del))
    val full = toMap(GraphOps.bfsLevels(spark, v2, 0L))
    assert(inc == full, s"delete-aware maintenance diverges: $inc vs $full")
    // and through the forced-BSP cascade path (driver gate off)
    val incBsp = toMap(GraphOps.incrementalBfsLevelsDelete(
      spark, v2, prev, ins, del, cascadeDriverLimit = 0L))
    assert(incBsp == full, s"BSP cascade path diverges: $incBsp vs $full")
    assert(!inc.contains(10L), "vertex with no surviving path must vanish")
    assert(inc(3L) == 3 && inc(4L) == 1)
  }

  test("incrementalSsspDelete == full SSSP (tight-parent cascade, vanish, insert-lower)") {
    import spark.implicits._
    val (v1, v2, ins, del) = ssspDelDiff
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = GraphOps.sssp(spark, v1, 0L)
    val inc = toMap(GraphOps.incrementalSsspDelete(spark, v2, prev, ins, del))
    val full = toMap(GraphOps.sssp(spark, v2, 0L))
    assert(inc == full, s"delete-aware SSSP diverges: $inc vs $full")
    val incBsp = toMap(GraphOps.incrementalSsspDelete(
      spark, v2, prev, ins, del, cascadeDriverLimit = 0L))
    assert(incBsp == full, s"BSP cascade path diverges: $incBsp vs $full")
    assert(!inc.contains(10L) && inc(2L) == 2L && inc(3L) == 2L)
    // the support cascade is unsound under zero-weight cycles: a
    // non-positive weight in the new snapshot must fail loudly
    val zero = Seq((3L, 5L, 0L)).toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException](GraphOps.incrementalSsspDelete(
      spark, v2.unionByName(zero), prev, ins.unionByName(zero), del))
    assert(err.getMessage.contains("strictly positive"), err.getMessage)
  }

  test("incrementalDagLayersDelete == full layering (lower, new source, vanish, raise)") {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // case 2: v1 = 0→1→2; v2 deletes 1→2 and inserts 9→0, so the NEW
    // vertex 9 is a source at layer 0 and raises 0 and 1 above it — a new
    // source that is not an unsettled vertex must still self-seed
    val newSource = (df(Seq((0L, 1L), (1L, 2L))), df(Seq((0L, 1L), (9L, 0L))),
      df(Seq((9L, 0L))), df(Seq((1L, 2L))))
    for (((v1, v2, ins, del), c) <- Seq(dagDelDiff, newSource).zipWithIndex) {
      val prev = GraphOps.dagLayers(spark, v1)
      val full = toMap(GraphOps.dagLayers(spark, v2))
      for (limit <- Seq(GraphOps.DriverSolveEdgeLimit, 0L)) {
        val inc = toMap(GraphOps.incrementalDagLayersDelete(
          spark, v2, prev, ins, del, cascadeDriverLimit = limit))
        assert(inc == full, s"case $c, cascade limit $limit: delete-aware " +
          s"layering diverges: $inc vs $full")
      }
      if (c == 0) assert(full(2L) == 1L && full(3L) == 2L && full(5L) == 0L &&
        full(7L) == 3L)
      else assert(full == Map(9L -> 0L, 0L -> 1L, 1L -> 2L))
    }
  }

  test("incrementalConnectedComponentsDelete == full CC (split, vanish, glue-merge)") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    // base: a chain {1,2,3,4}, a pair {10,11}, a pair {20,21}
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
    // new: delete (2,3) → SPLIT into {1,2} and {3,4}; delete (10,11) → 10
    // and 11 VANISH from the edge-defined universe; insert (4,20) → the
    // split-off {3,4} glues onto the untouched {20,21} component
    val newE = Seq((1L, 2L), (3L, 4L), (20L, 21L), (4L, 20L))
    val ins = Seq((4L, 20L))
    val del = Seq((2L, 3L), (10L, 11L))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = GraphOps.connectedComponents(spark, sym(base))
    val inc = toMap(GraphOps.incrementalConnectedComponentsDelete(
      spark, sym(newE), prev, sym(ins), sym(del)))
    val full = toMap(GraphOps.connectedComponents(spark, sym(newE)))
    assert(inc == full, "delete-aware maintenance diverges from the full recompute")
    assert(!inc.contains(10L) && !inc.contains(11L),
      "vertices with no surviving edge must vanish")
    assert(inc(1L) == 1L && inc(2L) == 1L && inc(4L) == 3L && inc(21L) == 3L)
    // and through the forced-BSP CC paths too
    val incBsp = toMap(GraphOps.incrementalConnectedComponentsDelete(
      spark, sym(newE), prev, sym(ins), sym(del), driverSolveLimit = 0L))
    assert(incBsp == full, "BSP path diverges")
    // pure-delete diff (empty insert side → empty glue graph): the split
    // and the vanish must still land without the contracted merge pass
    val newE2 = Seq((1L, 2L), (3L, 4L), (20L, 21L))
    val incDelOnly = toMap(GraphOps.incrementalConnectedComponentsDelete(
      spark, sym(newE2), prev, sym(Seq.empty[(Long, Long)]), sym(del)))
    val fullDelOnly = toMap(GraphOps.connectedComponents(spark, sym(newE2)))
    assert(incDelOnly == fullDelOnly, "pure-delete diff diverges")
  }

  test("incrementalBfsLevels(state, delta) == full BFS on the merged graph") {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    // base: a long chain 0->1->2->3->4->5 plus a detached pair 10->11
    // (unreachable in v1), so the deltas exercise BOTH improvement kinds:
    // a shortcut that LOWERS existing levels several hops deep, and an
    // edge that REACHES previously-unreachable vertices.
    val base = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    // delta: 0->3 (drops 3,4,5 by two levels — a multi-hop cascade) and
    // 5->10 (pulls the {10,11} island into reach)
    val delta = Seq((0L, 3L), (5L, 10L))
    val full = df(base ++ delta)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val prev = GraphOps.bfsLevels(spark, df(base), 0L)
    val inc = toMap(GraphOps.incrementalBfsLevels(spark, full, prev, df(delta)))
    val fullBfs = toMap(GraphOps.bfsLevels(spark, full, 0L))
    assert(inc == fullBfs, "incremental maintenance diverges from full BFS")
    assert(inc(3L) == 1 && inc(5L) == 3 && inc(11L) == 5,
      "cascade did not propagate the shortcut and the new island")
    // a delta edge whose source is unreachable must contribute nothing
    val noop = toMap(GraphOps.incrementalBfsLevels(
      spark, df(base :+ (97L -> 98L)), prev, Seq((97L, 98L)).toDF("src", "dst")))
    assert(noop == toMap(GraphOps.bfsLevels(spark, df(base), 0L)),
      "an unreachable-source insert must leave the state unchanged")
  }

  test("triangleDelta: prev_total + delta == full count across 1/2/3-new-edge triangles") {
    import spark.implicits._
    def canon(e: Seq[(Long, Long)]) = e.map { case (x, y) =>
      (math.min(x, y), math.max(x, y))
    }.distinct.toDF("a", "b")
    // base: open wedge 4-5-6, single edge 7-8, and a spare old edge 1-2
    val base = Seq((4L, 5L), (5L, 6L), (7L, 8L), (1L, 2L))
    // delta closes/creates triangles with exactly 1, 2, and 3 new edges:
    // (4,6) closes the wedge (1 new); (8,9)+(7,9) complete 7-8-9 (2 new);
    // (2,3)+(1,3) with... no — {1,2,3}: (1,2) old, so use fresh {10,11,12}
    val delta = Seq((4L, 6L), (8L, 9L), (7L, 9L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val undPrev = canon(base)
    val undFull = canon(base ++ delta)
    val inserted = undFull.join(undPrev, Seq("a", "b"), "left_anti")
    val tris = GraphOps.triangleDelta(undFull, inserted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // each triangle appears ONCE despite being reachable through 1, 2, or
    // 3 of its inserted edges
    assert(tris == Set((4L, 5L, 6L), (7L, 8L, 9L), (10L, 11L, 12L)),
      s"got $tris")
    // and 0 previous triangles + 3 delta == the full enumeration
    val wedges = undFull.as("x").join(undFull.as("y"),
        org.apache.spark.sql.functions.col("x.b") ===
          org.apache.spark.sql.functions.col("y.a"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
    val fullCount = wedges.join(
        undFull.select(col("a").as("ca"), col("b").as("cb")),
        col("a") === col("ca") && col("c") === col("cb"), "left_semi").count()
    assert(fullCount == 3L && tris.size.toLong == fullCount)
  }

  test("pageRankWarmStart: 3 warm iterations beat 3 cold ones, 0 iterations return the state") {
    // the query's exact setup at sf0.001: the ring graph with the
    // out-edges of src % 97 == 1 (~1% of sources) held out of v1 — a
    // genuinely small delta. (On a tiny near-regular graph like the G6
    // fixture warm does NOT beat cold: the un-normalized cold init 1.0 is
    // already near the fixpoint there — the advantage needs rank variance
    // plus a delta that is small RELATIVE to the graph.)
    val c = Tables(spark, sfDir, "customer").select(col("c_custkey"))
    val n = c.count()
    val edges = Seq((2L, 1L), (5L, 7L), (16L, 3L)).map { case (m, a) =>
      c.select(col("c_custkey").cast("long").as("src"),
        ((col("c_custkey") * m + a) % n).cast("long").as("dst"))
    }.reduce(_ union _)
    val prevEdges = edges.filter(col("src") % 97 =!= 1)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prev = GraphOps.pageRank(spark, prevEdges, 10)
    // iterations = 0 must return the stored state verbatim on the same
    // vertex set (the warm init IS the state)
    val same = toMap(GraphOps.pageRankWarmStart(spark, prevEdges, prev, 0))
    val prevM = toMap(prev)
    assert(same.keySet == prevM.keySet &&
      same.forall { case (v, p) => math.abs(p - prevM(v)) < 1e-12 })
    // warm-start on the FULL graph: 3 warm iterations from the previous
    // fixpoint must land strictly closer to the new fixpoint than 3 cold
    // ones from the uniform vector — the whole point of rank maintenance
    val fix = toMap(GraphOps.pageRank(spark, edges, 50))
    def dist(m: Map[Long, Double]) =
      m.map { case (v, p) => math.abs(p - fix(v)) }.max
    val warm = dist(toMap(GraphOps.pageRankWarmStart(spark, edges, prev, 3)))
    val cold = dist(toMap(GraphOps.pageRank(spark, edges, 3)))
    assert(warm < cold,
      s"warm residual $warm must beat cold residual $cold")
  }

  test("boruvka to convergence matches in-memory Kruskal forest weight") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .withColumn("w", ((col("a") * 5 + col("b") * 11) % 13 + 1).cast("long"))
    val es = und.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // in-memory Kruskal with the same lexicographic (w, a, b) order
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var kruskalW = 0L
    var kruskalN = 0
    es.sortBy { case (a, b, w) => (w, a, b) }.foreach { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; kruskalW += w; kruskalN += 1 }
    }
    val (labels, chosen) = GraphOps.boruvka(spark, und, 10)
    val got = chosen.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // MSF weight is unique (and so is the edge COUNT: V - components);
    // the edge SET may differ between algorithms only under weight ties,
    // which both resolve deterministically but along different orders
    assert(got.map(_._3).sum == kruskalW,
      s"Borůvka weight ${got.map(_._3).sum} != Kruskal weight $kruskalW")
    assert(got.length == kruskalN, "forest edge count mismatch")
    // after convergence every remaining edge is intra-component
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(es.forall { case (a, b, _) => comps(a) == comps(b) },
      "an outgoing edge survived convergence")
  }

  test("dagLayers: driver Kahn gate path == distributed BSP loop") {
    // same gate-equality discipline as connectedComponents: the two paths
    // must agree layer-for-layer on a real fixture DAG
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
      .filter(col("src") < col("dst"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = toMap(GraphOps.dagLayers(spark, edges))
    val bsp = toMap(GraphOps.dagLayers(spark, edges, driverSolveLimit = 0L))
    assert(driver == bsp, "gate paths diverge")
  }

  test("DAG layering matches in-memory longest-path DP over topological order") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
      .filter(col("src") < col("dst"))
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val dsts = es.map(_._2).toSet
    val layer = scala.collection.mutable.Map[Long, Long]()
    for (v <- vs if !dsts.contains(v)) layer(v) = 0L
    // ascending id IS a topological order (every edge goes small -> large)
    for (v <- vs; (s2, d) <- es if s2 == v) {
      val cand = layer(v) + 1
      if (!layer.contains(d) || layer(d) < cand) layer(d) = cand
    }
    val got = GraphOps.dagLayers(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == layer.toMap)
    assert(got.values.max >= 2, "fixture DAG should be at least 3 layers deep")
  }

  test("local clustering coefficient matches in-memory neighbor-pair counting") {
    val got = graft.operators.GraphQueries.queries("q_graph_lcc")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // rebuild the ring graph in memory exactly as ringEdges does
    val n = Tables(spark, sfDir, "customer").count()
    val und = (0L until n).flatMap(v => Seq((v * 2 + 1) % n, (v * 5 + 7) % n, (v * 16 + 3) % n)
      .filter(_ != v).map(d => (math.min(v, d), math.max(v, d)))).distinct
    val nbr = (und ++ und.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    for ((v, (deg, tri, lcc)) <- got) {
      assert(deg == nbr(v).size.toLong, s"deg $v")
      val ns = nbr(v).toSeq
      val expectTri = (for (i <- ns.indices; j <- (i + 1) until ns.size
        if nbr(ns(i)).contains(ns(j))) yield 1).size.toLong
      assert(tri == expectTri, s"tri $v")
      val expectLcc = if (deg >= 2) tri * 2000000L / (deg * (deg - 1)) else 0L
      assert(lcc == expectLcc, s"lcc $v")
    }
    assert(got.nonEmpty)
  }

  test("modularity decomposition: degree mass conserved, total Q positive") {
    val rows = graft.operators.GraphQueries.queries("q_graph_modularity")(spark, sfDir)
      .collect()
    val n = Tables(spark, sfDir, "nation").count()
    val c = Tables(spark, sfDir, "customer").count()
    val m_dir = 2 * (n + c) // hierEdges: nation<->region + customer<->nation
    assert(rows.map(_.getLong(2)).sum == m_dir, "sum of community degrees = 2m")
    assert(rows.map(_.getLong(1)).sum <= m_dir / 2, "intra edges bounded by m")
    // Q ∈ (−1, 1): the scaled total must stay inside ±(2m)². (On this tiny
    // star-shaped hierarchy labelprop does NOT beat the null model — hub
    // topologies have weak modularity — so positivity is not an invariant.)
    val q = rows.map(_.getLong(3)).sum
    assert(q.abs < m_dir * m_dir, "Q bounded in (-1, 1)")
  }

  test("HITS matches an in-memory max-normalized power iteration") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val vs = es.flatMap(e => Seq(e._1, e._2)).distinct
    var auth = vs.map(_ -> 1.0).toMap
    var hub = vs.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      val ar = vs.map(v => v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val am = ar.values.max
      auth = ar.map { case (v, x) => v -> x / am }
      val hr = vs.map(v => v -> es.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
      val hm = hr.values.max
      hub = hr.map { case (v, x) => v -> x / hm }
    }
    val got = GraphOps.hits(spark, edges, 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    for (v <- vs) {
      assert(math.abs(got(v)._1 - auth(v)) < 1e-9, s"auth $v")
      assert(math.abs(got(v)._2 - hub(v)) < 1e-9, s"hub $v")
    }
    // warm start (r11 advice low): normalization commutes through the
    // linear half-steps, so 1 warm iteration from the (normalized)
    // 5-iteration output must equal the cold 6-iteration run up to the
    // scalar-divide reordering ulps; an explicit uniform warm frame
    // must equal the cold run EXACTLY (identical linear algebra).
    import spark.implicits._
    val cold6 = GraphOps.hits(spark, edges, 6)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val warm = GraphOps.hits(spark, edges, 1,
      warmFrom = Some(got.toSeq.map { case (v, (a, h)) => (v, a, h) }
        .toDF("v", "auth", "hub")))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    for (v <- vs) {
      assert(math.abs(warm(v)._1 - cold6(v)._1) < 1e-9, s"warm auth $v != cold 6-iter")
      assert(math.abs(warm(v)._2 - cold6(v)._2) < 1e-9, s"warm hub $v != cold 6-iter")
    }
    val uniform = GraphOps.hits(spark, edges, 5,
      warmFrom = Some(vs.map(v => (v, 1.0, 1.0)).toSeq.toDF("v", "auth", "hub")))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(uniform == got, "uniform warm frame must reproduce the cold run exactly")
  }

  test("Jaccard vertex similarity matches in-memory neighbor sets") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G6.txt")
    val und = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbr = (und ++ und.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val expected = und.map { case (a, b) =>
      val inter = nbr(a).intersect(nbr(b)).size.toLong
      (a, b) -> inter * 1000000L / (nbr(a).size + nbr(b).size - inter)
    }.toMap
    val got = GraphOps.jaccardEdges(spark, edges)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.values.forall(j => j >= 0L && j <= 1000000L))
  }

  test("connected components on two disjoint triangles") {
    import spark.implicits._
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
    val sym = tri ++ tri.map(_.swap)
    val cc = GraphOps.connectedComponents(spark, sym.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components: driver union-find == distributed BSP loop") {
    import spark.implicits._
    // deterministic pseudo-random edge soup with several components
    val edges = (0 until 200).map { i =>
      val a = (i * 37) % 120; val b = (i * i * 13 + 5) % 120
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val sym = (edges ++ edges.map(_.swap)).toDF("src", "dst")
    val viaDriver = GraphOps.connectedComponents(spark, sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBsp = GraphOps.connectedComponents(spark, sym, driverSolveLimit = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaBsp)
  }

  test("sssp on a hand graph + dominance over BFS levels on the ring graph") {
    import spark.implicits._
    // 0→1 (w by rule 1+(s+d)%5), hand-check: 0→1 w=2, 1→2 w=4, 0→2 direct w=3.
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L))
      .toDF("src", "dst")
      .selectExpr("src", "dst", "1 + (src + dst) % 5 AS w")
    val d = GraphOps.sssp(spark, e, 0L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 2L, 2L -> 3L)) // direct 0→2 beats 0→1→2 (2+4)
    // Invariant on the real graph: hops(v) <= dist(v) <= 5 * hops(v)
    // (weights are 1..5), and both traversals reach the same vertex set.
    val lv = graft.operators.GraphQueries.queries("q_graph_bfs")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ds = graft.operators.GraphQueries.queries("q_graph_sssp")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ds.keySet == lv.keySet)
    for ((v, l) <- lv) {
      assert(ds(v) >= l, s"v=$v dist=${ds(v)} level=$l")
      assert(ds(v) <= 5L * l || l == 0, s"v=$v dist=${ds(v)} level=$l")
    }
  }

  test("AdjacencyV2 source == driver-side codec on every reference fixture; pruning pushed") {
    // copy the G*.txt fixtures into a clean dir (the reader must only
    // ever see graph files)
    val tmp = java.nio.file.Files.createTempDirectory("graft-adjv2")
    val gs = new java.io.File(fixtures).listFiles()
      .filter(f => f.getName.matches("G\\d+\\.txt")).sortBy(_.getName)
    assert(gs.nonEmpty)
    gs.foreach(f => java.nio.file.Files.copy(f.toPath,
      tmp.resolve(f.getName)))
    val v2 = spark.read.format("graft.sources.AdjacencyV2").load(tmp.toString)
    val byGraph = v2.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3)).toSet).toMap
    gs.foreach { f =>
      val codec = AdjacencyCodec.read(spark, f.getPath).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(byGraph.getOrElse(f.getName, Set.empty) == codec,
        s"DSv2 and codec disagree on ${f.getName}")
    }
    // column pruning reaches the reader: a src-only projection's scan
    // emits exactly one column
    val leaf = v2.select("src").queryExecution.executedPlan
      .collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("src"),
      s"pruning not pushed: ${leaf.output}")
  }

  test("AdjacencyV2 sink: distributed write → codec read round-trips, rewrite idempotent") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-adjv2-w").toString
    val edges = (for (i <- 0L until 40L) yield ("w.txt", i, (i * 7 + 3) % 40)) :+
      (("w2.txt", 0L, 1L))
    def writeAll(): Unit = edges.toDF("graph", "src", "dst")
      .repartition(col("graph"))
      .write.format("graft.sources.AdjacencyV2").mode("append").save(tmp)
    writeAll()
    val expect = edges.filter(_._1 == "w.txt").map(e => (e._2, e._3)).toSet
    def readBack(): Set[(Long, Long)] =
      AdjacencyCodec.read(spark, s"$tmp/w.txt").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(readBack() == expect, "sink output must parse back to the same edges")
    writeAll() // second write replaces in place — same result, no tmp litter
    assert(readBack() == expect)
    // local FS adds hidden .crc sidecars; the contract is about visible files
    def visible() = new java.io.File(tmp).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    assert(visible() == Set("w.txt", "w2.txt"), s"unexpected files: ${visible()}")
    // overwrite = truncate: stale graphs from earlier writes are removed
    edges.filter(_._1 == "w.txt").toDF("graph", "src", "dst")
      .repartition(col("graph"))
      .write.format("graft.sources.AdjacencyV2").mode("overwrite").save(tmp)
    assert(visible() == Set("w.txt"), s"overwrite must truncate: ${visible()}")
    assert(readBack() == expect)
    // a graph split across writer tasks must FAIL LOUDLY, not lose edges
    val thrown = intercept[Exception] {
      edges.filter(_._1 == "w.txt").toDF("graph", "src", "dst")
        .repartition(4) // round-robin: w.txt rows land in several tasks
        .write.format("graft.sources.AdjacencyV2").mode("append").save(tmp)
    }
    assert(thrown.getMessage != null)
    // a task failing MID-commit (second graph trips MAX_VERTICES after the
    // first graph's tmp file was written) must clean its tmp litter via
    // DataWriter.abort (r6 ADVICE) — and leave committed files untouched
    val before = new java.io.File(tmp).listFiles().map(_.getName).toSet
    intercept[Exception] {
      Seq(("a.txt", 0L, 1L), ("big.txt", 0L, 150L)).toDF("graph", "src", "dst")
        .repartition(1) // one task → a.txt's tmp exists when big.txt throws
        .write.format("graft.sources.AdjacencyV2").mode("append").save(tmp)
    }
    val after = new java.io.File(tmp).listFiles().map(_.getName).toSet
    assert(!after.exists(_.startsWith("_tmp_")),
      s"aborted task left tmp litter: ${after.filter(_.startsWith("_tmp_"))}")
    assert(after == before, s"abort must not disturb committed files: $after vs $before")
  }

  test("random walks: every hop follows an edge, hash-argmin reproducible") {
    val ks = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val v = ks.length
    val adj = ks.flatMap(c =>
      Seq((2 * c + 1) % v, (5 * c + 7) % v, (16 * c + 3) % v).map(c -> _))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def run() = SparkEntry.queries("q_graph_walks")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val walk = run()
    assert(walk.size == 5 * 5)
    for (seed <- 0L to 4L; st <- 1 to 4)
      assert(adj(walk((seed, st - 1))).contains(walk((seed, st))),
        s"seed $seed step $st is not an edge")
    assert(run() == walk, "walks must be deterministic across runs")
  }

  test("GraphStore create/modify snapshot semantics (A1/A2)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graphstore").toString + "/g"
    GraphStore.create(Seq((0L, 1L)).toDF("src", "dst"), dir)
    assert(GraphStore.load(spark, dir).count() == 1)
    GraphStore.modify(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"), dir)
    assert(GraphStore.load(spark, dir).count() == 2) // full replace, not append
  }

  test("Brandes dependency matches sequential textbook Brandes on the ring graph") {
    val dir = "/root/testdata/sf0.001"
    val ks = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val v = ks.length
    val ed = ks.flatMap(c => Seq((2 * c + 1) % v, (5 * c + 7) % v, (16 * c + 3) % v)
      .map(d => (c, d))).distinct
    val adj = ed.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // sequential Brandes (single source 0): BFS with σ, then reverse sweep
    val lvl = mutable.Map(0L -> 0)
    val sigma = mutable.Map(0L -> 1.0)
    var frontier = Seq(0L)
    val order = mutable.ArrayBuffer(0L)
    while (frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Long]
      for (u <- frontier; w <- adj.getOrElse(u, Array.empty[Long])) {
        if (!lvl.contains(w) && !frontier.contains(w)) {
          if (!next.contains(w)) { next += w; order += w }
          lvl(w) = lvl(u) + 1
        }
        if (lvl.get(w).contains(lvl(u) + 1))
          sigma(w) = sigma.getOrElse(w, 0.0) + sigma(u)
      }
      frontier = next.toSeq
    }
    val delta = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (u <- order.reverse; w <- adj.getOrElse(u, Array.empty[Long])
         if lvl.get(w).contains(lvl(u) + 1))
      delta(u) += sigma(u) / sigma(w) * (1.0 + delta(w))
    val expect = lvl.keys.map(x => x ->
      ((lvl(x), sigma(x).toLong,
        BigDecimal(delta(x)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))).toMap
    val got = SparkEntry.queries("q_graph_betweenness")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), BigDecimal(r.getDouble(3))))).toMap
    assert(got.keySet == expect.keySet)
    for ((k, (l, s, d)) <- expect) {
      assert(got(k)._1 == l && got(k)._2 == s, s"level/sigma at $k")
      assert((got(k)._3 - d).abs <= BigDecimal("0.0001"), s"delta at $k: ${got(k)._3} vs $d")
    }
  }

  test("bounded k-core peel reaches the true k-core fixpoint (sf0.001 + sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // Independent in-memory oracle: synchronous peel to CONVERGENCE over
      // the same ring graph — proves the query's fixed 8 rounds reach the
      // true fixpoint, which the unrolled DuckDB oracle alone cannot show
      // (both sides being bounded, they'd agree even short of the core).
      val ks = spark.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey").collect().map(_.getLong(0))
      val v = ks.length
      val und = ks.flatMap(c => Seq((2 * c + 1) % v, (5 * c + 7) % v, (16 * c + 3) % v)
        .filter(_ != c).map(d => (math.min(c, d), math.max(c, d)))).distinct
      val adj = mutable.Map.empty[Long, mutable.Set[Long]]
      und.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
      var changed = true
      while (changed) {
        val drop = adj.collect { case (x, ns) if ns.size < 4 => x }.toSeq
        changed = drop.nonEmpty
        drop.foreach { x => adj(x).foreach(u => adj.get(u).foreach(_ -= x)); adj -= x }
      }
      val expect = adj.map { case (x, ns) => x -> ns.size.toLong }.toMap
      val got = SparkEntry.queries("q_graph_kcore")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"at $dir")
    }
  }

  /** The k = 3 raw-edge diff `(v1, v2)` of the incremental k-core tests. */
  private def kcoreDiff = {
    import spark.implicits._
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L))
    val nine = Seq((9L, 1L), (9L, 2L), (9L, 3L))
    val k4c = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L))
    ((k4a ++ k4b ++ nine ++ k4c).toDF("src", "dst"),
      (k4a ++ k4b ++ Seq((7L, 8L), (9L, 7L), (9L, 2L), (9L, 3L)) ++
        k4c.filterNot(_ == (10L, 11L))).toDF("src", "dst"))
  }

  /** The k = 4 undirected diff `(v1, v2)` of the incremental k-truss tests. */
  private def ktrussDiff = {
    import spark.implicits._
    def k5(vs: Seq[Long]) = for (a <- vs; b <- vs if a < b) yield (a, b)
    ((k5(1L to 5L) ++
      k5(6L to 10L).filterNot(e => e == (6L, 7L) || e == (6L, 8L)) ++
      k5(11L to 15L) ++
      k5(16L to 20L).filterNot(e => e == (16L, 17L) || e == (16L, 18L)))
      .toDF("a", "b"),
      (k5(1L to 5L) ++ k5(6L to 10L) ++
        k5(11L to 15L).filterNot(e => e == (11L, 12L) || e == (13L, 15L)) ++
        k5(16L to 20L).filterNot(_ == (19L, 20L)))
        .toDF("a", "b"))
  }

  test("incrementalKCore == full peel (insert cascade, delete cascade, save-by-joiner)") {
    // k=3 fixture with every interaction the maintainer must get right:
    //  K4a {1,2,3,4}   — stable core component
    //  K4b-minus(7,8) {5,6,7,8} — in v1, 7/8 have deg 2 so ALL of 5..8
    //    peel away; v2 inserts (7,8), pulling 5 and 6 into the core even
    //    though neither touches the inserted edge (beyond-delta joiners)
    //  9 -(1,2,3)      — in v1 core via K4a; v2 deletes (9,1) AND inserts
    //    (9,7): 9 keeps membership only because joiner 7 supports it —
    //    the delete side must count joiner support (insert-before-evict)
    //  K4c {10,11,12,13} — v2 deletes (10,11): 10,11 drop to deg 2 and the
    //    cascade then evicts 12,13, neither an endpoint of the deleted
    //    edge (beyond-delta evictions)
    val (v1, v2) = kcoreDiff
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = GraphOps.kcorePeel(spark, v1, 3, 6)
    assert(toMap(prev).keySet == Set(1L, 2L, 3L, 4L, 9L, 10L, 11L, 12L, 13L),
      "v1 fixture core drifted")
    val inc = toMap(GraphOps.incrementalKCore(spark, v1, v2, prev, 3))
    val full = toMap(GraphOps.kcorePeel(spark, v2, 3, 6))
    assert(full.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "v2 fixture core drifted")
    assert(inc == full, "incremental k-core diverges from the full v2 peel")
    // and through the forced-BSP wave path (driver gate off)
    val incBsp = toMap(GraphOps.incrementalKCore(spark, v1, v2, prev, 3,
      driverSolveLimit = 0L))
    assert(incBsp == full, s"BSP kcore path diverges: $incBsp vs $full")
  }

  test("incrementalKCore forced-BSP: a ring eviction cascade past the wave-union bound") {
    import spark.implicits._
    // 50-vertex ring, k = 2: all of it is the 2-core. Deleting one edge
    // leaves a path, whose 2-core is empty — the eviction cascade walks
    // in from both ends, about 25 waves, past the 12-leg bound at which
    // the evicted-set union collapses into one checkpoint.
    val ring = (0L until 50L).map(i => (i, (i + 1) % 50)).toDF("src", "dst")
    val v2 = ring.filter(!(col("src") === 0L && col("dst") === 1L))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = GraphOps.kcorePeel(spark, ring, 2, 60)
    assert(prev.count() == 50L, "the ring is its own 2-core")
    val full = toMap(GraphOps.kcorePeel(spark, v2, 2, 60))
    assert(full.isEmpty, s"a path has an empty 2-core, got $full")
    val inc = toMap(GraphOps.incrementalKCore(spark, ring, v2, prev, 2,
      driverSolveLimit = 0L))
    assert(inc == full, s"forced-BSP eviction cascade diverges: $inc")
  }

  test("peel and cascade loops run a pinned number of Spark jobs per call") {
    // The barrier count of the k-core and k-truss peels and of the
    // incremental maintainers on both gate paths, pinned on the k-core
    // (k = 3) and k-truss (k = 4) diff fixtures: each call and the
    // collect of its result. A change to how a wave or a peel round is
    // built must not add a barrier (or a broadcast or shuffle job). The
    // forced-BSP k-truss count varies from run to run (157–163 over
    // repeated runs, most likely with the order in which concurrent query
    // stages finish), so it is bounded rather than pinned. Before the shared wave kernel the two BSP
    // maintainers ran 114 and 167–173 jobs: they re-checkpointed their
    // accumulated wave unions every wave. The k-core peel runs RDD
    // supersteps, one job per round (11 jobs as a DataFrame loop). Its
    // result carries a size estimate (`GraftFrames.sized`): a frame sized
    // at `spark.sql.defaultSizeInBytes` made the forced-BSP maintainer
    // fed it directly shuffle its core joins (112–113 jobs).
    val (kv1, kv2) = kcoreDiff
    val (tv1, tv2) = ktrussDiff
    val peel = sparkJobs(GraphOps.kcorePeel(spark, kv1, 3, 6).collect())._2
    val kprev = GraphOps.kcorePeel(spark, kv1, 3, 6)
    val incDriver = sparkJobs(
      GraphOps.incrementalKCore(spark, kv1, kv2, kprev, 3).collect())._2
    val incBsp = sparkJobs(GraphOps.incrementalKCore(spark, kv1, kv2, kprev, 3,
      driverSolveLimit = 0L).collect())._2
    val tprev = GraphOps.ktrussPeel(spark, tv1, 4, 6)
    val trussBsp = sparkJobs(GraphOps.incrementalKTruss(spark, tv1, tv2, tprev, 4,
      driverSolveLimit = 0L).collect())._2
    assert((peel, incDriver, incBsp) == ((4, 15, 102)),
      "Spark jobs (kcorePeel, incrementalKCore driver, incrementalKCore BSP)")
    assert(trussBsp <= 166, s"incrementalKTruss BSP ran $trussBsp Spark jobs")
  }

  test("incrementalKCore BSP plans its core joins from the core's count, not its size estimate") {
    // A caller's core frame over an RDD is sized at
    // spark.sql.defaultSizeInBytes, so the planner never broadcasts it.
    // The maintainer gates its core probes on the core's own count, so
    // it runs the pinned 102 jobs on every call. Joined ungated, that
    // frame was shuffled in every wave: 112-113 jobs, varying from call
    // to call with AQE's run-time join choices.
    val (kv1, kv2) = kcoreDiff
    val kprev = GraphOps.kcorePeel(spark, kv1, 3, 6)
    val unsized = spark.createDataFrame(kprev.rdd, kprev.schema)
    assert(unsized.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(Long.MaxValue))
    val expected = GraphOps.incrementalKCore(spark, kv1, kv2, kprev, 3,
      driverSolveLimit = 0L).collect().toSet
    val runs = (1 to 5).map(_ => sparkJobs(GraphOps.incrementalKCore(spark, kv1, kv2,
      unsized, 3, driverSolveLimit = 0L).collect())).map { case (rows, jobs) =>
      assert(rows.toSet == expected)
      jobs
    }
    assert(runs == Seq.fill(5)(102), "Spark jobs per call")
  }

  test("traversal maintainers run a pinned number of Spark jobs per call") {
    // The barrier count of the six BFS-level, SSSP and DAG-layer
    // maintainers on the delete-aware diffs above: each call and the
    // collect of its result. The insert-only maintainers run on
    // v1 ∪ inserted and must pay nothing for the delete machinery; BFS
    // and SSSP run as many jobs as before the shared skeleton. The DAG
    // source seed reads only the inserted tails: the inserted edge gives
    // each inserted head an in-edge. The delete twins
    // run on both cascade paths. Before the shared skeleton they ran
    // (33, 35, 51) jobs on the driver path and (54, 53–54, 71) forced to
    // BSP: each spelled its own per-leg seed aggregates, checkpointed its
    // settled state twice, and SSSP ran a separate min-weight job. The
    // forced-BSP SSSP count varies from run to run (49–50 now), so it is
    // bounded below every earlier run rather than pinned.
    val (b1, b2, bIns, bDel) = bfsDelDiff
    val (s1, s2, sIns, sDel) = ssspDelDiff
    val (d1, d2, dIns, dDel) = dagDelDiff
    val bPrev = GraphOps.bfsLevels(spark, b1, 0L)
    val sPrev = GraphOps.sssp(spark, s1, 0L)
    val dPrev = GraphOps.dagLayers(spark, d1)
    def jobs(df: => org.apache.spark.sql.DataFrame) = sparkJobs(df.collect())._2
    val ins = (
      jobs(GraphOps.incrementalBfsLevels(spark, b1.union(bIns), bPrev, bIns)),
      jobs(GraphOps.incrementalSssp(spark, s1.union(sIns), sPrev, sIns)),
      jobs(GraphOps.incrementalDagLayers(spark, d1.union(dIns), dPrev, dIns)))
    def del(limit: Long) = (
      jobs(GraphOps.incrementalBfsLevelsDelete(spark, b2, bPrev, bIns, bDel,
        cascadeDriverLimit = limit)),
      jobs(GraphOps.incrementalSsspDelete(spark, s2, sPrev, sIns, sDel,
        cascadeDriverLimit = limit)),
      jobs(GraphOps.incrementalDagLayersDelete(spark, d2, dPrev, dIns, dDel,
        cascadeDriverLimit = limit)))
    assert(ins == ((18, 7, 19)),
      "Spark jobs (incrementalBfsLevels, incrementalSssp, incrementalDagLayers)")
    assert(del(GraphOps.DriverSolveEdgeLimit) == ((31, 31, 50)),
      "Spark jobs of the delete twins (BFS, SSSP, DAG), driver cascade")
    val (bfsBsp, ssspBsp, dagBsp) = del(0L)
    assert((bfsBsp, dagBsp) == ((52, 70)),
      "Spark jobs of the BFS and DAG delete twins, forced-BSP cascade")
    assert(ssspBsp <= 52, s"incrementalSsspDelete BSP ran $ssspBsp Spark jobs")
  }

  test("k-core fixture liveness: cascades propagate PAST the delta (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    // the ring algebra, in memory (same spelling as the peel-fixpoint test)
    val ks = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val v = ks.length
    def raw(c: Long) = Seq((2 * c + 1) % v, (5 * c + 7) % v, (16 * c + 3) % v)
      .filter(_ != c).map(d => c -> d)
    // insert fixture: v2 restores the held-out src % 97 == 1 edges —
    // at least one JOINER must not touch any inserted edge
    val insEnds = ks.filter(_ % 97 == 1).flatMap(raw)
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    val baseCore = SparkEntry.queries("q_graph_kcore")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val incOut = SparkEntry.queries("q_graph_kcore_incremental")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(incOut == baseCore, "insert maintainer must equal the full-ring core")
    // recompute v1's core in memory to identify the joiners
    val adj1 = mutable.Map.empty[Long, mutable.Set[Long]]
    ks.filter(_ % 97 != 1).flatMap(raw).foreach { case (a, b) =>
      adj1.getOrElseUpdate(a, mutable.Set.empty) += b
      adj1.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    var changed = true
    while (changed) {
      val drop = adj1.collect { case (x, ns) if ns.size < 4 => x }.toSeq
      changed = drop.nonEmpty
      drop.foreach { x => adj1(x).foreach(u => adj1.get(u).foreach(_ -= x)); adj1 -= x }
    }
    val joiners = incOut -- adj1.keySet
    assert(joiners.nonEmpty, "insert fixture pulls nobody into the core")
    assert((joiners -- insEnds).nonEmpty,
      "every joiner touches an inserted edge — the insert cascade is not load-bearing")
    // delete fixture: v2 drops src % 29 == 11 out-edges — at least one
    // EVICTION must not be an endpoint of any deleted edge
    val delEnds = ks.filter(_ % 29 == 11).flatMap(raw)
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    val delOut = SparkEntry.queries("q_graph_kcore_incremental_del")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val evicted = baseCore -- delOut
    assert(evicted.nonEmpty, "delete fixture evicts nobody")
    assert((evicted -- delEnds).nonEmpty,
      "every eviction touches a deleted edge — the eviction cascade is not load-bearing")
  }

  test("incrementalMsf == converged Boruvka (swap, cut replacement, glue, vanish)") {
    import spark.implicits._
    def df(e: Seq[(Long, Long, Long)]) = e.toDF("a", "b", "w")
    // v1: path 1-2-3 with heavy non-forest chord (1,3,9); triangle
    // {10,11,12} (chord (10,12,3) non-forest); pair (20,21,2); pair
    // (30,31,1)
    val v1 = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 9L), (10L, 11L, 1L),
      (11L, 12L, 1L), (10L, 12L, 3L), (20L, 21L, 2L), (30L, 31L, 1L))
    // v2: delete (1,2) → the surviving chord (1,3,9) is the CUT
    // REPLACEMENT; insert (3,10,4) → GLUES two components; insert
    // (20,22,1),(21,22,1) → both beat stored (20,21,2), a SWAP that
    // displaces a forest edge nobody deleted; delete (30,31) → both
    // endpoints VANISH
    val v2 = Seq((2L, 3L, 5L), (1L, 3L, 9L), (10L, 11L, 1L), (11L, 12L, 1L),
      (10L, 12L, 3L), (20L, 21L, 2L), (20L, 22L, 1L), (21L, 22L, 1L),
      (3L, 10L, 4L))
    val ins = Seq((20L, 22L, 1L), (21L, 22L, 1L), (3L, 10L, 4L))
    val del = Seq((1L, 2L, 5L), (30L, 31L, 1L))
    def toSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prev = GraphOps.boruvka(spark, df(v1), 8)._2.select("a", "b", "w")
    assert(toSet(prev) == Set((1L, 2L, 5L), (2L, 3L, 5L), (10L, 11L, 1L),
      (11L, 12L, 1L), (20L, 21L, 2L), (30L, 31L, 1L)), "v1 forest drifted")
    val inc = toSet(GraphOps.incrementalMsf(spark, df(v2), prev,
      df(ins), df(del)))
    val full = toSet(GraphOps.boruvka(spark, df(v2), 8)._2.select("a", "b", "w"))
    assert(inc == full, s"incremental MSF diverges: $inc vs $full")
    assert(inc == Set((2L, 3L, 5L), (1L, 3L, 9L), (3L, 10L, 4L),
      (10L, 11L, 1L), (11L, 12L, 1L), (20L, 22L, 1L), (21L, 22L, 1L)),
      "expected forest (replacement + glue + swap + vanish) drifted")
    // gate pin (r12 driver-solve): driver Kruskal == Borůvka candidate
    // replay == full recompute — the gated path above took the driver
    // Kruskal; force the gate OFF and the >gate Borůvka path must land
    // on the identical (unique) forest
    val incBsp = toSet(GraphOps.incrementalMsf(spark, df(v2), prev,
      df(ins), df(del), driverSolveLimit = 0L))
    assert(incBsp == full, s"BSP MSF path diverges: $incBsp vs $full")
  }

  test("incrementalLcc == full recompute (third corner, vanish, mixed diff)") {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    // v1: square 1-2-3-4 with diagonal (1,3) → triangles {1,2,3},{1,3,4};
    // spur (4,10); isolated triangle {20,21,22}
    val v1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L),
      (4L, 10L), (20L, 21L), (21L, 22L), (20L, 22L))
    // v2: insert (2,4) → creates {1,2,4},{2,3,4} — corners 1 and 3 gain a
    // triangle though none of THEIR edges changed (third-corner);
    // delete (1,3) → destroys {1,2,3},{1,3,4}; delete (4,10) → 10
    // VANISHES; delete (20,21) → {20,21,22} loses its triangle but all
    // three vertices keep an edge
    val v2 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L),
      (21L, 22L), (20L, 22L))
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val prev = GraphOps.lcc(spark, df(v1))
    val inc = toMap(GraphOps.incrementalLcc(spark, df(v1), df(v2), prev))
    val full = toMap(GraphOps.lcc(spark, df(v2)))
    assert(inc == full, s"incremental LCC diverges: $inc vs $full")
    assert(!inc.contains(10L), "vertex with no surviving edge must vanish")
    assert(inc(2L)._2 == 2L && inc(1L)._2 == 1L && inc(20L)._2 == 0L)
  }

  test("incrementalKTruss == full peel (insert cascade, delete cascade, save-by-joiner)") {
    // k=4 (support ≥ 2) fixture with every interaction at TRIANGLE
    // granularity:
    //  K5a {1..5}            — stable truss component
    //  K5b {6..10} minus (6,7),(6,8) — in v1, (6,9)/(6,10) have support 1
    //    and peel away; v2 inserts both missing edges, pulling (6,9) and
    //    (6,10) back in even though neither is inserted (beyond-delta
    //    joiners)
    //  K5c {11..15}          — v2 deletes (11,12) and (13,15): the
    //    support collapse cascades until the whole block evicts —
    //    most evictions are not deleted edges (beyond-delta evictions)
    //  K5d {16..20} minus (16,17),(16,18) — v2 inserts both AND deletes
    //    (19,20): edge (17,19) loses the {17,19,20} triangle and
    //    survives only through the {16,17,19} triangle carried by
    //    JOINER (16,19) — the delete side must count joiner support
    val (v1, v2) = ktrussDiff
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val prev = GraphOps.ktrussPeel(spark, v1, 4, 6)
    val prevM = toMap(prev)
    assert(!prevM.contains((6L, 9L)) && !prevM.contains((6L, 10L)) &&
      prevM.contains((11L, 12L)) && prevM.contains((17L, 19L)),
      "v1 fixture truss drifted")
    val inc = toMap(GraphOps.incrementalKTruss(spark, v1, v2, prev, 4))
    val full = toMap(GraphOps.ktrussPeel(spark, v2, 4, 6))
    val incBsp = toMap(GraphOps.incrementalKTruss(spark, v1, v2, prev, 4,
      driverSolveLimit = 0L))
    assert(incBsp == full, s"BSP ktruss path diverges: $incBsp vs $full")
    assert(full.contains((6L, 9L)) && full.contains((6L, 10L)),
      "beyond-delta joiners missing from the v2 fixture")
    assert(!full.keys.exists { case (a, b) => a >= 11L && b <= 15L },
      "delete cascade did not collapse K5c")
    assert(full.contains((17L, 19L)), "save-by-joiner edge missing")
    assert(inc == full, "incremental k-truss diverges from the full v2 peel")
  }

  test("incrementalKTruss Kahn discipline: two seeds sharing a triangle with an at-threshold third edge") {
    import spark.implicits._
    // r11-advice repro (GraphOps eviction/peel loops): v1 = K4 on
    // {1,2,3,4} (its 4-truss is all of K4); v2 deletes (1,4). The
    // eviction base is then {(1,2),(1,3),(2,3),(2,4),(3,4)} with
    // supports 1,1,2,1,1 at k=4 (threshold 2): four seeds die at once,
    // and the two triangles {1,2,3} and {2,3,4} each have BOTH other
    // edges seeded. Enqueue-time removal marking skipped both
    // subtractions and left (2,3) alive with stale support 2; the true
    // 4-truss of v2 is EMPTY. Pop-time marking subtracts each destroyed
    // triangle from the third edge exactly once.
    def k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val v1 = k4.toDF("a", "b")
    val v2 = k4.filterNot(_ == (1L, 4L)).toDF("a", "b")
    val prev = GraphOps.ktrussPeel(spark, v1, 4, 4)
    assert(prev.count() == 6L, "v1 4-truss must be all of K4")
    val incDriver = GraphOps.incrementalKTruss(spark, v1, v2, prev, 4).collect()
    assert(incDriver.isEmpty,
      s"driver path must evict everything, got ${incDriver.mkString(",")}")
    val incBsp = GraphOps.incrementalKTruss(spark, v1, v2, prev, 4,
      driverSolveLimit = 0L).collect()
    assert(incBsp.isEmpty,
      s"BSP path must evict everything, got ${incBsp.mkString(",")}")
    // insert-side mirror for the CANDIDATE peel: build v2 where P1 =
    // {(1,2),(1,3),(2,3),(2,4),(3,4)} — raw supports all ≥ 2 via
    // support-1 booster wedges through 5..8 that are themselves outside
    // P1 — so the in-scope peel seeds (1,2),(1,3),(2,4),(3,4) at
    // support 1, two seeds per triangle, with (2,3) at exactly
    // threshold 2. Everything is inserted (v1 empty-truss disjoint
    // edges), so the region covers all of P1 and the peel must reject
    // the whole chain: true 4-truss of v2 is empty.
    val v1Ins = Seq((100L, 101L)).toDF("a", "b")
    val v2Ins = (Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (1L, 6L), (3L, 6L), (2L, 7L), (4L, 7L),
      (3L, 8L), (4L, 8L)) ++ Seq((100L, 101L))).toDF("a", "b")
    val prevEmpty = GraphOps.ktrussPeel(spark, v1Ins, 4, 4)
    assert(prevEmpty.count() == 0L)
    assert(GraphOps.ktrussPeel(spark, v2Ins, 4, 6).count() == 0L,
      "fixture drifted: v2Ins 4-truss must be empty")
    val incIns = GraphOps.incrementalKTruss(spark, v1Ins, v2Ins, prevEmpty, 4).collect()
    assert(incIns.isEmpty,
      s"candidate peel must reject all at-threshold chains, got ${incIns.mkString(",")}")
    val incInsBsp = GraphOps.incrementalKTruss(spark, v1Ins, v2Ins, prevEmpty, 4,
      driverSolveLimit = 0L).collect()
    assert(incInsBsp.isEmpty,
      s"BSP candidate peel must reject all at-threshold chains, got ${incInsBsp.mkString(",")}")
  }

  test("k-truss fixture liveness: cascades propagate PAST the delta (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(SparkEntry.queries("q_graph_ktruss")(spark, dir))
    val inc = pairs(SparkEntry.queries("q_graph_ktruss_incremental")(spark, dir))
    assert(inc == base, "insert maintainer must equal the complete fixture's truss")
    // rebuild the fixture algebra in memory (the peel-fixpoint test's
    // spelling) to recompute v1's truss and identify the joiners
    import spark.implicits._
    val ks = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val vmax = ks.max
    val strip = ks.flatMap(v => Seq(v + 1, v + 2).filter(_ <= vmax).map(v -> _))
    val clique = ks.filter(_ % 97 < 5).groupBy(_ / 97).values.toSeq
      .flatMap(bs => for (a <- bs.toSeq; b <- bs.toSeq if a < b) yield (a, b))
    val all = (strip ++ clique).distinct
    val insBand = all.filter { case (a, b) =>
      a % 97 == 0 && (b % 97 == 1 || b % 97 == 2) }.toSet
    assert(insBand.nonEmpty, "held band empty")
    val v1 = all.filterNot(insBand).toSeq
    val v1Truss = pairs(GraphOps.ktrussPeel(spark, v1.toDF("a", "b"), 4, 8))
    val joiners = inc -- v1Truss
    assert((joiners -- insBand).nonEmpty,
      "every joiner is an inserted edge — the insert cascade is not load-bearing")
    val delOut = pairs(SparkEntry.queries("q_graph_ktruss_incremental_del")(spark, dir))
    val evicted = base -- delOut
    val delBand = evicted.filter { case (a, b) =>
      (a / 97) % 2 == 0 &&
        ((a % 97 == 0 && b % 97 == 1) || (a % 97 == 2 && b % 97 == 4)) &&
        b - a <= 4 }
    assert(delBand.nonEmpty, "delete band empty")
    assert((evicted -- delBand).nonEmpty,
      "every eviction is a deleted edge — the eviction cascade is not load-bearing")
  }

  test("bounded 4-truss peel reaches the true truss fixpoint, non-empty (sf0.001 + sf0.01)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // Independent in-memory oracle: peel edges with support < 2 to
      // CONVERGENCE over the same strip+clique fixture — proves the fixed
      // 4 rounds reach the true k-truss (the unrolled DuckDB oracle alone
      // cannot show convergence), and that the fixpoint is non-empty (a
      // peel that converges to {} would be a trivially-green oracle).
      val ks = spark.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey").collect().map(_.getLong(0))
      val vmax = ks.max
      val strip = ks.flatMap(v => Seq(v + 1, v + 2).filter(_ <= vmax).map(v -> _))
      val clique = ks.filter(_ % 97 < 5).groupBy(_ / 97).values.toSeq
        .flatMap(bs => for (a <- bs.toSeq; b <- bs.toSeq if a < b) yield (a, b))
      var edges = (strip ++ clique).distinct.toSet
      var changed = true
      while (changed) {
        val nbr = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val keep = edges.filter { case (a, b) => (nbr(a) & nbr(b)).size >= 2 }
        changed = keep != edges
        edges = keep
      }
      val fnbr = edges.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expect = edges.map { case (a, b) =>
        (a, b) -> (fnbr(a) & fnbr(b)).size.toLong
      }.toMap
      val got = SparkEntry.queries("q_graph_ktruss")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got.nonEmpty, s"empty truss at $dir")
      assert(got == expect, s"at $dir")
    }
  }

  test("eccentricity rows equal per-seed single-source BFS max levels") {
    val ks = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val v = ks.length
    val edges = ks.flatMap(c =>
      Seq((2 * c + 1) % v, (5 * c + 7) % v, (16 * c + 3) % v).map(c -> _))
    val expect = (0L to 4L).map { s =>
      val lv = refBfs(edges.toSeq, s)
      s -> (lv.values.max.toLong, lv.size.toLong)
    }.toMap
    val diam = expect.values.map(_._1).max
    val got = SparkEntry.queries("q_graph_ecc")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(kv => kv._1 -> (kv._2._1, kv._2._2)).toMap == expect)
    assert(got.forall(_._2._3 == diam), "diam_lb must be the sample max")
  }

  test("multi-source BFS equals per-seed single-source BFS") {
    // The multi-source BFS is the (seed, v, level) projection of the σ-BFS:
    // the premise of every query that reads levels from the shared σ cache
    // (q_graph_closeness, q_graph_diameter's sweep) or from cached
    // single-source levels (q_graph_bfs, q_graph_dfs_leaves, q_graph_khop).
    import graft.plans.GraphOps
    val edges = Tables(spark, sfDir, "customer").select(col("c_custkey"))
      .limit(200)
      .select(col("c_custkey").as("src"), ((col("c_custkey") * 3 + 1) % 200).as("dst"))
    val e = edges.localCheckpoint(true)
    val seeds = Seq(0L, 7L, 13L)
    val multi = GraphOps.multiSourceBfsSigma(spark, e, seeds).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    seeds.foreach { s =>
      val single = GraphOps.bfsLevels(spark, e, s).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val slice = multi.collect { case ((`s`, v), l) => v -> l }
      assert(slice == single, s"seed $s")
    }
  }

  test("adjacency codec round-trip") {
    val edges = AdjacencyCodec.read(spark, s"$fixtures/G9.txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val text = AdjacencyCodec.format(edges, 2)
    assert(text.linesIterator.next() == "2")
    val tmp = java.nio.file.Files.createTempFile("g9", ".txt")
    java.nio.file.Files.writeString(tmp, text)
    val again = AdjacencyCodec.read(spark, tmp.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again.sorted == edges.sorted)
  }

  test("MIS: independent, maximal, gate == BSP, equals sequential greedy by priority") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    // hexagon + a chord + a pendant + a SELF-LOOP (7 must never be
    // selected via its loop? no — self-loops are DROPPED, so 7-7 is
    // ignored and 7 participates normally through 7-0)
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 0L), (0L, 3L), (7L, 0L), (7L, 7L))
    val e = raw.toDF("src", "dst")
    val gate = GraphOps.maximalIndependentSet(spark, e).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bsp = GraphOps.maximalIndependentSet(spark, e, driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gate == bsp, "in-memory and RDD executors replay identical rounds")
    val und = raw.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mis = gate.keySet
    for ((u, v) <- und) assert(!(mis(u) && mis(v)), s"edge $u-$v inside the MIS")
    for (v <- adj.keys if !mis(v))
      assert(adj(v).exists(mis), s"$v could still be added")
    // the fixed-priority parallel fixpoint IS the sequential greedy MIS
    val greedy = mutable.Set.empty[Long]
    adj.keys.toSeq.sortBy(pri).foreach { v =>
      if (!adj(v).exists(greedy)) greedy += v
    }
    assert(mis == greedy.toSet)
  }

  test("MIS and k-core: one output schema per operator, whatever the input's nullability") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    // Ring edges read from parquet carry nullable columns; a Seq does not.
    // Both paths of MIS, Jones-Plassmann and speculative coloring, and the
    // k-core peel, publish non-nullable columns either way (the driver
    // gates' results always had them; the BSP loops' used to inherit the
    // input's nullability).
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 3L), (7L, 0L)).toDF("src", "dst")
    val nullable = e.select(when(col("src") >= 0, col("src")).as("src"),
      when(col("dst") >= 0, col("dst")).as("dst"))
    assert(nullable.schema.forall(_.nullable))
    val mis = StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("round", IntegerType, nullable = false)))
    val core = StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    val coloring = StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("color", IntegerType, nullable = false),
      StructField("round", IntegerType, nullable = false)))
    for (in <- Seq(e, nullable)) {
      val outs = Seq(
        "MIS gate" -> (GraphOps.maximalIndependentSet(spark, in), mis),
        "MIS BSP" -> (GraphOps.maximalIndependentSet(spark, in, driverSolveLimit = 0L), mis),
        "JP gate" -> (GraphOps.jonesPlassmannColoring(spark, in), coloring),
        "JP BSP" -> (GraphOps.jonesPlassmannColoring(spark, in, driverSolveLimit = 0L),
          coloring),
        "speculative gate" -> (GraphOps.speculativeColoring(spark, in), coloring),
        "speculative BSP" -> (GraphOps.speculativeColoring(spark, in, driverSolveLimit = 0L),
          coloring),
        "kcorePeel" -> (GraphOps.kcorePeel(spark, in, 2, 6), core))
      for ((op, (out, schema)) <- outs) {
        assert(out.schema == schema, op)
        // sized by its rows, not by spark.sql.defaultSizeInBytes, so a
        // join reading it can broadcast it
        assert(out.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(1 << 20), op)
      }
    }
  }

  test("RDD supersteps: state and adjacency share one partitioner, state ⋈ adjacency is narrow") {
    import org.apache.spark.OneToOneDependency
    import org.apache.spark.rdd.RDD
    // The property that keeps the forced-BSP MIS rounds and the k-core peel
    // safe at scale: the static adjacency is shuffled once, when it is
    // built, and a round shuffles only its messages. A state that lost the
    // adjacency's partitioner would re-shuffle the whole graph every round.
    val pairs = spark.sparkContext.parallelize(Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (2L, 3L), (3L, 4L)), 3).flatMap(p => Seq(p, p.swap))
    val g = new GraphOps.VertexAdjacency(spark, pairs)
    def narrow(r: RDD[_], state: RDD[_]): Boolean = (r eq state) || (r eq g.adj) ||
      r.dependencies.forall(d =>
        d.isInstanceOf[OneToOneDependency[_]] && narrow(d.rdd, state))
    try {
      val (deg0, n0) = GraphOps.checkpointCountRdd(g.init((_, ns) => ns.length.toLong)
        .filter(_._2 >= 2))
      assert(n0 == 4L)
      // one peel round, spelled as kcorePeel spells it: 3 loses its edge to 4
      val cnt = g.send(deg0)((_, _) => Some(1L))(_ + _)
      val (deg1, n1) = GraphOps.checkpointCountRdd(g.receive(deg0, cnt)
        .flatMapValues(_._2).filter(_._2 >= 2))
      assert(n1 == 3L && deg1.collect().toMap == Map(0L -> 2L, 1L -> 2L, 2L -> 3L))
      for (state <- Seq(deg0, deg1)) {
        assert(state.partitioner.contains(g.part) && g.adj.partitioner.contains(g.part))
        val joined = g.join(state)
        assert(narrow(joined, state), s"state ⋈ adjacency shuffles:\n${joined.toDebugString}")
      }
    } finally g.unpersist()
  }

  test("MIS past the wave collapse: a 15-round path, gate == BSP == sequential greedy") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    // 30 vertices chained in increasing priority: each round selects only
    // the path's current head and removes it with its successor, so the
    // BSP loop runs 15 rounds - more legs than the member union holds
    // before it collapses into one checkpoint, fewer than MisRoundCap
    val chain = (0L until 30L).sortBy(pri)
    val e = chain.zip(chain.tail).toDF("src", "dst")
    val gate = GraphOps.maximalIndependentSet(spark, e).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bsp = GraphOps.maximalIndependentSet(spark, e, driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bsp == gate, "in-memory and RDD executors replay identical rounds")
    assert(bsp.values.max == 15 && 15 < GraphOps.MisRoundCap)
    // sequential greedy in priority order: every other chain vertex, and
    // the k-th member joins in round k
    assert(bsp == chain.indices.filter(_ % 2 == 0)
      .map(i => chain(i) -> (i / 2 + 1)).toMap)
  }

  test("JP coloring: proper, color-bounded, gate == BSP, equals sequential greedy") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 3L), (7L, 0L), (7L, 7L), (2L, 5L))
    val e = raw.toDF("src", "dst")
    val gate = GraphOps.jonesPlassmannColoring(spark, e).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val bsp = GraphOps.jonesPlassmannColoring(spark, e, driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(gate == bsp, "in-memory and RDD executors replay identical rounds")
    val und = raw.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((u, v) <- und) assert(gate(u)._1 != gate(v)._1, s"edge $u-$v monochrome")
    for ((v, (c, _)) <- gate) assert(c <= adj(v).size, s"color($v) > degree")
    // the fixed-priority parallel fixpoint IS sequential greedy coloring:
    // processed in increasing priority, already-colored neighbors are
    // exactly the higher-priority ones
    val colors = mutable.Map.empty[Long, Int]
    adj.keys.toSeq.sortBy(pri).foreach { v =>
      val used = adj(v).flatMap(colors.get)
      colors(v) = Iterator.from(0).find(c => !used.contains(c)).get
    }
    assert(gate.view.mapValues(_._1).toMap == colors.toMap)
  }

  test("speculative coloring: proper, gate == BSP, fewer rounds than JP depth") {
    import spark.implicits._
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 3L), (7L, 0L), (7L, 7L), (2L, 5L))
    val e = raw.toDF("src", "dst")
    val gate = GraphOps.speculativeColoring(spark, e).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val bsp = GraphOps.speculativeColoring(spark, e, driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(gate == bsp, "in-memory and RDD executors replay identical rounds")
    val und = raw.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((u, v) <- und) assert(gate(u)._1 != gate(v)._1, s"edge $u-$v monochrome")
    // round-1 winners keep their hashed guess (< 8) regardless of degree;
    // every later round is a mex, bounded by the vertex degree
    for ((v, (c, _)) <- gate)
      assert(c <= math.max(7, adj(v).size), s"color($v) outside guess∪mex bound")
    // the point of speculation: commit rounds stay within the cap and
    // undercut the priority-DAG depth the JP loop is bound to
    val specRounds = gate.values.map(_._2).max
    val jpRounds = GraphOps.jonesPlassmannColoring(spark, e).collect()
      .map(_.getInt(2)).max
    assert(specRounds <= GraphOps.SpecColoringRoundCap)
    assert(specRounds <= jpRounds,
      s"speculation should not need more rounds than JP depth ($specRounds vs $jpRounds)")
  }

  test("support cascade: a 50-wave path deletion stays bounded and exact") {
    import spark.implicits._
    val n = 50
    val edges = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val prev = GraphOps.bfsLevels(spark, edges, 0L)
    // delete the root edge: each downstream vertex unsettles one wave at
    // a time — a 50-wave cascade through the fused two-wave loop AND the
    // union-depth coalescing (uFrames collapses every ~12 leaves), the
    // depth regime r9 VERDICT #9 asked to pin before caps are raised
    val newEdges = edges.filter(col("src") =!= 0L)
    val del = Seq((0L, 1L)).toDF("src", "dst")
    def run(limit: Long) = GraphOps.incrementalBfsLevelsDelete(spark, newEdges,
      prev, del.limit(0), del, maxIter = 60, cascadeDriverLimit = limit)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val out = run(GraphOps.DriverSolveEdgeLimit)
    // the whole chain loses its support: only the seed's settled level
    // survives and no surviving path re-reaches anything
    assert(out == Map(0L -> 0), s"expected only the seed to survive, got $out")
    // the 49 tight edges sit under the driver gate; forced past it, the
    // same cascade runs as BSP waves and must give the same map
    val bsp = run(0L)
    assert(bsp == out, s"BSP cascade diverges from the driver worklist: $bsp")
  }

  test("coloring mex is degree-agnostic: K66 clique crosses the old 63-color ceiling") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    val n = 66
    val raw = for (i <- 0 until n; j <- i + 1 until n) yield (i.toLong, j.toLong)
    val e = raw.toDF("src", "dst")
    // forced-distributed: every mex runs over the color set the vertex's
    // messages built. K66's greedy coloring needs ALL 66 colors, so mex
    // values reach 65 — past the r9 single-word bitmask's 63-bit ceiling
    // (which REFUSED this graph via require(maxDeg < 63), and whose
    // shiftleft would silently wrap past color 62 without the gate)
    val bsp = GraphOps.jonesPlassmannColoring(spark, e, maxRounds = 100,
        driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bsp.values.toSet == (0 until n).toSet, "clique must use all 66 colors")
    // equals sequential greedy in priority order: the k-th clique vertex
    // by priority gets color k
    val order = (0 until n).map(_.toLong).sortBy(pri)
    order.zipWithIndex.foreach { case (v, k) =>
      assert(bsp(v) == k, s"clique vertex $v (rank $k) got ${bsp(v)}") }
  }

  test("speculative coloring accepts a >63-degree hub (the r9 refusal, lifted)") {
    import spark.implicits._
    val raw = (1 to 80).map(i => (0L, i.toLong)) ++ Seq((1L, 2L), (2L, 3L))
    val e = raw.toDF("src", "dst")
    val gate = GraphOps.speculativeColoring(spark, e).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val bsp = GraphOps.speculativeColoring(spark, e, driverSolveLimit = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(gate == bsp, "in-memory and RDD executors replay identical rounds")
    val und = raw.flatMap(p => Seq(p, p.swap)).distinct
    for ((u, v) <- und) assert(gate(u)._1 != gate(v)._1, s"edge $u-$v monochrome")
  }

  /** The undirected diff `(base, new, inserted, deleted)` of the
    * delete-aware MIS/coloring maintainer tests. base: a 6-cycle + chord
    * + pendant pair (20,21). new: delete the chord and the pendant pair
    * (20,21 VANISH), insert (2,5) and a fresh pendant (4,30). */
  private def symDelDiff = {
    import spark.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("src", "dst")
    (df(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
        (0L, 3L), (20L, 21L))),
      df(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
        (2L, 5L), (4L, 30L))),
      df(Seq((2L, 5L), (4L, 30L))), df(Seq((0L, 3L), (20L, 21L))))
  }

  test("delete-aware MIS/coloring maintenance == full recompute (mixed diff, vanish)") {
    val (base, newE, ins, del) = symDelDiff
    val prevMis = GraphOps.maximalIndependentSet(spark, base)
    val prevCol = GraphOps.jonesPlassmannColoring(spark, base)
      .select(col("v"), col("color"))
    val misInc = GraphOps.incrementalMaximalIndependentSetDelete(
      spark, newE, base, prevMis, ins, del)
      .collect().map(_.getLong(0)).toSet
    val misFull = GraphOps.maximalIndependentSet(spark, newE)
      .collect().map(_.getLong(0)).toSet
    assert(misInc == misFull, s"MIS maintenance diverges: $misInc vs $misFull")
    assert(!misInc.contains(20L) && !misInc.contains(21L), "vanished pair leaked")
    val colInc = GraphOps.incrementalColoringDelete(
      spark, newE, base, prevCol, ins, del)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val colFull = GraphOps.jonesPlassmannColoring(spark, newE)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(colInc == colFull, s"coloring maintenance diverges: $colInc vs $colFull")
  }

  /** An insert `(base, new, inserted)` whose hp-cone grows one vertex per
    * wave for 28 waves: 30 vertices chained in increasing priority, and
    * the inserted edge joins the chain's first two. Its later-deciding
    * endpoint waits on the new first vertex, and every later chain vertex
    * waits on the one before it. */
  private def coneChain = {
    import spark.implicits._
    val chain = (0L until 30L).sortBy(GraphOps.lcgPri)
    val all = chain.zip(chain.tail)
    (all.tail.toDF("src", "dst"), all.toDF("src", "dst"), all.take(1).toDF("src", "dst"))
  }

  test("MIS/coloring maintenance over a cone past the wave collapse == full recompute") {
    val (base, newE, ins) = coneChain
    val prevCol = GraphOps.jonesPlassmannColoring(spark, base)
      .select(col("v"), col("color"))
    val mis = GraphOps.incrementalMaximalIndependentSet(spark, newE, base,
      GraphOps.maximalIndependentSet(spark, base), ins).collect().map(_.getLong(0)).toSet
    assert(mis == GraphOps.maximalIndependentSet(spark, newE).collect()
      .map(_.getLong(0)).toSet)
    val colors = GraphOps.incrementalColoring(spark, newE, base, prevCol, ins)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(colors == GraphOps.jonesPlassmannColoring(spark, newE).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap)
  }

  test("symmetry-breaking loops run a pinned number of Spark jobs per call") {
    import spark.implicits._
    // The barrier count of the MIS, Jones-Plassmann and speculative BSP
    // loops on the JP test graph, and of the delete-aware MIS and
    // coloring maintainers on the diff above: each call and the collect
    // of its result. Every edge set is a lazy local checkpoint that the
    // domain gate's aggregate fills, so it costs no job of its own. The
    // three loops run RDD supersteps, one job per round. On the
    // delete-aware diff the maintainers' cone closes at its seeds. On the
    // chained cone each of the 28 waves is one checkpoint-and-count into
    // the cone's wave union.
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (0L, 3L), (7L, 0L), (7L, 7L), (2L, 5L)).toDF("src", "dst")
    val (base, newE, ins, del) = symDelDiff
    val prevMis = GraphOps.maximalIndependentSet(spark, base)
    val prevCol = GraphOps.jonesPlassmannColoring(spark, base)
      .select(col("v"), col("color"))
    def jobs(df: => org.apache.spark.sql.DataFrame) = sparkJobs(df.collect())._2
    val loops = (
      jobs(GraphOps.maximalIndependentSet(spark, e, driverSolveLimit = 0L)),
      jobs(GraphOps.jonesPlassmannColoring(spark, e, driverSolveLimit = 0L)),
      jobs(GraphOps.speculativeColoring(spark, e, driverSolveLimit = 0L)))
    assert(loops == ((6, 7, 6)), "Spark jobs (MIS, JP, speculative coloring), forced BSP")
    // below the gate the same programs run in memory: the prologue's jobs
    // and one collect, however many rounds (15 MIS rounds, 30 JP rounds
    // on the chain of the wave-collapse test)
    val chain = (0L until 30L).sortBy(GraphOps.lcgPri)
    val c = chain.zip(chain.tail).toDF("src", "dst")
    val gates = (jobs(GraphOps.maximalIndependentSet(spark, c)),
      jobs(GraphOps.jonesPlassmannColoring(spark, c)),
      jobs(GraphOps.speculativeColoring(spark, c)))
    assert(gates == ((4, 4, 4)), "Spark jobs (MIS, JP, speculative coloring), driver gate")
    val cones = (
      jobs(GraphOps.incrementalMaximalIndependentSetDelete(
        spark, newE, base, prevMis, ins, del)),
      jobs(GraphOps.incrementalColoringDelete(
        spark, newE, base, prevCol, ins, del)))
    assert(cones == ((23, 23)),
      "Spark jobs (incrementalMaximalIndependentSetDelete, incrementalColoringDelete)")
    val (cBase, cNew, cIns) = coneChain
    val cMis = GraphOps.maximalIndependentSet(spark, cBase)
    val cCol = GraphOps.jonesPlassmannColoring(spark, cBase)
      .select(col("v"), col("color"))
    val grown = (
      jobs(GraphOps.incrementalMaximalIndependentSet(spark, cNew, cBase, cMis, cIns)),
      jobs(GraphOps.incrementalColoring(spark, cNew, cBase, cCol, cIns)))
    assert(grown == ((136, 136)), "Spark jobs (incrementalMaximalIndependentSet, " +
      "incrementalColoring) over the 28-wave chained cone")
  }

  /** Ids of the cache entries (persisted, not local checkpoints) now held. */
  private def cachedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect { case (id, r) if !r.isCheckpointed => id }.toSet
  /** Whether a superstep adjacency ([[GraphOps.VertexAdjacency]]) is persisted. */
  private def adjacencyCached: Boolean =
    spark.sparkContext.getPersistentRDDs.values.exists(_.name == "VertexAdjacency")

  test("LCG domain gate: an id past 2^31 fails loudly and leaves no cached edge set") {
    import spark.implicits._
    // Every symmetry-breaker's symmetrized edge set is a lazy local
    // checkpoint that the gate's aggregate fills, not a cache entry; a
    // failed gate must leave no cache entry behind, and no loop may have
    // built its superstep adjacency.
    def cached = cachedRdds
    val bad = Seq((0L, 1L), (1L, 2147483648L)).toDF("src", "dst")
    val ok = Seq((0L, 1L)).toDF("src", "dst")
    val okMis = GraphOps.maximalIndependentSet(spark, ok)
    val before = cached
    val calls = Seq[(String, () => Any)](
      "maximalIndependentSet" -> (() => GraphOps.maximalIndependentSet(spark, bad)),
      "jonesPlassmannColoring" -> (() => GraphOps.jonesPlassmannColoring(spark, bad)),
      "speculativeColoring" -> (() => GraphOps.speculativeColoring(spark, bad)),
      "hpDependencyCone" -> (() =>
        GraphOps.incrementalMaximalIndependentSet(spark, bad, ok, okMis, bad)))
    for ((op, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$op: vertex ids span [0, 2147483648]"), e.getMessage)
    }
    assert((cached -- before).isEmpty, "a failed domain gate left its edge set cached")
    assert(!adjacencyCached, "a failed domain gate left a superstep adjacency cached")
  }

  test("MIS past its round cap fails loudly and leaves no adjacency cached") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    // the 15-round chain of the wave-collapse test (30 JP rounds deep),
    // capped at 3 rounds; speculative coloring colors that chain in one
    // round, so its case is K12, which it colors in 5. Both executors
    // (driver gate and forced BSP) fail with one message, open count
    // included.
    val chain = (0L until 30L).sortBy(pri)
    val e = chain.zip(chain.tail).toDF("src", "dst")
    val k12 = (for (i <- 0L until 12L; j <- i + 1 until 12L) yield (i, j)).toDF("src", "dst")
    val cases = Seq[(String, Long => Any, String)](
      ("MIS", limit => GraphOps.maximalIndependentSet(spark, e, maxRounds = 3,
        driverSolveLimit = limit),
        "MIS did not converge within 3 rounds (24 vertices still active)"),
      ("JP", limit => GraphOps.jonesPlassmannColoring(spark, e, maxRounds = 3,
        driverSolveLimit = limit),
        "coloring did not converge within 3 rounds (27 vertices still uncolored)"),
      ("speculative coloring", limit => GraphOps.speculativeColoring(spark, k12,
        maxRounds = 3, driverSolveLimit = limit),
        "speculative coloring did not converge within 3 rounds (2 vertices still uncolored)"))
    for ((op, call, msg) <- cases; limit <- Seq(GraphOps.DriverSolveEdgeLimit, 0L)) {
      val before = cachedRdds
      val err = intercept[IllegalArgumentException](call(limit))
      assert(err.getMessage == s"requirement failed: $msg", s"$op, limit $limit")
      assert((cachedRdds -- before).isEmpty && !adjacencyCached,
        s"a non-converged $op left its edge set or adjacency cached (limit $limit)")
    }
  }

  test("kcorePeel past its round cap fails loudly and leaves no adjacency cached") {
    import spark.implicits._
    // a 50-vertex path's 2-core is empty, peeled from both ends about 25
    // rounds deep: a cap of 3 leaves it shrinking
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = cachedRdds
    val err = intercept[IllegalArgumentException](GraphOps.kcorePeel(spark, path, 2, 3))
    assert(err.getMessage.contains("kcorePeel did not converge within 3 rounds"),
      err.getMessage)
    assert((cachedRdds -- before).isEmpty && !adjacencyCached,
      "a non-converged k-core peel left its adjacency cached")
  }

  test("cone pair gate: a 12k-degree hub inside a 2-vertex cone routes to the total fallback") {
    import spark.implicits._
    def pri(v: Long) = (v * 1103515245L + 12345L) % 2147483648L
    // The r11 weak-mark scenario made concrete: H is a LATE-deciding hub
    // (priority value maximal over a 10k-id search window) with ~12k
    // spokes, so H's hp-adjacency is ~its whole degree. Inserting one
    // hub edge seeds the cone at H; the cone stays 1-2 VERTICES (almost
    // nothing waits on the latest-deciding vertex) while the gather's
    // PAIR count is ~12,000 — the vertex gate alone cannot see it.
    val hub = (100000L to 110000L).maxBy(pri)
    val spokes = (1L to 12000L).filterNot(_ == hub)
    val chain = (1L until 2000L).map(v => (v, v + 1))
    val baseE = spokes.dropRight(1).map(s => (hub, s)) ++ chain
    val insE = Seq((hub, spokes.last))
    val newE = baseE ++ insE
    val prevMis = GraphOps.maximalIndependentSet(spark, baseE.toDF("src", "dst"))
    val prevCol = GraphOps.jonesPlassmannColoring(spark, baseE.toDF("src", "dst"))
      .select(col("v"), col("color"))
    val fullMis = GraphOps.maximalIndependentSet(spark, newE.toDF("src", "dst"))
      .collect().map(_.getLong(0)).toSet
    val fullCol = GraphOps.jonesPlassmannColoring(spark, newE.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 1) honest gather under the default 2M-pair budget still matches
    val gathered = GraphOps.incrementalMaximalIndependentSet(spark,
        newE.toDF("src", "dst"), baseE.toDF("src", "dst"), prevMis,
        insE.toDF("src", "dst"))
      .collect().map(_.getLong(0)).toSet
    assert(gathered == fullMis, "gather path diverges on the hub fixture")
    // 2) a pair budget below the hub degree fires the skew gate -> the
    // fallback must equal the full recompute (and must not throw)
    val fb = GraphOps.incrementalMaximalIndependentSet(spark,
        newE.toDF("src", "dst"), baseE.toDF("src", "dst"), prevMis,
        insE.toDF("src", "dst"), coneGatherPairLimit = 5000L)
      .collect().map(_.getLong(0)).toSet
    assert(fb == fullMis, "pair-gate fallback diverges from the full MIS")
    val fbCol = GraphOps.incrementalColoring(spark,
        newE.toDF("src", "dst"), baseE.toDF("src", "dst"), prevCol,
        insE.toDF("src", "dst"), coneGatherPairLimit = 5000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fbCol == fullCol, "pair-gate fallback diverges from the full coloring")
    // 3) the VERTEX gate also falls back instead of require-failing now
    val fbV = GraphOps.incrementalMaximalIndependentSet(spark,
        newE.toDF("src", "dst"), baseE.toDF("src", "dst"), prevMis,
        insE.toDF("src", "dst"), coneGatherLimit = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(fbV == fullMis, "vertex-gate fallback diverges from the full MIS")
    // 4) delete twins ride the same gates (universe restriction intact)
    val delBase = newE
    val delNew = baseE
    val prevMis2 = GraphOps.maximalIndependentSet(spark, delBase.toDF("src", "dst"))
    val fullMis2 = GraphOps.maximalIndependentSet(spark, delNew.toDF("src", "dst"))
      .collect().map(_.getLong(0)).toSet
    val fbDel = GraphOps.incrementalMaximalIndependentSetDelete(spark,
        delNew.toDF("src", "dst"), delBase.toDF("src", "dst"), prevMis2,
        Seq.empty[(Long, Long)].toDF("src", "dst"), insE.toDF("src", "dst"),
        coneGatherPairLimit = 5000L)
      .collect().map(_.getLong(0)).toSet
    assert(fbDel == fullMis2, "delete-twin pair-gate fallback diverges")
  }

  test("incremental betweenness: scoped re-sweep equals the full 5-seed Brandes readout") {
    // the query's own hierarchy fixture, rebuilt independently
    val n = Tables(spark, sfDir, "nation")
    val c = Tables(spark, sfDir, "customer")
    val fwd = n.select((col("n_nationkey") + 10).cast("long").as("src"),
        col("n_regionkey").cast("long").as("dst"))
      .union(c.select((col("c_custkey") + 100).cast("long").as("src"),
        (col("c_nationkey") + 10).cast("long").as("dst")))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val full = GraphOps.multiSourceBrandes(spark, edges, Seq(0L, 1L, 2L, 3L, 4L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inc = graft.operators.GraphQueries
      .queries("q_graph_betweenness_incremental")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inc == full, "scoped(state, diff) == full(new_snapshot)")
    // the fixture leaves real mass on the nation tier
    assert(inc.values.exists(_ > 0))
  }

  test("each incremental state builds alone") {
    // Every incremental state has exactly one builder: reading a tag
    // writes that tag's stored state (plus its σ dependency, for the two
    // Brandes-delta states) and never its inc/del twin's. Each read goes
    // through its own alias of sfDir, so the tmpdir listing below sees
    // only the builds this read caused.
    import graft.operators.GraphQueries
    import org.apache.spark.sql.types.DoubleType
    import java.nio.file.{Files, Paths}
    def keyed(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] = {
      val fields = df.schema.fields.zipWithIndex
      val (ds, ks) = fields.partition(_._1.dataType == DoubleType)
      val rows = df.collect()
      val byKey = rows.map { r =>
        (ks.map { case (_, i) => r.get(i) }.mkString("|"),
         ds.map { case (_, i) => r.getDouble(i) }.toSeq)
      }.toMap
      // keys must be unique, or the map would silently fold duplicate
      // rows and the comparison would lose multiplicity
      assert(byKey.size == rows.length,
        s"${rows.length} rows but ${byKey.size} distinct keys")
      byKey
    }
    val twins = Seq("bfsinc" -> "bfsdel", "hitsinc" -> "hitsdel",
      "princ" -> "prdel", "ssspinc" -> "ssspdel", "msfinc" -> "msfdel",
      "kcoreinc" -> "kcoredel", "ktrussinc" -> "ktrussdel",
      "centinc_sig" -> "centdel_sig", "centinc_del" -> "centdel_del")
    val twinOf = (twins ++ twins.map(_.swap)).toMap
    val deps = Map("centinc_del" -> "centinc_sig", "centdel_del" -> "centdel_sig")
    val aliasRoot = Files.createTempDirectory("graft-incstate-alias")
    def alias(name: String): String =
      Files.createSymbolicLink(aliasRoot.resolve(name), Paths.get(sfDir)).toString
    // tags whose graft_incstate_<pid>_<tag>_<dir> path exists in tmpdir
    def built(dir: String): Set[String] = {
      val prefix = s"graft_incstate_${ProcessHandle.current().pid()}_"
      val suffix = "_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
        .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
        .map(_.stripPrefix(prefix).stripSuffix(suffix)).toSet
    }
    try {
      for (tag <- twinOf.keys.toSeq.sorted) {
        val dir = alias(s"sf_$tag")
        val state = keyed(GraphQueries.cachedIncState(spark, dir, tag))
        val wrote = built(dir)
        assert(wrote == Set(tag) ++ deps.get(tag),
          s"$tag: reading it built $wrote (twin ${twinOf(tag)} must stay unbuilt)")
        assert(state.nonEmpty, s"$tag: empty state")
      }
      // the σ dependency resolves whichever of the pair is read first
      val byOrder = Seq(Seq("centinc_del", "centinc_sig"),
          Seq("centinc_sig", "centinc_del")).map { order =>
        val dir = alias(order.mkString("sf_", "_", ""))
        val got = order.map(t => t -> keyed(GraphQueries.cachedIncState(spark, dir, t))).toMap
        assert(built(dir) == order.toSet, s"$order built ${built(dir)}")
        got
      }
      for (t <- Seq("centinc_sig", "centinc_del")) {
        val (p, q) = (byOrder(0)(t), byOrder(1)(t))
        assert(p.nonEmpty && p.keySet == q.keySet, s"$t: key sets differ by read order")
        p.foreach { case (k, pv) =>
          pv.zip(q(k)).foreach { case (x, y) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y))),
              s"$t row $k: $x vs $y by read order")
          }
        }
      }
    } finally {
      Files.list(aliasRoot).forEach(p => Files.delete(p))
      Files.delete(aliasRoot)
    }
  }
}
