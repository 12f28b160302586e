package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftFrames, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.BitSet
import scala.reflect.ClassTag

/** Iterative graph computation on DataFrames.
  *
  * Re-expresses the reference's two headline queries Spark-first:
  *
  *  - BFS level-order traversal (`Assignment2/secondary_server.c:480-662`):
  *    the reference's per-level `pthread_join` barrier (`:588-619`) IS a BSP
  *    superstep — here each superstep is one frontier⋈edges shuffle join.
  *    Order within a level was scheduler-nondeterministic in the reference;
  *    we replace that with a deterministic (level, vertex-id) order.
  *
  *  - DFS leaf-node query (`secondary_server.c:189-238,248-435`): the
  *    reference spawns a pthread per DFS branch and its leaf set is
  *    race-dependent (shared `visited[]`, `:203-206`). No deterministic DFS
  *    exists in a BSP model, so we implement the declared *intent*: leaves
  *    of a deterministic traversal tree — the min-parent BFS tree — via a
  *    left-anti join (reachable ∖ parents).
  *
  * Scale posture: frontiers, level sets and vertex states stay
  * distributed (no driver collect past a loop's size gate), and every
  * superstep ends in ONE barrier that cuts lineage with a local
  * checkpoint and counts the loop's termination figure (Pregel's
  * active-vertex count) in the same action. The supersteps come in two
  * forms:
  *
  *  - DataFrame supersteps, [[checkpointCount]] barriers: the BFS, σ-BFS
  *    and SSSP loops, DAG layers, CC, SCC, Borůvka, the k-truss peel, the
  *    hp-cone, and every delta maintainer and cascade. Each round is a
  *    planned query whose join [[gated]]/[[WaveGate]] picks from a count
  *    the loop holds; the barrier action is one job, and under AQE each
  *    shuffle map stage and each broadcast of the frame is a further job,
  *    so a barrier costs several jobs (GraphSpec pins `bfsLevels` on the
  *    30-vertex G6 at 32 jobs for 4 barriers and one checkpoint).
  *  - RDD vertex-state supersteps, [[checkpointCountRdd]] barriers over a
  *    [[VertexAdjacency]]: the [[kcorePeel]] rounds, and the rounds of the
  *    symmetry-breakers ([[maximalIndependentSet]],
  *    [[jonesPlassmannColoring]], [[speculativeColoring]]) past their
  *    driver gate. The static adjacency is grouped once under one
  *    `HashPartitioner` and persisted, the vertex state keeps that
  *    partitioner, so state ⋈ adjacency is narrow and only the round's
  *    messages shuffle; nothing is re-planned per round, and a round is
  *    ONE job (its message shuffles are stages of it). The
  *    symmetry-breakers write each round once, as [[Exchange]]s, and
  *    [[supersteps]] runs that one program on either executor: these RDD
  *    rounds, or, below the gate, the same rounds in memory.
  *
  * On a real cluster, `localCheckpoint` would become `checkpoint` on
  * reliable storage.
  */
object GraphOps {

  /** Env-gated phase tracing (`SPARK_GRAFT_TRACE=1`): per-wave frontier
    * sizes + wall time for the iterative loops, on stderr. Zero extra
    * Spark jobs — only counts the loops already compute are reported. */
  private val traceOn: Boolean = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
  private def trace(msg: => String): Unit =
    if (traceOn) System.err.println(s"[graft-trace] $msg")

  /** Local checkpoint of `df` plus its row count in ONE action — the
    * superstep barrier of every loop below. The checkpoint is declared
    * lazy and the count runs on its physical RDD, which fills the
    * checkpoint blocks while counting: no second SQL execution, no
    * count-aggregate plan (with its own shuffle) over the fresh frame.
    * The action itself is one Spark job; under AQE every shuffle map
    * stage and every broadcast inside `df` runs as a job before it (the
    * GraphSpec pin counts 32 jobs for `bfsLevels` on G6 from vertex 17:
    * four barriers and a `levels` checkpoint, ~6 jobs each), so a
    * barrier is counted in jobs, not checkpoints.
    * Returns the checkpointed frame — a single `LogicalRDD` leaf over the
    * filled blocks, so later reads never recompute `df` — and the number
    * of its rows matching `where` (all of them by default; a narrow
    * filter over the checkpoint still fills every block in the same job,
    * which serves the loops that count only the improved rows). */
  private[graft] def checkpointCount(df: DataFrame,
      where: Column = lit(true)): (DataFrame, Long) = {
    val c = df.localCheckpoint(eager = false)
    (c, c.filter(where).queryExecution.toRdd.count())
  }

  /** The RDD twin of [[checkpointCount]], the barrier of the
    * [[VertexAdjacency]] supersteps: `rdd` is marked for a local
    * checkpoint and the count of its elements matching `where` fills it,
    * ONE job whose stages are the round's message shuffles. The
    * checkpointed RDD keeps its partitioner, so the next round's joins
    * against the adjacency stay narrow. */
  private[graft] def checkpointCountRdd[T](rdd: RDD[T],
      where: T => Boolean = (_: T) => true): (RDD[T], Long) = {
    rdd.localCheckpoint()
    (rdd, rdd.filter(where).count())
  }

  /** The static side of the RDD vertex-state superstep (Pregelix's
    * vertex-partitioned store): each vertex's distinct neighbours, grouped
    * once from the directed `pairs` (both directions of every undirected
    * edge) under one `HashPartitioner` of `spark.sql.shuffle.partitions`
    * parts, and persisted. A state `RDD[(Long, S)]` derived from [[init]]
    * keeps [[part]] through `mapValues`, `filter`, [[receive]] and
    * [[checkpointCountRdd]], so state ⋈ adjacency ([[join]]) is narrow
    * and a superstep shuffles only its messages ([[send]]); nothing is
    * planned per round. A loop's result leaves as a frame through
    * `GraftFrames.sized`, so the planner can still broadcast it. The
    * caller unpersists the adjacency on every exit. */
  private[graft] final class VertexAdjacency(spark: SparkSession,
      pairs: RDD[(Long, Long)]) {
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj: RDD[(Long, Array[Long])] = pairs.groupByKey(part)
      .mapValues(_.toArray.distinct).setName("VertexAdjacency")
      .persist(StorageLevel.MEMORY_AND_DISK)
    /** A state over every vertex, from its id and neighbour array. */
    def init[S](f: (Long, Array[Long]) => S): RDD[(Long, S)] =
      adj.mapPartitions(_.map { case (v, ns) => (v, f(v, ns)) }, preservesPartitioning = true)
    /** Each row of `rows` (a state; the adjacency in [[join]]) with the
      * value `keyed` (the round's messages; the state) holds for its
      * vertex, if any, partition by partition: a hash of `keyed`'s
      * partition probed by `rows`' (a cogroup would buffer both sides per
      * key). Both must be on [[part]] — that is what makes the pairing of
      * partitions a join — and the result keeps `rows`' partitioner. */
    def receive[A, B](rows: RDD[(Long, A)],
        keyed: RDD[(Long, B)]): RDD[(Long, (A, Option[B]))] = {
      require(rows.partitioner.contains(part) && keyed.partitioner.contains(part),
        "a superstep frame lost the adjacency's partitioner")
      rows.zipPartitions(keyed, preservesPartitioning = true) { (as, bs) =>
        val m = scala.collection.mutable.LongMap.empty[B]
        bs.foreach { case (v, b) => m(v) = b }
        as.map { case (v, a) => (v, (a, m.get(v))) }
      }
    }
    /** `state` ⋈ adjacency: every vertex of `state` with its neighbours. */
    def join[S](state: RDD[(Long, S)]): RDD[(Long, (S, Array[Long]))] =
      receive(adj, state).flatMap { case (v, (ns, s)) => s.map(x => (v, (x, ns))) }
    /** The round's messages: each vertex `v` whose state `s` has
      * `msg(v, s) = Some(m)` sends `m` to every neighbour `u` with
      * `to(v, u)` (all of them by default), combined per receiver by
      * `combine` (on [[part]]) — one shuffle of the superstep. */
    def send[S, M: ClassTag](state: RDD[(Long, S)],
        to: (Long, Long) => Boolean = (_, _) => true)(
        msg: (Long, S) => Option[M])(combine: (M, M) => M): RDD[(Long, M)] =
      join(state).flatMap { case (v, (s, ns)) =>
        msg(v, s).fold(Iterator.empty[(Long, M)])(m =>
          ns.iterator.filter(to(v, _)).map(u => (u, m)))
      }.reduceByKey(part, combine)
    def unpersist(): Unit = adj.unpersist(blocking = false)
  }

  /** Single-partition local checkpoint for delta-sized cascade frames
    * (the collapse is measured at [[supportCascade]]), and its
    * [[checkpointCount]] twin for the frames a loop also counts. */
  private def ckpt(df: DataFrame): DataFrame = df.repartition(1).localCheckpoint(true)
  private def ckptCount(df: DataFrame): (DataFrame, Long) =
    checkpointCount(df.repartition(1))

  /** Both directions of every edge `(a, b)`, as `(src, dst)`: one scan of
    * `e` and one projection (an inline two-row generator), where a
    * two-branch union reads its input twice. The multiset is exactly the
    * union's — duplicates and self-loops pass through; callers that need
    * a set add `distinct()`. */
  private[graft] def symmetrize(e: DataFrame, a: String = "src",
      b: String = "dst"): DataFrame =
    e.select(inline(array(
      struct(col(a).as("src"), col(b).as("dst")),
      struct(col(b).as("src"), col(a).as("dst")))))

  /** Rows of accumulated BFS state past which the seen-set anti-join stops
    * being broadcast: ~1M (v: long, level: int) rows ≈ 50 MB of broadcast
    * hash relation — the point where re-shipping the whole seen-set to
    * every executor each superstep costs more than one shuffle of the
    * (much smaller) freshly-grown frontier. */
  val BroadcastSeenLimit: Long = 1000000L

  /** Conservative growth allowance for the SECOND hop of a fused
    * superstep: hop-2's probe side is hop-1's (deduplicated) candidate
    * set, whose size is only known one barrier later — frontierCount is a
    * round stale for it. Forcing a broadcast under the stale count alone
    * would re-open exactly the flooding the gate exists to prevent (a
    * 900k frontier × degree-20 fan-out is an 18M-row forced broadcast),
    * so hop-2 broadcasts only while `frontierCount × this ≤ gate` — a
    * frontier small enough that even this×-fold candidate growth stays
    * inside the gate's intent — and merge-joins otherwise. */
  val FusedHopFanoutAllowance: Long = 8L

  /** The physical join of every BSP superstep below, chosen in one place
    * from a row count the loop already holds (Pregelix's per-superstep
    * join choice): broadcast `f` while `n` is under [[BroadcastSeenLimit]];
    * past it, a sort-merge join — on a low-diameter scale-free graph a
    * middle BFS level or the seen set is O(|V|), which at billions of
    * vertices would be a multi-GB forced broadcast, while the merge join
    * spills instead of flooding every executor. */
  private[graft] def gated(f: DataFrame, n: Long): DataFrame =
    if (n <= BroadcastSeenLimit) broadcast(f) else f.hint("merge")

  /** The join gate of one peel or cascade call: [[gated]] over the
    * running row count of every frame the call materialized through
    * [[count]]. Wave frames are delta-sized and checkpointed with unknown
    * stats, so without a hint each wave would shuffle the big static side
    * (edges, core ids) both ways; the count rides the job that fills the
    * frame's single-partition checkpoint, so a frame reaches broadcast()
    * only after a job has measured it (a wave fanning out past a
    * high-degree vertex is not bounded by the frontier that entered it). */
  private final class WaveGate {
    private var running = 0L
    def count(df: DataFrame): (DataFrame, Long) = {
      val (c, n) = ckptCount(df)
      running += n
      (c, n)
    }
    def gate(df: DataFrame): DataFrame = gated(df, running)
  }

  /** The union of the wave frames one loop accumulates (candidates,
    * evictions, the unsettled set, the hp-cone), with the DDL `schema`
    * (e.g. `"a LONG, b LONG"`) and its plan depth bounded: once it has 12
    * legs, [[all]] collapses them into one single-partition checkpoint,
    * so a deep loop carries O(1) legs rather than O(waves), at one
    * shuffle into one partition per dozen waves. Every caller's waves are
    * delta- or cone-sized; no graph-sized set accumulates here. Legs union
    * in the order they were added; with none, [[all]] is an empty frame. */
  private final class Waves(spark: SparkSession, schema: String) {
    private var legs = Vector.empty[DataFrame]
    def add(f: DataFrame): Unit = legs :+= f
    def all: DataFrame = {
      if (legs.size >= 12) legs = Vector(ckpt(legs.reduce(_ union _)))
      legs.reduceOption(_ union _).getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(schema)))
    }
  }

  /** Peels `start` (`n0` rows) to a DETECTED fixpoint: `round` maps a
    * survivor set (a frame, or [[kcorePeel]]'s vertex-state RDD) to the
    * next one and its row count, and the loop stops
    * after the first round whose count equals its input's. Survivor sets
    * only shrink, so equal counts are equal sets, and that no-op round
    * computes every survivor's figure (degree, support) within the
    * converged set; stopping on the round where membership converges
    * publishes one-round-STALE figures for survivors next to its removals
    * (21 wrong k-core degrees at sf1, r12). An empty start is already a
    * fixpoint. At most `cap` rounds run; a peel still shrinking there
    * throws `fail(last count)` rather than publish a non-fixpoint. */
  private def peelToFixpoint[S](start: S, n0: Long, cap: Int,
      fail: Long => String)(round: S => (S, Long)): S = {
    var (cur, n, prev, r) = (start, n0, if (n0 == 0) 0L else -1L, 0)
    while (n != prev && r < cap) {
      r += 1
      val (next, nn) = round(cur)
      cur = next; prev = n; n = nn
    }
    require(n == prev, fail(n))
    cur
  }

  /** Canonical undirected edges of `e`'s `(x, y)` pairs: self-loops
    * dropped, each edge once as LONGs `(a, b)` with a < b. */
  private def canonical(e: DataFrame, x: String = "src",
      y: String = "dst"): DataFrame =
    e.filter(col(x) =!= col(y))
      .select(least(col(x), col(y)).cast("long").as("a"),
        greatest(col(x), col(y)).cast("long").as("b"))
      .distinct()

  /** Triangle wedges of the edges `(a, b)` of `e` in `sym` (a
    * [[symmetrize]]d edge set): one row `(a, b, c)` per common neighbour
    * `c`. `e` is the probe side — a delta or a gated wave frame — so the
    * work is |e| × degree², never the graph's triangle enumeration. */
  private def wedges(e: DataFrame, sym: DataFrame): DataFrame =
    e.as("u").join(sym.as("x"), col("x.src") === col("u.a"))
      .join(sym.as("y"), col("y.src") === col("u.b") && col("y.dst") === col("x.dst"))
      .select(col("u.a").as("a"), col("u.b").as("b"), col("x.dst").as("c"))

  /** Triangle count `(a, b, support)` in `sym` of each edge of `e` with one. */
  private def triSupport(e: DataFrame, sym: DataFrame): DataFrame =
    wedges(e, sym).groupBy("a", "b").agg(count(lit(1)).as("support"))

  /** Edges sharing a `sym`-triangle with an edge of `e`: the canonical
    * co-edges `(a, c)` and `(b, c)` of each wedge, distinct. */
  private def coEdges(e: DataFrame, sym: DataFrame): DataFrame = {
    val w = wedges(e, sym)
    w.select(least(col("a"), col("c")).as("a"), greatest(col("a"), col("c")).as("b"))
      .union(w.select(least(col("b"), col("c")).as("a"),
        greatest(col("b"), col("c")).as("b")))
      .distinct()
  }

  /** One FUSED two-level BFS superstep, exposed for plan-shape tests: grow
    * the frontier `f` TWO hops along `e`, then prune already-seen
    * vertices. The state `(keys…, v, level)` is keyed by `keys` — `Seq()`
    * for one BFS, `Seq("seed")` for a multi-source BFS, `Seq("graph")`
    * for per-graph BFS — and the keys ride the frontier. A key that is
    * also an edge column (`graph`) joins the edges too, so the frontier
    * join keys on (graph, src): a graph-only key would funnel each whole
    * graph through one task.
    *
    * The fusion is classic frontier doubling: hop-1 candidates (frontier
    * level + 1) and hop-2 candidates (level + 2, the hop-1 plan re-joined
    * against the edges INSIDE the same job) union into one min-level
    * group-by and ONE seen anti-join, so each barrier advances TWO BFS
    * levels — exact, because a vertex at true distance d is unreachable
    * by any walk shorter than d (labels never undershoot) and its
    * shortest-path predecessor chain puts a label-exact parent in the
    * frontier of round ⌈d/2⌉ (the exact label is always among the
    * candidates the min picks from). Hop-2 re-expands the DEDUPLICATED
    * hop-1 candidate set (min level per vertex — loses nothing, the final
    * group-by takes the min anyway). Every join is [[gated]]: the
    * frontier joins on `frontierCount` (hop-2 under the
    * [[FusedHopFanoutAllowance]], since its probe size is one round
    * stale), the seen-set anti-join on `seenCount`. */
  private[graft] def expandTwice(e: DataFrame, f: DataFrame, seen: DataFrame,
      keys: Seq[String], seenCount: Long, frontierCount: Long): DataFrame = {
    // frontier-side key aliases: fg for graph, fs for seed
    def fk(k: String): String = "f" + k.take(1)
    val edgeKeys = keys.filter(e.columns.contains)
    val state = keys :+ "v"
    def hop(fr0: DataFrame, gateCount: Long): DataFrame = {
      val fr = fr0.select(keys.map(k => col(k).as(fk(k))) ++
        Seq(col("v").as("fv"), col("level").as("fl")): _*)
      e.join(gated(fr, gateCount),
          (edgeKeys.map(k => e(k) === col(fk(k))) :+ (e("src") === col("fv")))
            .reduce(_ && _))
        .select(keys.map(k => if (edgeKeys.contains(k)) e(k) else col(fk(k)).as(k)) ++
          Seq(e("dst").as("v"), (col("fl") + 1).cast("int").as("level")): _*)
    }
    val hop1 = hop(f, frontierCount)
      .groupBy(state.map(col): _*).agg(min("level").as("level"))
    val cand = hop1
      .union(hop(hop1, frontierCount * FusedHopFanoutAllowance))
      .groupBy(state.map(col): _*).agg(min("level").as("level"))
    cand.join(gated(seen.select(state.map(col): _*), seenCount), state, "left_anti")
  }

  /** The one level-BFS loop: [[expandTwice]] supersteps from the state
    * `init` (`initCount` rows, keyed by `keys`) until a superstep grows
    * nothing or `maxIter` levels are done. ONE [[checkpointCount]] job per
    * TWO BFS levels — the count is the BSP termination check, the running
    * seen-set size AND the frontier size that drive the [[gated]] joins.
    * The accumulated level set is checkpointed only every other barrier:
    * an eager checkpoint per superstep re-materializes all levels each
    * time (quadratic in depth), and the frontier checkpoints already bound
    * lineage growth to a few unions. Unpersists `e` when done. */
  private def levelBfs(opName: String, e: DataFrame, init: DataFrame,
      initCount: Long, keys: Seq[String], maxIter: Int): DataFrame = {
    val t0 = System.nanoTime()
    var levels = init
    var frontier = init
    var seenCount = initCount
    var frontierCount = initCount
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val (next, n) = checkpointCount(expandTwice(e, frontier, levels, keys,
        seenCount, frontierCount))
      if (n == 0) done = true
      else {
        seenCount += n
        frontierCount = n
        val u = levels.union(next)
        levels = if (i % 4 >= 2) u.localCheckpoint(true) else u
        frontier = next
      }
      i += 2
      trace(f"$opName levels=$i new=$n seen=$seenCount " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    e.unpersist()
    levels
  }

  /** BFS levels from `start` over `edges(src: long, dst: long)`.
    * Returns `(v: long, level: int)` for every reachable vertex.
    */
  def bfsLevels(spark: SparkSession, edges: DataFrame, start: Long,
      maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    levelBfs("bfsLevels", e, Seq((start, 0)).toDF("v", "level"), 1L, Seq(),
      maxIter)
  }

  /** Per-graph BFS levels for EVERY graph in ONE BSP job — the scale
    * analog of the reference's load balancer fanning graph queries across
    * secondary servers (`load_balancer.c:183-206`): instead of one job
    * per graph (per-graph scheduling overhead, idle executors while a
    * small graph drains), the state is keyed `(graph, v)` and a single
    * superstep advances ALL graphs' frontiers with one frontier⋈edges
    * join — the [[multiSourceBfsSigma]] discipline with the graph id as
    * the batching key, so the shuffle spreads across graphs and no
    * per-graph hotspot forms. Graphs finish at different depths
    * naturally: a drained graph simply stops contributing frontier rows
    * while deeper ones keep iterating, and the loop ends when every graph
    * is done.
    *
    * `edges` is `(graph, src, dst)` (graph id of any orderable type);
    * `start` must be a vertex of every graph (it seeds each one).
    * Returns `(graph, v, level)` for every vertex reachable from `start`
    * within its graph.
    */
  def multiGraphBfs(spark: SparkSession, edges: DataFrame, start: Long,
      maxIter: Int = 50): DataFrame = {
    val e = edges.select(col("graph"),
      col("src").cast("long"), col("dst").cast("long")).persist()
    val (init, n) = checkpointCount(e.select("graph").distinct()
      .select(col("graph"), lit(start).as("v"), lit(0).as("level")))
    levelBfs("multiGraphBfs", e, init, n, Seq("graph"), maxIter)
  }

  /** BFS levels via GraphX Pregel — the alternate formulation of
    * [[bfsLevels]] (identical output). Pregel's superstep barrier is the
    * exact Spark-native analog of the reference's per-level `pthread_join`
    * (`secondary_server.c:601-618`): vertex program = min-level merge,
    * messages flow along out-edges only while they improve the level.
    * RDD-based (GraphX), so used as the cross-check implementation; the
    * DataFrame loop stays the Catalyst-optimizable default.
    *
    * The vertex RDD holds only `(start, 0)`: GraphX derives the vertex
    * set from the edges' routing tables and gives every endpoint missing
    * from the vertex RDD the default level (unreached), so no endpoint
    * union or `distinct` shuffle runs, and a start that is no endpoint is
    * still a vertex. The seed is hash-partitioned to the edge RDD's
    * partition count, which the vertex RDD then keeps.
    */
  def bfsLevelsPregel(spark: SparkSession, edges: DataFrame, start: Long, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.graphx.{Edge, EdgeDirection, Graph}
    import spark.implicits._
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val seed = spark.sparkContext.parallelize(Seq((start, 0)), 1)
      .partitionBy(new HashPartitioner(math.max(1, edgeRdd.getNumPartitions)))
    val g = Graph(seed, edgeRdd, Int.MaxValue)
    val res = g.pregel(Int.MaxValue, maxIter, EdgeDirection.Out)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 != Int.MaxValue).toDF("v", "level")
  }

  /** Leaves of the deterministic min-parent BFS tree from `start`:
    * parent(u) = min{v : level(v) = level(u) − 1, (v,u) ∈ E}; a reachable
    * vertex is a leaf iff it is nobody's parent. Returns `(v, level)`.
    */
  def bfsTreeLeaves(spark: SparkSession, edges: DataFrame, start: Long, maxIter: Int = 50): DataFrame =
    // levels materialized once or the whole BFS loop re-executes per consumer
    bfsTreeLeavesFrom(bfsLevels(spark, edges, start, maxIter).localCheckpoint(true), edges)

  /** [[bfsTreeLeaves]] over an ALREADY-COMPUTED level frame `(v, level)` —
    * lets callers reuse a shared/cached traversal (the σ-BFS cache) for
    * the parent extraction instead of re-running the BFS loop. `levels`
    * is consumed three times; pass a materialized frame. */
  def bfsTreeLeavesFrom(levels: DataFrame, edges: DataFrame): DataFrame = {
    val ls = levels.select(col("v").as("sv"), col("level").as("slevel"))
    val ld = levels.select(col("v").as("dv"), col("level").as("dlevel"))
    val parents = edges
      .join(ls, col("src") === col("sv"))
      .join(ld, col("dst") === col("dv") && col("dlevel") === col("slevel") + 1)
      .groupBy(col("dst"))
      .agg(min("src").as("parent"))
      .select(col("parent").as("v")).distinct()
    levels.join(parents, Seq("v"), "left_anti")
  }

  /** Static PageRank, GraphX formulation: `pr_0 = 1.0`,
    * `pr_{t+1}(v) = 0.15 + 0.85 · Σ_{(u,v)∈E} pr_t(u)/outdeg(u)`, a fixed
    * number of iterations, multi-edges counted with multiplicity, no
    * dangling-mass redistribution. One shuffle per iteration (contribution
    * aggregation on dst); ranks/degrees are broadcastable at moderate |V|.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iterations: Int = 10): DataFrame =
    rankLoop(spark, edges, iterations, init = lit(1.0), teleport = lit(0.15))

  /** Personalized PageRank from a single seed: the random walk restarts at
    * `seed` instead of teleporting uniformly — `pr_0(v) = 1[v=seed]`,
    * `pr_{t+1}(v) = 0.15·1[v=seed] + 0.85 · Σ pr_t(u)/outdeg(u)`. The
    * standard single-seed proximity measure (recommendation / local-cluster
    * seedsets); identical plan shape and cost to [[pageRank]].
    */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame, seed: Long,
      iterations: Int = 10): DataFrame = {
    val isSeed = (v: Column) => when(v === seed, lit(1.0)).otherwise(lit(0.0))
    rankLoop(spark, edges, iterations,
      init = isSeed(col("v")), teleport = lit(0.15) * isSeed(col("v")))
  }

  /** Weighted PageRank: a random surfer follows out-edge (u,v) with
    * probability w(u,v)/Σw(u,·), so `pr_{t+1}(v) = 0.15 + 0.85 ·
    * Σ_{(u,v)∈E} pr_t(u)·w(u,v)/wout(u)` — the multigraph/affinity-graph
    * parity the unweighted family lacks (edge weight = interaction count,
    * similarity score, …). Same plan shape and cost as [[pageRank]]: the
    * shared [[rankLoop]] reads the `w` column when present (an unweighted
    * edge list is the w≡1 special case, bit-identical to [[pageRank]]).
    */
  def weightedPageRank(spark: SparkSession, edges: DataFrame,
      iterations: Int = 10): DataFrame = {
    require(edges.columns.contains("w"), "weightedPageRank needs a w column")
    rankLoop(spark, edges, iterations, init = lit(1.0), teleport = lit(0.15))
  }

  /** Shared power-iteration loop: `init`/`teleport` are expressions over the
    * vertex column `v`, so uniform PageRank and seed-personalized PageRank
    * are the same plan with different teleport vectors; a `w` edge column,
    * when present, weights each contribution (out-mass w/Σw instead of
    * 1/outdeg — [[weightedPageRank]]). The unweighted path multiplies by
    * the literal 1.0, which is float-exact, so it stays bit-identical to
    * the pre-weight formulation.
    */
  /** WARM-START PageRank — the rank-family consumer of snapshot deltas
    * (the "delta PageRank" of the incremental-maintenance family, with an
    * honest contract): resume the power iteration on the NEW edge set
    * from the PREVIOUS snapshot's stored ranks instead of from the
    * uniform vector. Unlike CC/BFS/triangle maintenance there is no exact
    * state+delta shortcut — PageRank's fixpoint moves globally under any
    * edge change — but the geometric convergence of the power method
    * makes warm-starting the right maintenance: the residual after k
    * warm iterations is 0.85^k × the previous fixpoint's residual on the
    * new graph, which a small delta keeps small, so a handful of
    * iterations recovers what a cold start needs its full budget for
    * (pinned numerically in GraphSpec: 3 warm iterations land closer to
    * the new fixpoint than 3 cold ones). Vertices unseen by the previous
    * state initialize at 1.0, exactly as a cold start would treat them.
    * The semantics are deterministic — prev ranks in, k exact recurrence
    * steps out — so q_graph_pagerank_incremental hash-compares against
    * the identical recurrence unrolled in SQL.
    */
  def pageRankWarmStart(spark: SparkSession, edges: DataFrame,
      prevRanks: DataFrame, iterations: Int = 3): DataFrame =
    rankLoop(spark, edges, iterations, init = lit(1.0),
      teleport = lit(0.15), initFrom = Some(prevRanks))

  private def rankLoop(spark: SparkSession, edges: DataFrame, iterations: Int,
      init: Column, teleport: Column,
      initFrom: Option[DataFrame] = None): DataFrame = {
    val ew = if (edges.columns.contains("w")) col("w").cast("long") else lit(1L)
    val e = edges.select(col("src").cast("long").as("esrc"),
      col("dst").cast("long").as("edst"), ew.as("ew")).persist()
    // ONE materialization serves both verts and deg: at 10 iterations the
    // two frames are consumed 20+ times, and the rank loop has no data
    // dependency that needs them separate. deg left-joined under verts
    // (dangling vertices → null outdeg, never contribute) keeps a single
    // cached frame.
    val vdeg = e.select(col("esrc").as("v")).union(e.select(col("edst").as("v")))
      .distinct()
      .join(e.groupBy(col("esrc").as("dv")).agg(sum("ew").as("outdeg")),
        col("v") === col("dv"), "left")
      .select(col("v"), col("outdeg"))
      .localCheckpoint(true)
    var ranks = initFrom match {
      case None => vdeg.select(col("v"), init.as("pr"), col("outdeg"))
      case Some(p) =>
        // warm start: previous ranks where the vertex was known, the cold
        // init where it is new to this snapshot
        vdeg.join(p.select(col("v").as("pv"), col("pr").as("ppr")),
            col("v") === col("pv"), "left")
          .select(col("v"), coalesce(col("ppr"), init).as("pr"), col("outdeg"))
    }
    for (i <- 0 until iterations) {
      val contribs = ranks.filter(col("outdeg").isNotNull)
        .join(e, col("v") === col("esrc"))
        .groupBy(col("edst").as("cv"))
        .agg(sum(col("pr") * col("ew") / col("outdeg")).as("contrib"))
      val next = vdeg.join(contribs, vdeg("v") === col("cv"), "left")
        .select(vdeg("v"),
          (teleport + lit(0.85) * coalesce(col("contrib"), lit(0.0))).as("pr"),
          col("outdeg"))
      // Checkpoint every 3rd superstep, not every one: each eager
      // localCheckpoint is a full materialization barrier whose fixed cost
      // dominates at bench scale (the r4 graph-trio regression); three
      // iterations of join→agg lineage is well inside plan-size limits.
      ranks = if (i % 3 == 2 || i == iterations - 1) next.localCheckpoint(true) else next
    }
    e.unpersist()
    ranks.select("v", "pr")
  }

  /** [[bfsSigma]] with every seed advancing in the same superstep, state
    * keyed `(seed, v)`, carrying shortest-path counts:
    * `(seed, v, level, sigma)`. s seeds cost ONE loop's worth of
    * supersteps, not s loops — the batching that makes per-source graph
    * analytics (closeness, eccentricity, sampled betweenness over a seed
    * sample) scale, and the (seed, v) key spreads the shuffle across
    * sources so no single-source hotspot forms. Its `(seed, v, level)`
    * columns are exactly the multi-source BFS levels (GraphSpec pins them
    * to per-seed [[bfsLevels]]).
    */
  private[graft] def multiSourceBfsSigma(spark: SparkSession, edges: DataFrame,
      seeds: Seq[Long], maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    sigmaBfs(edges, seeds.map(s => (s, s, 0, 1L)).toDF("seed", "v", "level", "sigma"),
      seeds.size.toLong, Seq("seed"), maxIter)
  }

  /** Sampled betweenness centrality: Brandes' dependency accumulation run
    * for a SAMPLE of sources in one batched computation — the standard
    * estimator (Brandes–Pich) whose per-vertex score is the sum of
    * per-source dependencies δ_s(v), s ≠ v. Both sweeps are batched: the
    * σ BFS ([[multiSourceBfsSigma]]) advances all seeds per superstep
    * keyed (seed, v), and the backward sweep processes level
    * l of EVERY seed's DAG in the same per-level join (seeds at different
    * depths simply contribute no rows at levels they don't have). s seeds
    * therefore cost one forward + one backward loop — not s independent
    * Brandes passes — which is what makes sampling viable on a big graph.
    * Returns `(v, bc)` for every vertex reached by any seed.
    */
  def multiSourceBrandes(spark: SparkSession, edges: DataFrame, seeds: Seq[Long],
      maxIter: Int = 50): DataFrame = {
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    val sigAll = multiSourceBfsSigma(spark, ed, seeds, maxIter).localCheckpoint(true)
    multiBrandesBackward(spark, ed, sigAll)
  }

  /** The backward (dependency-accumulation) half of [[multiSourceBrandes]],
    * callable with a PRECOMPUTED `(seed, v, level, sigma)` frame — the
    * forward σ-BFS is the expensive shared half, so a caller that already
    * has it (e.g. a process-level cache shared with the single-source
    * query, whose σ frame is the seed-0 slice of this one) pays only the
    * per-level sweep here. `ed` must be the DISTINCT long-cast edges the
    * σ frame was computed over. */
  /** Per-(seed, vertex) dependency deltas of the batched backward sweep —
    * the shared intermediate BOTH betweenness queries consume: the multi
    * query aggregates it over seeds ([[multiBrandesFinal]]), the
    * single-source query reads its seed-0 slice (per-seed recursion is
    * independent, so the slice IS the single-source sweep). */
  private[graft] def multiBrandesDeltas(spark: SparkSession, ed: DataFrame,
      sigAll: DataFrame): DataFrame = {
    import spark.implicits._
    val maxL = sigAll.agg(max("level")).collect()(0).getInt(0)
    // Annotate each seed's Brandes DAG once (edge (x,w) with level(w) =
    // level(x)+1 under that seed), exactly like the single-source sweep.
    val dagEdges = ed
      .join(sigAll.select(col("seed"), col("v").as("xv"),
        col("level").as("xlevel"), col("sigma").as("xsigma")), col("src") === col("xv"))
      .join(sigAll.select(col("seed").as("wseed"), col("v").as("wv"),
        col("level").as("wlevel"), col("sigma").as("wsigma")),
        col("seed") === col("wseed") && col("dst") === col("wv") &&
          col("wlevel") === col("xlevel") + 1)
      .select(col("seed"), col("src"), col("dst"), col("xlevel"),
        col("xsigma"), col("wsigma"))
      .localCheckpoint(true)
    var delPrev = Seq.empty[(Long, Long, Double)].toDF("dseed", "dv", "delta")
    var dels = List.empty[DataFrame]
    for (l <- (maxL - 1) to 0 by -1) {
      val cur0 = dagEdges.filter(col("xlevel") === l)
        .join(delPrev, col("seed") === col("dseed") && col("dst") === col("dv"), "left")
        .groupBy(col("seed"), col("src"))
        .agg(sum(col("xsigma").cast("double") / col("wsigma").cast("double") *
          (lit(1.0) + coalesce(col("delta"), lit(0.0)))).as("delta"))
        .select(col("seed").as("dseed"), col("src").as("dv"), col("delta"))
      val cur = if (l % 3 == 0 || l == 0) cur0.localCheckpoint(true) else cur0
      dels ::= cur
      delPrev = cur
    }
    dels match {
      case Nil => delPrev
      case ds  => ds.reduce(_ union _)
    }
  }

  /** Sampled-betweenness readout over [[multiBrandesDeltas]]' output:
    * Σ_seeds δ_s(v), each source's own row excluded, rounded e4
    * (r13 VERDICT #8: double-summation compares round at 4, not 6, so a
    * partition-order half-ulp cannot flip the compare). */
  private[graft] def multiBrandesFinal(sigAll: DataFrame, delAll: DataFrame): DataFrame =
    sigAll.select("v").distinct()
      .join(delAll.filter(col("dv") =!= col("dseed"))
        .groupBy(col("dv")).agg(sum("delta").as("bc")),
        col("v") === col("dv"), "left")
      .select(col("v"), round(coalesce(col("bc"), lit(0.0)), 4).as("bc"))

  private[graft] def multiBrandesBackward(spark: SparkSession, ed: DataFrame,
      sigAll: DataFrame): DataFrame =
    multiBrandesFinal(sigAll, multiBrandesDeltas(spark, ed, sigAll))

  /** Longest-path layering of a DAG — the topological-depth assignment a
    * DAG scheduler (build system, lineage planner, workflow engine) uses:
    * sources sit at layer 0, every other vertex at 1 + max over in-edges.
    * Distributed KAHN WAVE PEEL: round r peels the vertices whose
    * in-degree among unpeeled vertices has reached 0 — which happens
    * exactly when all predecessors are peeled, so the peel round IS the
    * longest-path layer. Every vertex is finalized ONCE (unlike a
    * Bellman-Ford-with-max loop, which re-improves vertices up to depth
    * times) and each round costs one edges⋈sources join + one in-degree
    * update materialization. Requires an acyclic input: a round that
    * peels nothing while vertices remain THROWS rather than returning
    * silently-truncated layers.
    * Size-gated like [[connectedComponents]]: a ≤`driverSolveLimit`-edge
    * graph is solved with one driver-side Kahn pass (same loud cycle
    * failure), because the BSP loop's per-round barrier cost dwarfs
    * the work below that size. Returns `(v, layer)` for every vertex.
    */
  def dagLayers(spark: SparkSession, edges: DataFrame, maxIter: Int = 100,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    // Size gate (the [[connectedComponents]] discipline — the count
    // doubles as the gate and materializes the persist): longest-path
    // depth d costs the BSP loop O(d) synchronous barriers whose FIXED
    // scheduling cost dwarfs the work on a small graph — a ≤1M-edge DAG
    // solves on the driver in milliseconds with one Kahn pass, including
    // the same loud cycle failure. Past the gate the improvement-frontier
    // loop below is the scale path (spec'd equal to this one with the
    // gate forced to 0 in GraphSpec).
    val edgeCount = e.count()
    if (edgeCount <= driverSolveLimit) {
      import spark.implicits._
      val arr = e.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      val indeg = scala.collection.mutable.LongMap.empty[Long]
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      val verts = scala.collection.mutable.LinkedHashSet.empty[Long]
      arr.foreach { case (s, d) =>
        verts += s; verts += d
        indeg(d) = indeg.getOrElse(d, 0L) + 1
        adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
      }
      val layer = scala.collection.mutable.LongMap.empty[Long]
      val queue = scala.collection.mutable.Queue.empty[Long]
      verts.foreach { v => if (indeg.getOrElse(v, 0L) == 0L) { layer(v) = 0L; queue += v } }
      var processed = 0L
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        processed += 1
        adj.getOrElse(v, Nil).foreach { w =>
          layer(w) = math.max(layer.getOrElse(w, 0L), layer(v) + 1)
          indeg(w) = indeg(w) - 1
          if (indeg(w) == 0L) queue += w
        }
      }
      e.unpersist()
      if (processed < verts.size) throw new IllegalStateException(
        s"dagLayers: ${verts.size - processed} vertices lie on or behind a " +
          "cycle - the input is not a DAG")
      return verts.toSeq.sorted.map(v => (v, layer(v))).toDF("v", "layer")
    }
    // Distributed KAHN WAVE PEEL — the same algorithm as the driver gate,
    // expressed as BSP rounds (r8: replaces the r7 Bellman-Ford-with-max
    // improvement loop, which re-improved vertices up to depth times and
    // paid 2 joins + an overlay + an anti-join merge per hop; MEASURED
    // 7.6 s vs 4.4 s for this peel at sf0.1-forced-BSP). Invariant: a
    // vertex's in-degree among UNPEELED vertices reaches 0 exactly when
    // all its predecessors are peeled, so the round at which it peels IS
    // its longest-path layer. Each round costs ONE materialization (the
    // updated in-degree table) + one count: sources fall out of the
    // checkpointed frame by a free filter, every vertex is finalized
    // exactly once, and the result is a lazy union of the per-round
    // source waves over the live checkpoints. Cycle detection is exact:
    // if no vertex peeled this round (remaining unchanged), every
    // remaining vertex lies on or behind a cycle — throw, never truncate.
    // One peel round: wave = in-degree-0 rows of `cur`; returns the
    // updated in-degree table with the wave removed and its out-edge
    // counts subtracted. `remaining` upper-bounds |wave| for the
    // broadcast gate (the BFS seen-set discipline).
    def peel(cur: DataFrame, rem: Long, round: Int): (DataFrame, DataFrame) = {
      val wave = cur.filter(col("d") === 0L)
        .select(col("v"), lit(round.toLong).as("layer"))
      val dec = e.join(gated(wave.select(col("v").as("sv")), rem),
          col("src") === col("sv"))
        .groupBy(col("dst").as("dv")).agg(count(lit(1)).as("c"))
      val next = cur.filter(col("d") > 0L)
        .join(dec, col("v") === col("dv"), "left")
        .select(col("v"), (col("d") - coalesce(col("c"), lit(0L))).as("d"))
      (wave, next)
    }
    val dstDeg = e.groupBy(col("dst").as("v")).agg(count(lit(1)).as("d"))
    var (indeg, remaining) = checkpointCount(
      e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
        .distinct()
        .join(dstDeg, Seq("v"), "left")
        .select(col("v"), coalesce(col("d"), lit(0L)).as("d")))
    val waves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    // ONE peel round per materialization. Two-rounds-per-checkpoint (the
    // r6/r7 barrier-batching lesson) was tried here and MEASURED SLOWER
    // (6.9 s vs 4.4 s at sf0.1-forced-BSP): the mid-round in-degree frame
    // is consumed by a broadcast exchange AND two filters, and a lazily
    // persist()ed frame races its own cache population across those jobs,
    // recomputing the round instead of sharing it — the batching saved 9
    // barriers but paid ~18 recomputed joins. The honest shape is one
    // checkpoint-and-count job per layer; each wave is a free filter over
    // a live checkpoint, so the final union needs no extra
    // materialization.
    while (remaining > 0 && round < maxIter) {
      val (wave, next0) = peel(indeg, remaining, round)
      waves += wave
      val (next, nextRemaining) = checkpointCount(next0)
      if (nextRemaining == remaining) {
        // no source peeled: nothing left has in-degree 0
        e.unpersist()
        throw new IllegalStateException(
          s"dagLayers: $remaining vertices lie on or behind a cycle - the " +
            "input is not a DAG")
      }
      indeg = next
      remaining = nextRemaining
      round += 1
    }
    e.unpersist()
    if (remaining > 0) throw new IllegalStateException(
      s"dagLayers did not converge in $maxIter rounds with $remaining " +
        "vertices unpeeled - longest path exceeds the cap or the input has a cycle")
    waves.reduce(_ union _)
  }

  /** HITS (hubs & authorities), Kleinberg's mutual-reinforcement power
    * iteration: `auth(v) = Σ_{(u,v)∈E} hub(u)` then `hub(u) = Σ_{(u,v)∈E}
    * auth(v)`, normalized by the MAX score (not L2/L1: max over doubles is
    * order-independent and therefore exactly reproducible across engines
    * and shuffle orders, while a distributed 15k-term double sum is not —
    * the converged direction is the same principal eigenvector either
    * way). Normalization is DEFERRED to one final divide (r7 perf): both
    * half-steps are linear maps, so a global scalar divide commutes
    * through them — the final max-normalized vectors are identical to the
    * per-half-step-normalized recurrence — and deferring it removes the
    * two materialize+broadcast-max barriers every half-step paid (the
    * bench cost was ~12 synchronous jobs for 5 iterations; now ~4).
    * Magnitude growth is bounded: raw scores grow ~(mean degree)² per
    * iteration, ~9^5 here — nowhere near double overflow at any sane
    * iteration count. Per iteration: two vertex-keyed shuffle aggs, the
    * same cost class as one PageRank superstep (×2). Requires at least
    * one edge (max of an empty score set is undefined).
    */
  def hits(spark: SparkSession, edges: DataFrame, iterations: Int = 5,
      warmFrom: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src").cast("long").as("esrc"),
      col("dst").cast("long").as("edst")).persist()
    val verts = e.select(col("esrc").as("v")).union(e.select(col("edst").as("v")))
      .distinct().localCheckpoint(true)
    // one RAW half-step: aggregate `from` over the joined edge end,
    // left-join under verts (sinks/sources score 0) — no normalization,
    // no materialization (the divide is deferred to the very end)
    def halfRaw(scores: DataFrame, from: String, joinKey: String,
        groupKey: String, out: String): DataFrame =
      verts.join(
          scores.join(e, col("v") === col(joinKey))
            .groupBy(col(groupKey).as("gv")).agg(sum(from).as("raw")),
          col("v") === col("gv"), "left")
        .select(col("v"), coalesce(col("raw"), lit(0.0)).as(out))
    // warm start (r11 advice): seed from a prior run's (v, auth, hub)
    // instead of uniform 1.0 — vertices absent from the warm frame
    // (new arrivals) fall back to 1.0. Because both half-steps are
    // linear maps with deferred normalization, a warm vector that is
    // already the principal eigenvector stays on it (power iteration
    // from a converged direction is a fixpoint up to the final scalar
    // divide), so incremental re-runs converge in fewer iterations.
    var scores = warmFrom match {
      case Some(w) => verts.join(
          w.select(col("v").cast("long").as("wv"),
            col("auth").cast("double").as("wa"),
            col("hub").cast("double").as("wh")),
          col("v") === col("wv"), "left")
        .select(col("v"), coalesce(col("wa"), lit(1.0)).as("auth"),
          coalesce(col("wh"), lit(1.0)).as("hub"))
        .localCheckpoint(true)
      case None => verts.select(col("v"), lit(1.0).as("auth"), lit(1.0).as("hub"))
        .localCheckpoint(true)
    }
    for (i <- 1 to iterations) {
      val auth = halfRaw(scores, "hub", "esrc", "edst", "auth")
      val hub = halfRaw(auth, "auth", "edst", "esrc", "hub")
      val next = auth.join(hub, "v")
      // checkpoint cadence bounds lineage to two iterations of join+agg
      scores = if (i % 2 == 0 || i == iterations) next.localCheckpoint(true) else next
    }
    e.unpersist()
    // ONE final max-normalization per score family (commutes with the
    // linear half-steps — see scaladoc)
    scores.crossJoin(broadcast(
        scores.agg(max("auth").as("ma"), max("hub").as("mh"))))
      .select(col("v"), (col("auth") / col("ma")).as("auth"),
        (col("hub") / col("mh")).as("hub"))
  }

  /** Per-edge Jaccard vertex similarity |N(a)∩N(b)| / |N(a)∪N(b)| over the
    * undirected view of `edges` — the link-prediction / graph-cleaning
    * primitive. Common neighbors come from ONE wedge self-join on the
    * symmetric neighbor list (shuffle keys = vertex ids, never all-pairs);
    * the score is exact e6 fixed point (integer division), so no float
    * drift between engines. Returns `(a, b, jaccard_e6)` with a < b.
    */
  def jaccardEdges(spark: SparkSession, edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    // symmetric neighbor list, checkpointed: consumed by the degree agg
    // and both legs of the wedge join
    val nbr = und.select(col("a").as("v"), col("b").as("w"))
      .union(und.select(col("b").as("v"), col("a").as("w")))
      .distinct().localCheckpoint(true)
    val deg = nbr.groupBy("v").agg(count(lit(1)).as("d"))
    val inter = und
      .join(nbr.select(col("v").as("a"), col("w")), "a")
      .join(nbr.select(col("v").as("b"), col("w")), Seq("b", "w"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    und.join(inter, Seq("a", "b"), "left").na.fill(0L, Seq("inter"))
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        expr("inter * 1000000 div (da + db - inter)").as("jaccard_e6"))
  }

  /** One relaxation hop of the label-correcting loops ([[sssp]] and
    * [[labelCorrectLoop]]): each frontier vertex `(v, label)` proposes
    * `label + w` along its out-edges `(src, dst, w)` in `e` (`w` is 1 for
    * BFS levels and DAG layers) and `pick` keeps one proposal per vertex,
    * in the frontier label's type (BFS levels stay int). `wrap` is
    * applied to the frontier side of the join — [[sssp]] passes its
    * [[gated]] choice. */
  private def relaxHop(e: DataFrame, pick: Column => Column,
      fr: DataFrame, wrap: DataFrame => DataFrame = identity): DataFrame =
    e.join(wrap(fr.select(col("v").as("hv"), col("label").as("hl"))),
        e("src") === col("hv"))
      .groupBy(e("dst").as("v"))
      .agg(pick(col("hl") + col("w")).cast(fr.schema("label").dataType).as("label"))

  /** Single-source shortest paths over weighted edges
    * `(src: long, dst: long, w: long)`, positive weights — delta-stepping-
    * style Bellman-Ford: only vertices whose distance improved last round
    * (the "settled frontier") propagate relaxations, so each superstep is
    * one frontier⋈edges join + a min-merge, not a full |V| relaxation.
    * Returns `(v, dist)` for every vertex reachable from `start`.
    */
  def sssp(spark: SparkSession, edges: DataFrame, start: Long,
      maxIter: Int = 100): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("w").cast("long")).persist()
    var dist = Seq((start, 0L)).toDF("v", "dist").localCheckpoint(true)
    var frontier = dist
    var frontierCount = 1L
    var i = 0
    while (i < maxIter && frontierCount > 0) {
      // Candidate relaxations from the improved set only, broadcast only
      // under the size gate (the improved set can be O(|V|) mid-run). ONE
      // materialization per superstep: `merged` — cand feeds it exactly
      // once (no checkpoint), and frontier/dist are trivial projections of
      // the materialized merged frame (lineage stays rooted there). The
      // frontier count doubles as the termination check (it replaces the
      // isEmpty probe — same action count per superstep).
      // TWO relaxation hops per barrier (the expandTwice frontier-doubling
      // discipline applied to weighted label correction): hop-2 relaxes
      // the hop-1 PROPOSALS — proposals are walk costs so they never
      // undershoot, the full-outer min keeps only true improvements, and
      // any relaxation a non-improving proposal would have seeded was
      // already paid when its vertex last improved — so the fixpoint is
      // unchanged and the round count halves (Bellman-Ford rounds = max
      // hop count of shortest paths, the loop's entire cost at local[32]).
      // hop-2's probe size is only known a round later — gate its
      // broadcast under the [[FusedHopFanoutAllowance]]
      val cand1 = relaxHop(e, min,
        frontier.select(col("v"), col("dist").as("label")),
        gated(_, frontierCount))
      val cand = cand1
        .union(relaxHop(e, min, cand1,
          gated(_, frontierCount * FusedHopFanoutAllowance)))
        .groupBy("v").agg(min("label").as("nd"))
      val (merged, improvedCount) = checkpointCount(
        dist.as("d").join(cand.as("c"), Seq("v"), "full_outer")
          .select(col("v"),
            least(coalesce(col("d.dist"), lit(Long.MaxValue)),
                  coalesce(col("c.nd"), lit(Long.MaxValue))).as("dist"),
            (coalesce(col("c.nd"), lit(Long.MaxValue)) <
             coalesce(col("d.dist"), lit(Long.MaxValue))).as("improved")),
        col("improved"))
      frontier = merged.filter(col("improved")).select("v", "dist")
      frontierCount = improvedCount
      dist = merged.select("v", "dist")
      i += 2
    }
    e.unpersist()
    dist
  }

  /** BFS that carries Brandes path counts: one loop computes both the
    * level sets AND σ(v) = number of shortest start→v paths, because every
    * shortest-path predecessor of a level-l vertex is exactly a level-(l−1)
    * vertex — i.e. the whole frontier. So the frontier⋈edges join that BFS
    * already pays yields σ for free as `sum(predecessor σ)` grouped by
    * destination, and the separate forward sweep Brandes would otherwise
    * run (maxL more per-level joins + barriers) disappears.
    * Requires DISTINCT edges (parallel edges would double-count paths).
    * Returns `(v, level, sigma)` for every reachable vertex.
    */
  private[graft] def bfsSigma(spark: SparkSession, edges: DataFrame, start: Long,
      maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    sigmaBfs(edges, Seq((start, 0, 1L)).toDF("v", "level", "sigma"), 1L, Seq(),
      maxIter)
  }

  /** The one σ-BFS loop behind [[bfsSigma]] and [[multiSourceBfsSigma]]:
    * state `(keys…, v, level, sigma)` from `init` (`initCount` rows). ONE
    * level per barrier — σ sums do not fuse across two hops the way
    * [[expandTwice]]'s min-levels do — with both joins [[gated]] on the
    * counts the loop holds and the accumulated set checkpointed every
    * other pair of levels, as in [[levelBfs]]. Each frontier is
    * checkpointed (and counted, in the same job): persist() alone is NOT
    * enough here — a cached plan keeps its full logical lineage, and
    * because each frontier's anti-join embeds the whole accumulated
    * `levels` union, the un-truncated plan tree grows geometrically with
    * depth until AQE's plan stringification alone OOMs (observed at
    * sf0.1). The checkpoint cuts the plan at every superstep, so `levels`
    * stays a flat union of checkpointed frontiers. */
  private def sigmaBfs(edges: DataFrame, init: DataFrame, initCount: Long,
      keys: Seq[String], maxIter: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val state = keys :+ "v"
    var levels = init
    var frontier = init
    var seenCount = initCount
    var frontierCount = initCount
    def expand(f: DataFrame, seen: DataFrame, level: Int): (DataFrame, Long) = {
      val grown = e.join(gated(f, frontierCount), f("v") === e("src"))
        .groupBy(keys.map(col) :+ e("dst").as("v"): _*)
        .agg(sum(f("sigma")).as("sigma"))
      val pruned = grown.join(gated(seen.select(state.map(col): _*), seenCount),
        state, "left_anti")
      checkpointCount(pruned.select(keys.map(col) ++
        Seq(col("v"), lit(level).as("level"), col("sigma")): _*))
    }
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val (next1, n1) = expand(frontier, levels, i + 1)
      if (n1 == 0) done = true
      else {
        seenCount += n1
        frontierCount = n1
        val seen1 = levels.union(next1)
        val (next2, n2) = expand(next1, seen1, i + 2)
        seenCount += n2
        frontierCount = n2
        val u = seen1.union(next2)
        levels = if (i % 4 >= 2) u.localCheckpoint(true) else u
        if (n2 == 0) done = true else frontier = next2
      }
      i += 2
    }
    e.unpersist()
    levels
  }

  /** Single-source Brandes dependency (the per-source slice of betweenness
    * centrality) over unweighted DISTINCT edges: σ(v) = number of shortest
    * s→v paths, accumulated level by level down the BFS DAG; δ(v) =
    * Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w)), accumulated level by level back
    * up. Full betweenness sums δ over all sources — one such pass per
    * source, embarrassingly parallel at scale; a single deterministic pass
    * is the oracle-friendly unit (the DuckDB oracle unrolls both sweeps
    * over the same fixed level cap).
    *
    * Returns `(v, level, sigma, dep)` for every vertex reachable from
    * `start`, dep rounded to 6 dp (δ sums doubles — last-ulp summation
    * order must not leak into the compare).
    *
    * Scale shape: both sweeps are per-level joins keyed on vertex id —
    * each superstep touches one BFS level, never the whole graph; σ/δ
    * frames stay distributed. maxLevel is a scalar planner statistic.
    */
  def brandesDependency(spark: SparkSession, edges: DataFrame, start: Long,
      maxIter: Int = 50): DataFrame = {
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    // Levels AND path counts from ONE BFS loop ([[bfsSigma]]): σ falls out
    // of the frontier⋈edges join BFS already pays, so the classic separate
    // forward sweep (maxL more per-level joins and their barriers) is gone.
    val sigAll = bfsSigma(spark, ed, start, maxIter).localCheckpoint(true)
    brandesBackward(spark, ed, sigAll)
  }

  /** Single-source backward sweep over a precomputed `(v, level, sigma)`
    * frame — see [[multiBrandesBackward]] for why this is split out. */
  private[graft] def brandesBackward(spark: SparkSession, ed: DataFrame,
      sigAll: DataFrame): DataFrame = {
    import spark.implicits._
    val maxL = sigAll.agg(max("level")).collect()(0).getInt(0)
    // backward sweep: dependency accumulation up the DAG. The σ context is
    // joined ONCE up front — DAG edges (wlevel == srclevel + 1) annotated
    // with both endpoint σs and the source level — so each level of the
    // sweep is a single join against the previous level's δ instead of
    // re-joining levels/edges/σ/σ every superstep (4 joins → 1 per level;
    // the annotated edge set is exactly the Brandes DAG, nothing larger).
    val dagEdges = ed
      .join(sigAll.select(col("v").as("xv"), col("level").as("xlevel"),
        col("sigma").as("xsigma")), col("src") === col("xv"))
      .join(sigAll.select(col("v").as("wv"), col("level").as("wlevel"),
        col("sigma").as("wsigma")), col("dst") === col("wv") &&
        col("wlevel") === col("xlevel") + 1)
      .select(col("src"), col("dst"), col("xlevel"), col("xsigma"), col("wsigma"))
      .localCheckpoint(true)
    var delPrev = Seq.empty[(Long, Double)].toDF("dv", "delta") // level maxL has no successors
    var dels = List.empty[DataFrame]
    for (l <- (maxL - 1) to 0 by -1) {
      val cur0 = dagEdges.filter(col("xlevel") === l)
        .join(delPrev, col("dst") === col("dv"), "left")
        .groupBy(col("src").as("v"))
        .agg(sum(col("xsigma").cast("double") / col("wsigma").cast("double") *
          (lit(1.0) + coalesce(col("delta"), lit(0.0)))).as("delta"))
        .select(col("v").as("dv"), col("delta"))
      // Same every-3rd-barrier policy as the forward sweep; cur is consumed
      // twice (next level + final union) so the lazy window stays ≤3 deep.
      val cur = if (l % 3 == 0 || l == 0) cur0.localCheckpoint(true) else cur0
      dels ::= cur
      delPrev = cur
    }
    val delAll = dels match {
      case Nil => delPrev
      case ds  => ds.reduce(_ union _)
    }
    sigAll.join(delAll, col("v") === col("dv"), "left")
      .select(col("v"), col("level"), col("sigma"),
        round(coalesce(col("delta"), lit(0.0)), 4).as("dep"))
  }

  /** Strongly connected components of a DIRECTED graph — the coloring
    * (forward-backward) BSP algorithm, the standard distributed SCC
    * formulation (Orzan; FW-BW-Trim family):
    *
    * per round over the remaining subgraph:
    *  0. TRIM to a fixpoint: vertices with no in-edge or no out-edge in
    *     the remaining subgraph are singleton SCCs and peel off before
    *     any flood — two semi joins per peel, so chain/tree regions never
    *     cost a color flood (the r6 "trim pre-pass" task);
    *  1. flood the MAX vertex id forward to a fixpoint ("colors": color(v)
    *     = max id among v's ancestors ∪ v) — improvement-frontier
    *     propagation, one frontier⋈edges join + max-merge per superstep;
    *  2. roots = vertices whose color is themselves; every root's SCC is
    *     exactly the set it can reach BACKWARD through vertices of its own
    *     color (multi-source backward BFS batched over ALL roots at once,
    *     riding one loop the way [[multiSourceBfsSigma]] batches seeds);
    *  3. assigned vertices leave the graph; unresolved ones (forward-only
    *     vertices colored by a larger non-mutual ancestor) go to the next
    *     round.
    *
    * Adversarial chains need O(chain depth) rounds, so the round cap
    * throws rather than returning a partial decomposition (same loud-fail
    * discipline as [[dagLayers]]); GraphSpec exercises a 2-round graph.
    * All joins obey the frontier/seen-set broadcast gate of the BFS
    * family, [[gated]]. Returns `(v, scc)` with scc = MAX vertex id of the component.
    */
  def stronglyConnectedComponents(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 5, maxIter: Int = 100): DataFrame = {
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    var (rem, remCount) = checkpointCount(
      e0.select(col("src").as("v")).union(e0.select(col("dst").as("v"))).distinct())
    var e = e0
    var out = List.empty[DataFrame]
    var round = 0
    while (remCount > 0 && round < maxRounds) {
      // 0. trim pre-pass (the "Trim" of FW-BW-Trim): a vertex with no
      // in-edge or no out-edge in the remaining subgraph cannot lie on a
      // cycle, so it is its own singleton SCC. Peel to a fixpoint before
      // the flood — each peel is two distincts + two semi joins, far
      // cheaper than a flood superstep, and it removes the chains and
      // dangling trees the color flood would otherwise burn a full
      // O(depth) round on. Bounded by maxIter; a stalled trim just falls
      // through to the flood (trim is an optimization, not a phase the
      // algorithm needs for correctness).
      var trimming = true
      var t = 0
      while (trimming && remCount > 0 && t < maxIter) {
        val haveOut = e.select(col("src").as("v")).distinct()
        val haveIn = e.select(col("dst").as("v")).distinct()
        val (core, coreCount) = checkpointCount(
          rem.join(haveOut, Seq("v"), "left_semi").join(haveIn, Seq("v"), "left_semi"))
        if (coreCount == remCount) trimming = false
        else {
          val peeled = rem.join(gated(core, coreCount), Seq("v"), "left_anti")
            .select(col("v"), col("v").as("scc")).localCheckpoint(true)
          out ::= peeled
          rem = core
          remCount = coreCount
          if (remCount > 0) {
            val cv1 = core.select(col("v").as("cv1"))
            val cv2 = core.select(col("v").as("cv2"))
            e = e.join(gated(cv1, coreCount), col("src") === col("cv1"), "left_semi")
              .join(gated(cv2, coreCount), col("dst") === col("cv2"), "left_semi")
              .localCheckpoint(true)
          }
        }
        t += 1
      }
      if (remCount == 0) { round += 1 }
      else {
      // 1. forward max-color flood (improvement frontiers only). One hop
      // per materialization, deliberately: a two-hop overlay batching
      // (the dagLayers shape) was tried in r7 and MEASURED SLOWER here —
      // the post-trim colors table is small enough that the full
      // left-join update is cheaper than the extra overlay join +
      // anti-merge the batching pays.
      var colors = rem.select(col("v"), col("v").as("color")).localCheckpoint(true)
      var frontier = colors
      var fCount = remCount
      var i = 0
      while (fCount > 0 && i < maxIter) {
        val cand = e.join(gated(frontier, fCount), col("v") === col("src"))
          .groupBy(col("dst").as("w")).agg(max("color").as("nc"))
        val (joined, improvedCount) = checkpointCount(
          colors.join(cand, col("v") === col("w"), "left")
            .select(col("v"),
              greatest(col("color"), coalesce(col("nc"), col("color"))).as("c2"),
              (coalesce(col("nc"), col("color")) > col("color")).as("improved")),
          col("improved"))
        frontier = joined.filter(col("improved"))
          .select(col("v"), col("c2").as("color"))
        fCount = improvedCount
        colors = joined.select(col("v"), col("c2").as("color"))
        i += 1
      }
      if (fCount > 0) throw new IllegalStateException(
        s"SCC color flood did not converge in $maxIter supersteps")
      colors = colors.localCheckpoint(true)
      // 2. backward reach from all roots, restricted to same-color edges
      val er = e
        .join(colors.select(col("v").as("sv"), col("color").as("scol")),
          col("src") === col("sv"))
        .join(colors.select(col("v").as("dv"), col("color").as("dcol")),
          col("dst") === col("dv"))
        .filter(col("scol") === col("dcol"))
        .select(col("dst").as("efrom"), col("src").as("eto"), col("scol").as("ecolor"))
        .localCheckpoint(true)
      var (assigned, assignedCount) = checkpointCount(
        colors.filter(col("v") === col("color")).select(col("v"), col("color").as("scc")))
      var bf = assigned
      var bCount = assignedCount
      i = 0
      while (bCount > 0 && i < maxIter) {
        val grown = er.join(gated(bf, bCount),
            col("v") === col("efrom") && col("scc") === col("ecolor"))
          .select(col("eto").as("v"), col("scc")).distinct()
        val (fresh, freshCount) = checkpointCount(
          grown.join(gated(assigned.select("v"), assignedCount), Seq("v"), "left_anti"))
        bCount = freshCount
        if (bCount > 0) {
          assigned = assigned.union(fresh).localCheckpoint(true)
          assignedCount += bCount
        }
        bf = fresh
        i += 1
      }
      out ::= assigned
      // 3. shrink the remaining subgraph
      val (remNext, remNextCount) = checkpointCount(
        rem.join(gated(assigned.select("v"), assignedCount), Seq("v"), "left_anti"))
      rem = remNext
      remCount = remNextCount
      if (remCount > 0) {
        val av = assigned.select(col("v").as("av"))
        e = e.join(gated(av, assignedCount), col("src") === col("av"), "left_anti")
          .join(gated(assigned.select(col("v").as("av2")), assignedCount),
            col("dst") === col("av2"), "left_anti")
          .localCheckpoint(true)
      }
      round += 1
      }
    }
    if (remCount > 0) throw new IllegalStateException(
      s"SCC did not resolve in $maxRounds coloring rounds - " +
        s"$remCount vertices left; raise maxRounds for chain-heavy graphs")
    out.reduce(_ union _).select(col("v"), col("scc"))
  }

  /** Edge count up to which [[connectedComponents]] solves on the driver:
    * 1M (long, long) edges collected as primitive pairs ≈ 50–100 MB of
    * driver heap with tuple/array overhead — comparable to a broadcast
    * relation. The near-dup pair graphs this serves (verified LSH
    * collisions) are orders of magnitude smaller than their corpus, so at
    * 100 TB the gate usually still picks the driver solve; a genuinely
    * huge edge set falls through to the BSP loop. */
  private[graft] val DriverSolveEdgeLimit = 1L * 1000 * 1000

  /** Connected components of an edge list that must already contain BOTH
    * directions of every edge. Returns `(v: long, comp: long)` where
    * comp = min vertex id in the component.
    *
    * Size-gated like the BFS seen-set broadcast: a small edge set (most
    * post-filter similarity graphs) is collected and solved with one
    * union-find pass — a distributed min-label loop costs 2–4 supersteps
    * of join+shuffle+materialize FIXED overhead that dwarfs the work.
    * Past `DriverSolveEdgeLimit` the BSP min-label propagation runs,
    * converging in O(diameter) supersteps.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame, maxIter: Int = 50,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    val e = edges.select(col("src").cast("long").as("esrc"),
      col("dst").cast("long").as("edst")).persist()
    // The count doubles as the size gate and materializes the persist for
    // whichever path runs.
    val edgeCount = e.count()
    if (edgeCount <= driverSolveLimit) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // collect PRIMITIVE pairs via the RDD, not Rows (a GenericRow costs
      // ~10x the two longs it carries — the gate's size math assumes pairs)
      val arr = e.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      val verts = scala.collection.mutable.HashSet.empty[Long]
      arr.foreach { case (a, b) =>
        verts += a; verts += b
        val (ra, rb) = (find(a), find(b))
        // union by min root keeps comp = min vertex id deterministically
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val out = verts.toArray.sorted.map(v => (v, find(v))).toSeq
      e.unpersist()
      import spark.implicits._
      return out.toDF("v", "comp")
    }
    // localCheckpoint up front also severs lineage provenance so the
    // label⋈edge joins below aren't flagged as ambiguous self-joins.
    var labels = e.select(col("esrc").as("v")).union(e.select(col("edst").as("v")))
      .distinct().withColumn("comp", col("v")).localCheckpoint(true)
    var i = 0
    var changed = 1L
    while (i < maxIter && changed > 0) {
      val nbrMin = labels.as("l").join(e.as("e"), col("l.v") === col("e.esrc"))
        .groupBy(col("e.edst").as("nv"))
        .agg(min(col("l.comp")).as("nbr_comp"))
      // One checkpoint-and-count job per superstep: the changed-count
      // rides the job that fills the checkpoint, and the next label set is
      // a cheap projection of it.
      val (updated, changedCount) = checkpointCount(
        labels.join(nbrMin, labels("v") === col("nv"), "left")
          .select(labels("v"), col("comp"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp2")),
        col("comp2") < col("comp"))
      changed = changedCount
      labels = updated.select(col("v"), col("comp2").as("comp"))
      i += 1
    }
    e.unpersist()
    labels
  }

  /** Round cap shared by [[maximalIndependentSet]]'s two executors and the
    * q_graph_mis oracle's fixed SQL unroll (rounds past convergence are
    * empty no-ops on both sides; non-convergence within the cap is a loud
    * failure, never a truncated result). */
  private[graft] val MisRoundCap = 32

  /** The LCG vertex priority p(v) = (v·1103515245 + 12345) mod 2³¹ that
    * every symmetry-breaking operator (MIS, Jones-Plassmann and
    * speculative coloring, their incremental cone replays) orders by. */
  private[graft] def lcgPri(v: Long): Long = (v * 1103515245L + 12345L) % 2147483648L
  /** Column form of [[lcgPri]]: the same arithmetic, evaluated in the plan. */
  private[graft] def lcgPriCol(c: Column): Column = (c * 1103515245L + 12345L) % 2147483648L

  /** `edges` as LONG `(src, dst)` with self-loops dropped — the edge set
    * of every LCG-priority operator (a self-looped vertex would be its
    * own neighbor) and of the snapshots their maintainers compare. */
  private def loopFree(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))

  /** The prologue of every LCG-priority operator: the [[loopFree]] edges,
    * symmetrized into a distinct set `und` held as a lazy local
    * checkpoint, and ONE aggregate action over it that fills `und`,
    * returns `size` (the edge count by default) and runs the loud domain
    * gate. No caller reads `und` per round: [[supersteps]] collects it
    * once into its local index or groups it once into its
    * [[VertexAdjacency]], and the hp-cone filters it once. A checkpoint,
    * unlike a cached plan, keeps the partitions AQE coalesced it to (a
    * cached plan keeps `spark.sql.shuffle.partitions` of them), and it is
    * no cache entry for a caller to unpersist.
    *
    * The gate: p(v) = (v·1103515245 + 12345) mod 2³¹ is injective ONLY
    * on 0 ≤ v < 2³¹ (its full period). Outside that domain two ADJACENT
    * vertices can tie, and the greedy-by-priority operators diverge
    * silently — [[maximalIndependentSet]] would at least fail its
    * convergence require, but [[jonesPlassmannColoring]] would emit an
    * improper coloring (a tied pair waits for neither, both color in the
    * same round, both can take the same mex color) and the incremental
    * cone replays' sortBy(lcgPri) order becomes ambiguous. `und` is
    * symmetrized, so `src` covers every vertex. */
  private def lcgUndirected(edges: DataFrame, op: String,
      size: Column = count(lit(1))): (DataFrame, Long) = {
    val und = symmetrize(loopFree(edges)).distinct().localCheckpoint(eager = false)
    val r = und.agg(size, min(col("src")), max(col("src"))).collect()(0)
    require(r.isNullAt(1) || (r.getLong(1) >= 0L && r.getLong(2) < 2147483648L),
      s"$op: vertex ids span [${r.getLong(1)}, ${r.getLong(2)}], outside " +
        "the LCG priority's injective domain [0, 2^31) - adjacent " +
        "priorities could tie and greedy-by-priority order is undefined")
    (und, r.getLong(0))
  }

  /** One message exchange of a [[supersteps]] round, in the algebra of
    * [[VertexAdjacency.send]] and [[VertexAdjacency.receive]]: each vertex
    * `v` whose state `s` has `msg(v, s) = Some(m)` sends `m` to every
    * neighbour `u` with `to(v, u)`, combined per receiver by `combine`;
    * then every vertex takes `update(v, s, its combined message)`. Both
    * executors apply it: over a [[VertexAdjacency]] (one message
    * shuffle), and in memory over the `active` vertices of the local
    * index (those open when the round started). */
  private final class Exchange[S, M: ClassTag](msg: (Long, S) => Option[M],
      combine: (M, M) => M, to: (Long, Long) => Boolean = (_: Long, _: Long) => true)(
      update: (Long, S, Option[M]) => S) extends Serializable {
    def apply(g: VertexAdjacency, state: RDD[(Long, S)]): RDD[(Long, S)] =
      g.receive(state, g.send(state, to)(msg)(combine)).mapPartitions(
        _.map { case (v, (s, m)) => (v, update(v, s, m)) }, preservesPartitioning = true)
    def apply(ids: Array[Long], nbrs: Array[Array[Int]], state: Array[S],
        active: Array[Int]): Unit = {
      val in = Array.fill[Option[M]](ids.length)(None)
      for (i <- active; m <- msg(ids(i), state(i)); j <- nbrs(i) if to(ids(i), ids(j)))
        in(j) = Some(in(j).fold(m)(combine(_, m)))
      for (i <- active) state(i) = update(ids(i), state(i), in(i))
    }
  }

  /** The one round loop of the symmetry-breakers, a vertex program with
    * two executors. The program: an [[lcgUndirected]] prologue over
    * `edges`, the state `init` for every vertex, and for the rounds
    * r = 1, 2, … while any vertex is `open` the [[Exchange]]s `round(r)`,
    * applied in order. A vertex not `open` when a round starts is final:
    * it sends nothing and no update changes it. A state still open after
    * `maxRounds` rounds throws `fail(open vertices)`. The result is the
    * non-nullable DDL `schema`, one `row` per vertex it keeps.
    *
    * The executor is one branch on the prologue's edge count. At most
    * `driverSolveLimit` edges (the size gate of [[connectedComponents]])
    * are collected once into an id index with neighbour-index arrays, and
    * each round visits the vertices open at its start, in memory, with no
    * Spark job; the result leaves as a local relation. Past the gate the
    * rounds run over a [[VertexAdjacency]], each ending in one
    * [[checkpointCountRdd]] barrier — ONE Spark job, whose message
    * shuffles are stages of it — and the result leaves through
    * `GraftFrames.sized`, sized by the vertex count. The adjacency is
    * unpersisted on every exit, and each round's input state once the
    * next one is filled. Both executors run the same rounds, so their
    * `round` columns agree by construction. */
  private def supersteps[S: ClassTag](spark: SparkSession, edges: DataFrame, op: String,
      maxRounds: Int, driverSolveLimit: Long, schema: String, fail: Long => String)(
      init: (Long, Array[Long]) => S, open: S => Boolean)(round: Int => Seq[Exchange[S, _]])(
      row: PartialFunction[(Long, S), InternalRow]): DataFrame = {
    val (und, edgeCount) = lcgUndirected(edges, op)
    val pairs = und.rdd.map(x => (x.getLong(0), x.getLong(1)))
    def rounds(vertices: Long)(step: Int => Long): Unit = {
      var (n, r) = (vertices, 0)
      while (n > 0 && r < maxRounds) { r += 1; n = step(r) }
      require(n == 0, fail(n))
    }
    if (edgeCount <= driverSolveLimit) {
      val es = pairs.collect()
      val at = scala.collection.mutable.LongMap.empty[Int]
      es.foreach(e => at.getOrElseUpdate(e._1, at.size))
      val ids = new Array[Long](at.size)
      at.foreach { case (v, i) => ids(i) = v }
      val adj = Array.fill(ids.length)(Array.newBuilder[Int])
      es.foreach(e => adj(at(e._1)) += at(e._2))
      val nbrs = adj.map(_.result())
      val state = Array.tabulate(ids.length)(i => init(ids(i), nbrs(i).map(ids)))
      var active = ids.indices.toArray
      rounds(ids.length) { r =>
        round(r).foreach(_(ids, nbrs, state, active))
        active = active.filter(i => open(state(i)))
        active.length
      }
      GraftFrames.local(spark, ids.indices.flatMap(i => row.lift((ids(i), state(i)))),
        StructType.fromDDL(schema))
    } else {
      val g = new VertexAdjacency(spark, pairs)
      try {
        var (state, vertices) = checkpointCountRdd(g.init(init))
        rounds(vertices) { r =>
          val (next, n) = checkpointCountRdd(round(r).foldLeft(state)((s, x) => x(g, s)),
            (vs: (Long, S)) => open(vs._2))
          state.unpersist(blocking = false)
          state = next
          n
        }
        GraftFrames.sized(spark, state.collect(row), StructType.fromDDL(schema), vertices)
      } finally g.unpersist()
    }
  }

  /** Deterministic MAXIMAL INDEPENDENT SET — Luby-style min-priority
    * rounds under the fixed LCG priority p(v) = (v·1103515245 + 12345)
    * mod 2³¹ (odd multiplier × power-of-two modulus ⇒ injective for
    * v < 2³¹, so priority ties cannot occur): each round selects every
    * ACTIVE vertex whose priority is strictly below every active
    * neighbor's, adds it to the set, and deactivates its closed
    * neighborhood. With a fixed injective priority the parallel fixpoint
    * EQUALS the sequential greedy MIS in priority order, and the
    * selection round is the vertex's depth in the greedy dependency
    * chain — fully deterministic, so the oracle replays the identical
    * rounds in SQL. Input edges may be directed/duplicated; self-loops
    * are dropped (a self-looped vertex is its own neighbor and could
    * never be selected); isolated vertices are out of scope (an edge
    * list cannot carry them). Returns `(v, round)` for members, 1-based.
    *
    * The rounds are one [[supersteps]] program, run in memory at most
    * `driverSolveLimit` edges and as RDD supersteps past that gate. Each
    * vertex's state is its round (0 while active, r once it joins in
    * round r, −1 once a neighbor has), so the members' rounds need no
    * accumulator. A round is two [[Exchange]]s — each active vertex's
    * priority to its neighbors (combined by min), then a removal notice
    * from each new member — and past the gate one Spark job. Expected
    * O(log n) rounds on bounded-degree graphs (Luby); `maxRounds` bounds
    * both executors loudly, matching the oracle's fixed unroll. Both
    * return one schema, non-nullable `(v LONG, round INT)`. q_graph_mis
    * benches the gate path, q_graph_mis_bsp forces the supersteps (the
    * q_graph_cc_bsp discipline).
    */
  def maximalIndependentSet(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = MisRoundCap,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    // state: 0 = active, r > 0 = member since round r, -1 = removed
    supersteps[Int](spark, edges, "maximalIndependentSet", maxRounds, driverSolveLimit,
        "v LONG NOT NULL, round INT NOT NULL",
        n => s"MIS did not converge within $maxRounds rounds ($n vertices still active)")(
        (_, _) => 0, _ == 0) { round => Seq(
      // an active vertex below the min priority of its active neighbours
      // joins the set this round
      new Exchange[Int, Long]((v, s) => if (s == 0) Some(lcgPri(v)) else None, math.min)(
        (v, s, m) => if (s == 0 && m.forall(lcgPri(v) < _)) round else s),
      // and removes its active neighbours
      new Exchange[Int, Unit]((_, s) => if (s == round) Some(()) else None, (_, _) => ())(
        (_, s, hit) => if (s == 0 && hit.isDefined) -1 else s))
    } { case (v, s) if s > 0 => InternalRow(v, s) }
  }

  /** The gathered downstream-dependency-cone subproblem shared by the
    * incremental MIS and coloring maintainers: cone vertex frame (for the
    * state splice), cone vertices + their FULL hp-adjacency in memory,
    * and the boundary frame (hp-neighbors outside the cone, whose OLD
    * state is valid on the new graph by the cone invariant). Empty cone
    * ⇒ coneVerts empty and the caller returns the previous state verbatim. */
  private case class HpCone(coneDf: DataFrame, coneVerts: Array[Long],
      hpAdj: Map[Long, Array[Long]], boundaryDf: DataFrame)

  /** Driver-gather pair budget for the dependency-cone subproblem
    * (r11 VERDICT weak mark): the cone-VERTEX gate alone does not bound
    * what reaches the driver — the gather collects the cone's full
    * hp-adjacency, so a single high-degree hub inside a tiny cone can
    * defeat a vertex-count bound by orders of magnitude. 2M pairs
    * ≈ 32 MB of longs, comfortably driver-sized; past it the maintainers
    * fall back to the full distributed operator (total, never a
    * require-failure). */
  private[graft] val ConeGatherPairLimit = 2000000L

  /** Build the conservative change cone of an insert-only delta under the
    * fixed LCG priority — see [[incrementalMaximalIndependentSet]] for
    * the theory and the honesty contract of `maxConeFraction`.
    *
    * Returns None — "this delta is not profitably cone-scoped, run the
    * full operator" — when the cone outgrows `coneGatherLimit` vertices,
    * fails to close within `maxRounds` waves, or its gathered
    * hp-adjacency exceeds `coneGatherPairLimit` PAIRS (the skew gate: a
    * hub inside the cone contributes its whole degree to the gather even
    * when cone vertices stay tiny). The ONLY remaining require() is
    * `maxConeFraction` — an explicit fixture-honesty opt-in asserting the
    * scoping stays real, never hit with the 1.0 default. */
  private def hpDependencyCone(spark: SparkSession, newEdges: DataFrame,
      prevEdges: DataFrame, inserted: DataFrame, maxRounds: Int,
      coneGatherLimit: Long, coneGatherPairLimit: Long,
      maxConeFraction: Double): Option[HpCone] = {
    import spark.implicits._
    val (und, totalV) = lcgUndirected(newEdges, "hpDependencyCone",
      countDistinct(col("src")))
    // dependency edges on the NEW graph, checkpointed: src's decision
    // waits on dst (p(dst) < p(src)). Priorities are arithmetic on the
    // id, so "who waits for whom" is one static filter, never a join.
    val hp = und.filter(lcgPriCol(col("dst")) < lcgPriCol(col("src"))).localCheckpoint(true)
    // seeds: the higher-priority-VALUE (= later-deciding) endpoint of
    // each inserted edge — the only endpoint whose input set changed —
    // plus any vertex absent from the previous snapshot (SAME
    // normalization as the full operators: a vertex that existed only
    // via a self-loop was OUTSIDE the previous universe and is new)
    val insSeeds = inserted.filter(col("src") =!= col("dst"))
      .select(when(lcgPriCol(col("src")) > lcgPriCol(col("dst")), col("src"))
        .otherwise(col("dst")).cast("long").as("v"))
    val newVerts = und.select(col("src").as("v")).distinct()
      .join(edgeUniverse(prevEdges), Seq("v"), "left_anti")
    var (frontier, coneCount) =
      checkpointCount(insSeeds.unionByName(newVerts).distinct())
    val cone = new Waves(spark, "v LONG")
    cone.add(frontier)
    // the limit must bound the SEED set too: a huge delta whose cone
    // never grows past its seeds would otherwise reach the driver gather
    // with no size check at all
    if (coneCount > coneGatherLimit) {
      trace(s"hpDependencyCone: $coneCount seeds exceed the " +
        s"$coneGatherLimit-vertex gather limit - falling back to the full operator")
      return None
    }
    var grew = coneCount > 0
    var r = 0
    while (grew && r < maxRounds) {
      r += 1
      val (next, n) = checkpointCount(hp
        .join(frontier.select(col("v").as("fv")), col("dst") === col("fv"), "left_semi")
        .select(col("src").as("v")).distinct()
        .join(cone.all, Seq("v"), "left_anti"))
      if (n == 0) grew = false
      else {
        cone.add(next)
        coneCount += n
        frontier = next
        if (coneCount > coneGatherLimit) {
          trace(s"hpDependencyCone: cone ($coneCount vertices) exceeded the " +
            s"$coneGatherLimit-vertex gather limit - falling back to the full operator")
          return None
        }
      }
    }
    if (grew) {
      trace(s"hpDependencyCone: cone did not close within $maxRounds waves" +
        " - falling back to the full operator")
      return None
    }
    require(coneCount <= totalV * maxConeFraction,
      s"cone covers $coneCount of $totalV vertices - the delta no longer" +
        " demonstrates scoped maintenance")
    val coneDf = cone.all
    if (coneCount == 0) return Some(HpCone(coneDf, Array.empty, Map.empty, coneDf))
    // gather the cone subproblem: its full hp-adjacency + the boundary
    // vertex set. Cone VERTICES are bounded above; the PAIR gate bounds
    // what actually reaches the driver (cone x degree — a single hub
    // inside the cone can carry its whole degree here).
    // ONE gather job does gate + gather (r12 VERDICT #6: the separate
    // checkpoint + count pair gate showed up as the maintainer's cost
    // band): limit(pairLimit+1).collect() stops streaming rows to the
    // driver the moment the budget is exceeded — the driver never holds
    // more than pairLimit+1 pairs, exactly the bound the old count gate
    // enforced, without materializing coneHp twice. The boundary set is
    // then pure driver arithmetic on the already-gathered pairs (its old
    // spelling was a distributed distinct + anti-join over coneHp).
    val gathered = hp
      .join(coneDf.select(col("v").as("cv")), col("src") === col("cv"), "left_semi")
      .limit(coneGatherPairLimit.toInt + 1).collect()
    if (gathered.length > coneGatherPairLimit) {
      trace(s"hpDependencyCone: cone hp-adjacency (>$coneGatherPairLimit " +
        s"pairs over $coneCount vertices) exceeded the gather limit - " +
        "falling back to the full operator")
      return None
    }
    val pairs = gathered.map(x => (x.getLong(0), x.getLong(1)))
    val coneVerts = coneDf.rdd.map(_.getLong(0)).collect()
    val coneSet = new java.util.HashSet[Long](coneVerts.length * 2)
    coneVerts.foreach(coneSet.add)
    val boundaryDf = pairs.iterator.map(_._2)
      .filter(d => !coneSet.contains(d)).toSeq.distinct.toDF("v")
    val hpAdj = pairs.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    Some(HpCone(coneDf, coneVerts, hpAdj, boundaryDf))
  }

  /** INCREMENTAL MIS maintenance over INSERT-only edge deltas — the
    * symmetry-breaking member of the incremental family: given the
    * previous snapshot's MIS (the [[maximalIndependentSet]] contract) and
    * the edges inserted since, returns the new graph's MIS WITHOUT
    * re-running the rounds over the old graph.
    *
    * Theory: under the fixed injective priority, v's membership is a
    * function of its higher-priority neighbors' memberships ONLY (greedy
    * recursion along the priority order). An inserted edge (a, b) changes
    * exactly the HIGHER-p endpoint's input; any consequence propagates
    * strictly DOWNSTREAM along priority-decreasing edges. The maintenance
    * step therefore (1) seeds the changed-input vertices (plus vertices
    * new to the snapshot), (2) expands their downstream DEPENDENCY CONE
    * over the new graph's hp-DAG with a BSP frontier loop (per-round work
    * ∝ frontier, not graph), (3) gathers the cone's hp-adjacency plus the
    * OLD memberships on its boundary — cone-sized, require()d under
    * `coneGatherLimit` — and (4) replays the greedy decisions inside the
    * cone in one driver pass. Memberships outside the cone are reused
    * VERBATIM. The cone is the CONSERVATIVE closure (potential, not
    * actual, change): a delta among low-priority vertices has a shallow
    * cone, while a highest-priority delta degenerates toward a full
    * replay — the same honest contract as warm-start PageRank: the bound
    * is structural, and the caller's delta locality determines the win.
    * A deleted edge needs the universe restriction of
    * [[incrementalMaximalIndependentSetDelete]], which seeds the same cone
    * with both diff sides.
    *
    * `maxConeFraction` lets a caller require the scoping to be REAL
    * (cone strictly smaller than the graph) — fixture drift that
    * degrades maintenance to a full replay then fails instead of
    * silently passing. Returns `(v)` — members of the new MIS (round
    * numbers are not maintained: an inserted dependency can delay a
    * vertex's round without changing any membership).
    */
  def incrementalMaximalIndependentSet(spark: SparkSession, newEdges: DataFrame,
      prevEdges: DataFrame, prevMis: DataFrame, inserted: DataFrame,
      // cone waves advance one hp-DAG hop each, so their bound is the
      // DAG-depth cap (48), NOT the O(log n) MIS round cap — a deep
      // high-priority delta must not fail on input the full operator
      // handles fine
      maxRounds: Int = ColoringRoundCap, coneGatherLimit: Long = 200000L,
      coneGatherPairLimit: Long = ConeGatherPairLimit,
      maxConeFraction: Double = 1.0): DataFrame = {
    import spark.implicits._
    val c = hpDependencyCone(spark, newEdges, prevEdges, inserted,
      maxRounds, coneGatherLimit, coneGatherPairLimit, maxConeFraction) match {
      // past a gather gate the maintainer is TOTAL, not require-failing:
      // the full operator on the new snapshot is always correct (its own
      // size gate picks driver vs distributed), and round numbers are
      // projected away per this maintainer's contract
      case None => return maximalIndependentSet(spark, newEdges).select("v")
      case Some(cone) => cone
    }
    if (c.coneVerts.isEmpty) return prevMis.select(col("v").cast("long"))
    // old memberships on the boundary remain valid on the new graph
    val member = scala.collection.mutable.HashSet.empty[Long]
    c.boundaryDf.join(prevMis.select(col("v")), Seq("v"), "left_semi")
      .rdd.map(_.getLong(0)).collect().foreach(member += _)
    c.coneVerts.sortBy(lcgPri).foreach { v =>
      // in-cone hp-neighbors are already decided (processed in priority
      // order); boundary hp-neighbors carry their old membership
      if (!c.hpAdj.getOrElse(v, Array.empty[Long]).exists(member)) member += v
    }
    val coneMembers = c.coneVerts.filter(member).sorted
    prevMis.select(col("v").cast("long"))
      .join(c.coneDf, Seq("v"), "left_anti")
      .unionByName(coneMembers.toSeq.toDF("v"))
  }

  /** INCREMENTAL Jones–Plassmann maintenance — the coloring twin of
    * [[incrementalMaximalIndependentSet]], over the SAME dependency cone:
    * colors are a function of higher-priority neighbors' colors only, so
    * outside the cone the old colors are valid verbatim and inside it the
    * greedy mex replays in one driver pass seeded by the boundary colors.
    * Returns `(v, color)` — rounds are not maintained (an inserted
    * dependency can delay a round without changing any color). */
  def incrementalColoring(spark: SparkSession, newEdges: DataFrame,
      prevEdges: DataFrame, prevColors: DataFrame, inserted: DataFrame,
      maxRounds: Int = ColoringRoundCap, coneGatherLimit: Long = 200000L,
      coneGatherPairLimit: Long = ConeGatherPairLimit,
      maxConeFraction: Double = 1.0): DataFrame = {
    import spark.implicits._
    val prevVC = prevColors.select(col("v").cast("long"), col("color").cast("int"))
    val c = hpDependencyCone(spark, newEdges, prevEdges, inserted,
      maxRounds, coneGatherLimit, coneGatherPairLimit, maxConeFraction) match {
      // total fallback past a gather gate — see incrementalMaximalIndependentSet
      case None => return jonesPlassmannColoring(spark, newEdges)
        .select(col("v"), col("color"))
      case Some(cone) => cone
    }
    if (c.coneVerts.isEmpty) return prevVC
    val colorOf = scala.collection.mutable.LongMap.empty[Int]
    c.boundaryDf.join(prevVC, Seq("v"))
      .rdd.map(x => (x.getLong(0), x.getInt(1))).collect()
      .foreach { case (v, col) => colorOf(v) = col }
    c.coneVerts.sortBy(lcgPri).foreach { v =>
      val used = c.hpAdj.getOrElse(v, Array.empty[Long]).iterator.flatMap { u =>
        // every hp-neighbor is decided: in-cone ones earlier in this
        // loop, boundary ones by their old color — a miss is a bug
        Some(colorOf.getOrElse(u,
          throw new IllegalStateException(s"undecided hp-neighbor $u of $v")))
      }.toSet
      colorOf(v) = mex(used)
    }
    val coneColored = c.coneVerts.sorted.map(v => (v, colorOf(v))).toSeq
    prevVC.join(c.coneDf, Seq("v"), "left_anti")
      .unionByName(coneColored.toDF("v", "color"))
  }

  /** New-snapshot vertex universe (symmetrized, self-loops dropped) —
    * the delete-aware wrappers restrict carried-over state to it. */
  private def edgeUniverse(edges: DataFrame): DataFrame = {
    val e0 = loopFree(edges)
    e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
  }

  private def diffUnion(inserted: DataFrame, deleted: DataFrame): DataFrame =
    inserted.select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(deleted.select(col("src").cast("long"), col("dst").cast("long")))

  /** DELETION-aware twins of the symmetry-breaking maintainers. Decisions
    * are functions of HIGHER-priority neighbors only, and a deleted
    * dependency changes exactly the same vertex an inserted one does —
    * the later-deciding endpoint — so the SAME conservative hp-cone
    * serves both diff sides: seed it with inserted ∪ deleted and the
    * cone expansion + greedy replay already run on the NEW graph (a
    * deleted edge is simply absent from the replay's dependencies). The
    * one delete-specific obligation is the UNIVERSE: a vertex whose every
    * edge was deleted vanishes from the edge-defined output, so the
    * carried-over old state is restricted to the new snapshot's vertex
    * set (cone output is already new-graph-scoped). */
  def incrementalMaximalIndependentSetDelete(spark: SparkSession,
      newEdges: DataFrame, prevEdges: DataFrame, prevMis: DataFrame,
      inserted: DataFrame, deleted: DataFrame,
      maxRounds: Int = ColoringRoundCap, coneGatherLimit: Long = 200000L,
      coneGatherPairLimit: Long = ConeGatherPairLimit,
      maxConeFraction: Double = 1.0): DataFrame =
    incrementalMaximalIndependentSet(spark, newEdges, prevEdges, prevMis,
      diffUnion(inserted, deleted), maxRounds, coneGatherLimit,
      coneGatherPairLimit, maxConeFraction)
      .join(edgeUniverse(newEdges), Seq("v"), "left_semi")

  /** See [[incrementalMaximalIndependentSetDelete]] — the coloring twin. */
  def incrementalColoringDelete(spark: SparkSession,
      newEdges: DataFrame, prevEdges: DataFrame, prevColors: DataFrame,
      inserted: DataFrame, deleted: DataFrame,
      maxRounds: Int = ColoringRoundCap, coneGatherLimit: Long = 200000L,
      coneGatherPairLimit: Long = ConeGatherPairLimit,
      maxConeFraction: Double = 1.0): DataFrame =
    incrementalColoring(spark, newEdges, prevEdges, prevColors,
      diffUnion(inserted, deleted), maxRounds, coneGatherLimit,
      coneGatherPairLimit, maxConeFraction)
      .join(edgeUniverse(newEdges), Seq("v"), "left_semi")

  /** Round cap shared by [[jonesPlassmannColoring]]'s two executors and the
    * q_graph_coloring oracle's fixed unroll (same contract as
    * [[MisRoundCap]]: no-op rounds past convergence, loud failure past
    * the cap). JP depth = the longest priority-decreasing path, much
    * deeper than the MIS removal depth — measured 18/23 rounds at
    * sf0.01/sf0.1 on the ring fixture (the ~+5-per-10x growth of a max
    * over n d-step chains), capped at 48 for sf1 headroom. */
  private[graft] val ColoringRoundCap = 48

  /** The least colour not in `used`. */
  private def mex(used: Int => Boolean): Int = Iterator.from(0).find(!used(_)).get

  /** Vertex state of the colouring [[supersteps]]: `round` is 0 while the
    * vertex is uncoloured (its `color` then -1) and its commit round
    * after; `used` holds the colours its coloured
    * neighbours have sent it; `pending` counts, for Jones-Plassmann, its
    * higher-priority neighbours not yet coloured. */
  private case class Hue(color: Int, round: Int, pending: Int, used: BitSet)

  /** The colouring result row of a [[Hue]] state, `(v, color, round)`. */
  private val hueRow: PartialFunction[(Long, Hue), InternalRow] =
    { case (v, h) => InternalRow(v, h.color, h.round) }
  private val HueSchema = "v LONG NOT NULL, color INT NOT NULL, round INT NOT NULL"

  /** JONES–PLASSMANN greedy graph coloring — the second classic
    * symmetry-breaking BSP primitive next to [[maximalIndependentSet]],
    * under the SAME fixed injective LCG priority: color(v) = mex of the
    * colors of v's HIGHER-priority neighbors, which is recursively
    * well-defined along the priority order and EQUALS the sequential
    * greedy coloring in that order; a vertex colors itself in the round
    * after its last higher-priority neighbor does, so round(v) is the
    * vertex's depth in the priority-decreasing dependency DAG. Everything
    * — membership, color, round — is deterministic, so the oracle replays
    * the identical rounds. Self-loops dropped (uncolorable otherwise);
    * returns non-nullable `(v LONG, color INT, round INT)`, colors
    * 0-based, rounds 1-based.
    *
    * The rounds are one [[supersteps]] program over a [[Hue]] per vertex,
    * whose `pending` starts at its higher-priority degree, run in memory
    * at most `driverSolveLimit` edges and as RDD supersteps past that
    * gate. In round r every vertex whose `pending` is 0 takes the mex of
    * its `used` colours and sends its colour to all its neighbours: ONE
    * [[Exchange]], combined per receiver as (senders, colour set). Any
    * uncoloured receiver is lower in priority order than the sender (it
    * could not have waited on a vertex that waits on it), so it subtracts
    * the senders from `pending` and adds the colours with no filter. Past
    * the gate a round is one Spark job; the graph-sized coloured set is
    * vertex state, never an accumulated frame. JP's cost profile is a
    * long thin tail (the ready sets decay geometrically: 23 rounds at
    * sf0.1, the last ~half colouring <2% of the vertices), at one job per
    * round. q_graph_coloring benches the gate, q_graph_coloring_bsp forces
    * the supersteps.
    */
  def jonesPlassmannColoring(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = ColoringRoundCap,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    supersteps[Hue](spark, edges, "jonesPlassmannColoring", maxRounds, driverSolveLimit,
        HueSchema, n =>
        s"coloring did not converge within $maxRounds rounds ($n vertices still uncolored)")(
        (v, ns) => Hue(-1, 0, ns.count(u => lcgPri(u) < lcgPri(v)), BitSet.empty),
        _.round == 0) { round =>
      val ready = (h: Hue) => h.round == 0 && h.pending == 0
      // a vertex with no uncolored higher-priority neighbor left takes the
      // mex of the colors it holds and sends it to every neighbor, as
      // (senders, colors) per receiver
      Seq(new Exchange[Hue, (Int, BitSet)](
          (_, h) => if (ready(h)) Some((1, BitSet(mex(h.used)))) else None,
          (a, b) => (a._1 + b._1, a._2 | b._2))({
        case (_, h, _) if ready(h) => Hue(mex(h.used), round, 0, BitSet.empty)
        // an uncolored receiver counts the senders off and keeps their colors
        case (_, h, Some((k, cs))) if h.round == 0 =>
          h.copy(pending = h.pending - k, used = h.used | cs)
        case (_, h, _) => h
      }))
    }(hueRow)
  }

  /** Round cap shared by [[speculativeColoring]]'s two executors and the
    * q_graph_coloring_spec oracle's fixed unroll (the ring fixture
    * converges in 3/4/5/5 rounds at sf0.001/0.01/0.1/1 under the hashed
    * round-1 guess — measured; rounds past convergence are no-ops on
    * both sides, non-convergence within the cap is loud). */
  private[graft] val SpecColoringRoundCap = 12

  /** SPECULATIVE graph coloring — Gebremedhin–Manne conflict-resolution
    * rounds, the barrier-count answer to Jones–Plassmann's depth-bound
    * weakness: JP pays one barrier per priority-DAG level (depth 23 on
    * the sf0.1 ring fixture), while speculation lets every uncolored
    * vertex pick a color each round and uncolors only the loser of each
    * tentative conflict. Round 1 is a HASHED GUESS (lcgPri % 8): a mex
    * start has no committed colors, so every vertex picks 0 and EVERY edge
    * conflicts — measured at sf0.1: mex start = 7 rounds with 12379/15000
    * uncolored after round 2 (REJECTED); hashed start = 5 rounds, 2628
    * uncolored after round 2.
    * Determinism (the replayable-oracle requirement): tentative colors
    * are a pure function of the committed state, and the conflict rule is
    * fixed — of two adjacent SAME-tentative-color vertices the HIGHER LCG
    * priority uncolors (priorities injective on [0, 2^31), gated loudly),
    * so the final coloring and each vertex's commit round replay
    * bit-for-bit in SQL. The result is a proper coloring but NOT the
    * sequential-greedy one — q_graph_coloring keeps that contract.
    * Progress is guaranteed (the min-priority uncolored vertex never
    * loses a conflict), `maxRounds` bounds both executors loudly.
    *
    * The rounds are one [[supersteps]] program over a [[Hue]] per vertex,
    * run in memory at most `driverSolveLimit` edges and as RDD supersteps
    * past that gate (there one Spark job per round), two [[Exchange]]s per
    * round as in [[maximalIndependentSet]]: each uncolored vertex sends
    * its tentative color to its neighbors of higher priority value,
    * combined into a color set, and a receiver whose own tentative color
    * is in it loses; then each winner sends a commit notice with its
    * color to all its neighbors, which feeds the receivers' next mex
    * through `used`.
    * Returns non-nullable `(v LONG, color INT, round INT)`, round = commit
    * round, 1-based. */
  def speculativeColoring(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = SpecColoringRoundCap,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    supersteps[Hue](spark, edges, "speculativeColoring", maxRounds, driverSolveLimit,
        HueSchema, n => s"speculative coloring did not converge within $maxRounds rounds " +
          s"($n vertices still uncolored)")(
        (_, _) => Hue(-1, 0, 0, BitSet.empty), _.round == 0) { round =>
      // tentative colors: round 1's hashed guess, then the mex of the
      // committed neighbors' colors
      val tent = (v: Long, h: Hue) => if (round == 1) (lcgPri(v) % 8).toInt else mex(h.used)
      Seq(
        // an uncolored vertex loses to a neighbor of smaller priority value
        // that picked its tentative color; a winner commits it
        new Exchange[Hue, BitSet]((v, h) => if (h.round == 0) Some(BitSet(tent(v, h))) else None,
            _ | _, (v, u) => lcgPri(v) < lcgPri(u))({
          case (v, h, rs) if h.round == 0 && !rs.exists(_(tent(v, h))) =>
            Hue(tent(v, h), round, 0, BitSet.empty)
          case (_, h, _) => h
        }),
        // the winners' commit notices feed the receivers' next mex
        new Exchange[Hue, BitSet]((_, h) => if (h.round == round) Some(BitSet(h.color)) else None,
            _ | _)({
          case (_, h, Some(cs)) if h.round == 0 => h.copy(used = h.used | cs)
          case (_, h, _) => h
        }))
    }(hueRow)
  }

  /** INCREMENTAL connected-components maintenance over INSERT-only edge
    * deltas — the graph-analytics consumer of the commit-log store's
    * snapshot diffs: given the previous CC state `(v, comp)` (comp = min
    * vertex id, the [[connectedComponents]] contract) and the edges
    * INSERTED since, returns the new state WITHOUT re-traversing the old
    * graph. Each inserted edge is contracted to its endpoints' previous
    * components (a new vertex owns itself), and CC runs on that CONTRACTED
    * component graph — sized by the delta and the components it touches,
    * never by the full graph — then old labels remap through the result.
    * Correctness of the min-label contract is compositional: each previous
    * comp id is already the min of its member set, so the min over a merged
    * group of comp ids IS the global min vertex — the output is equal to
    * `connectedComponents(oldEdges ∪ inserted)` (pinned in GraphSpec and
    * oracled end-to-end by q_graph_cc_incremental).
    *
    * DELETIONS are out of scope by design, loudly: removing an edge can
    * split a component, which cannot be decided from `(state, delta)`
    * without reachability over the surviving edges — a deletion-bearing
    * diff must recompute the affected components from the new snapshot.
    */
  def incrementalConnectedComponents(spark: SparkSession, prevState: DataFrame,
      inserted: DataFrame, maxIter: Int = 50,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    val pv = prevState.select(col("v").cast("long").as("v"),
      col("comp").cast("long").as("comp")).localCheckpoint(true)
    val ins = inserted.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint(true)
    // endpoints → previous comp (vertices unseen by the old state own
    // themselves); self-loops within one component carry no information
    val m = ins
      .join(pv.select(col("v").as("src"), col("comp").as("cs")), Seq("src"), "left")
      .join(pv.select(col("v").as("dst"), col("comp").as("cd")), Seq("dst"), "left")
      .select(coalesce(col("cs"), col("src")).as("a"),
        coalesce(col("cd"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
    val compEdges = m.union(m.select(col("b").as("a"), col("a").as("b")))
      .distinct().select(col("a").as("src"), col("b").as("dst"))
    // CC on the contracted graph: |edges| ≤ 2·|delta| regardless of the
    // base graph's size — this is the whole point of the maintenance path
    val remap = connectedComponents(spark, compEdges, maxIter, driverSolveLimit)
      .select(col("v").as("comp"), col("comp").as("ncomp"))
    val newVerts = ins.select(col("src").as("v")).union(ins.select(col("dst").as("v")))
      .distinct().join(pv.select("v"), Seq("v"), "left_anti")
    pv.union(newVerts.select(col("v"), col("v").as("comp")))
      .join(remap, Seq("comp"), "left")
      .select(col("v"), coalesce(col("ncomp"), col("comp")).as("comp"))
  }

  /** DELETION-aware incremental CC maintenance (r8 VERDICT #7 — the
    * insert-only family's first delete-bearing member): given the previous
    * state `(v, comp)` (comp = min member id, the [[connectedComponents]]
    * contract), the NEW snapshot's edges, and the two-sided diff
    * (`inserted` = new∖old, `deleted` = old∖new), returns the new state
    * recomputing ONLY the delete-affected components.
    *
    * Why deletes can't ride the contracted-graph path: an insert only
    * MERGES components (state-level information), but a delete may SPLIT
    * one, which is a reachability question over the surviving edges. The
    * scoped answer: let A = components touched by any deleted endpoint
    * and S = their member vertices. An OLD edge never crosses the S
    * boundary (an edge implies same old component, and deleted edges have
    * both endpoints in S by the same argument), so the new graph is
    * exactly [S-induced new edges] ⊎ [untouched outside components] ⊎
    * [inserted edges]. CC re-runs on R = S-induced new edges ∪ ALL
    * inserted edges (cost ∝ affected components + delta, never the full
    * graph — the iterative traversal is the expensive part and it is
    * S-scoped); then a CONTRACTED pass glues R-labels of R-vertices
    * outside S to their old component labels (each label is already its
    * part's min member id, so the min over a glued group IS the global
    * min — the same compositional argument as the insert-only path).
    * Vertices of S with no surviving edge drop out, matching a full
    * recompute over an edge-defined universe. The one full-edge-set cost
    * is the pair of semi-joins extracting S-induced edges — one scan, no
    * traversal; a production layout partitions the edge table by
    * component id so this read is partition-pruned instead. Oracled
    * end-to-end by q_graph_cc_incremental_del (hash-compared against the
    * full recompute over the new snapshot). */
  def incrementalConnectedComponentsDelete(spark: SparkSession,
      newEdges: DataFrame, prevState: DataFrame,
      inserted: DataFrame, deleted: DataFrame,
      maxIter: Int = 50,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    def sym(e: DataFrame): DataFrame = symmetrize(e.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))).distinct()
    val pv = prevState.select(col("v").cast("long").as("v"),
      col("comp").cast("long").as("comp")).localCheckpoint(true)
    val ins = sym(inserted)
    // affected components: any component touching a deleted endpoint
    // (delta-sized probe into the state, then a comp-keyed semi-join)
    val affComps = sym(deleted).select(col("src").as("v")).distinct()
      .join(pv, Seq("v")).select("comp").distinct()
    val sVerts = pv.join(affComps, Seq("comp"), "left_semi")
      .select("v").localCheckpoint(true)
    // R: new-graph edges inside S, plus every inserted edge
    val rEdges = sym(newEdges)
      .join(sVerts.select(col("v").as("src")), Seq("src"), "left_semi")
      .join(sVerts.select(col("v").as("dst")), Seq("dst"), "left_semi")
      .unionByName(ins).distinct()
    val rLabels = connectedComponents(spark, rEdges, maxIter, driverSolveLimit)
      .localCheckpoint(true)
    // glue: R-vertices OUTSIDE S tie their R-label to their old component
    // (new vertices have no old component and correctly contribute none)
    val glue = rLabels.select(col("v"), col("comp").as("rl"))
      .join(sVerts, Seq("v"), "left_anti")
      .join(pv.select(col("v"), col("comp").as("oc")), Seq("v"))
      .select(col("rl").as("src"), col("oc").as("dst"))
      .filter(col("src") =!= col("dst"))
    // contracted CC over labels only — delta-scale, not graph-scale
    val remap = connectedComponents(spark, glue, maxIter, driverSolveLimit)
      .select(col("v").as("lab"), col("comp").as("nlab"))
    def remapped(vl: DataFrame): DataFrame = vl
      .join(remap, Seq("lab"), "left")
      .select(col("v"), coalesce(col("nlab"), col("lab")).as("comp"))
    val outside = pv.join(sVerts, Seq("v"), "left_anti")
      .join(rLabels.select("v"), Seq("v"), "left_anti")
    remapped(outside.select(col("v"), col("comp").as("lab")))
      .unionByName(remapped(rLabels.select(col("v"), col("comp").as("lab"))))
  }

  /** The algebra of one traversal family under [[maintainLabels]]: the
    * output column `label` of type `labelType`, the per-edge `step`
    * (`lit(1L)` for BFS levels and DAG layers, the edge weight for SSSP),
    * the relaxation `pick` with its strict order `better` (min and `<`
    * for levels and distances, max and `>` for layers), and whether
    * every vertex carries a label (`allVertices`, DAG layers) rather than
    * only those a start vertex reaches. */
  private final case class Traversal(label: String, labelType: String,
      step: Column, pick: Column => Column,
      better: (Column, Column) => Column, allVertices: Boolean)
  private val Levels = Traversal("level", "int", lit(1L), min, _ < _, allVertices = false)
  private val Layers = Traversal("layer", "long", lit(1L), max, _ > _, allVertices = true)
  private val Dists = Traversal("dist", "long", col("w"), min, _ < _, allVertices = false)

  /** The one delta maintainer of the traversal family: BFS levels, DAG
    * layers and weighted SSSP under a snapshot diff (the reference's
    * level-synchronized BFS read, `secondary_server.c:588-619`, kept
    * current instead of re-run). Given the previous snapshot's labels
    * `prev` (`v`, `t.label`), the new snapshot's `edges`, the `inserted`
    * edges and, for the delete twins, the `deleted` ones, it returns the
    * new snapshot's exact labels without re-traversing the old graph.
    *
    * INSERTS ARE MONOTONE. An inserted edge can only improve a label in
    * the family's direction (lower a level or a distance, raise a layer)
    * or reach a new vertex, so every old label is a bound on the new one
    * from the safe side, and every proposal `label(u) + step` is the
    * length of a real path in the new graph. The old state already
    * satisfies every old edge, so the relaxation needs seeding only at
    * the inserted edges; [[labelCorrectLoop]] carries each improvement
    * along the full edge list, frontier by frontier, to the unique
    * fixpoint. An insert from a vertex that has no label yet fires later,
    * when the cascade reaches it. Work is sized by the delta's cascade,
    * never by the base graph.
    *
    * DELETES ARE NOT. A stored label stays valid while its support chain
    * survives: a parent p supports v when a surviving edge (p, v, w) is
    * TIGHT, label(p) + w = label(v), and p is itself supported (the
    * Ramalingam–Reps shape; w ≡ 1 for levels and layers; min or max only
    * matters to the re-relaxation, not to which labels a delete
    * invalidates). A supported label is still attained by a surviving
    * path, so it is again a safe-side bound. [[supportCascade]] finds the
    * vertices that lost their last tight parent, over the frozen old
    * labels. Their labels are dropped, and the same loop re-solves them,
    * seeded by the settled parents' proposals into the unsettled region
    * as well as by the inserted edges: one fixpoint serves both sides of
    * the diff, and inserts may improve settled labels too. Tightness
    * needs strictly positive steps (under a zero-weight cycle two equal
    * labels support each other forever), so a non-positive weight fails
    * loudly. Unsettled vertices no surviving path reaches drop out.
    *
    * SOURCE RULE (`allVertices`). A vertex with no in-edge in the new
    * graph is a source at 0, and no proposal ever reaches it, so sources
    * self-seed. Only two kinds of vertex can be a source without a valid
    * label: an unsettled one, and an inserted edge's tail that has no
    * settled label (a new vertex; an inserted head has the inserted edge
    * as its in-edge); every other vertex keeps its label.
    * UNIVERSE RULE (`allVertices`, delete path). A settled vertex whose
    * every edge was deleted keeps its old label, so the output is
    * restricted to the new snapshot's edge-defined vertex set. The
    * reachability families need neither rule: a label exists exactly
    * where a path from the start does.
    *
    * With no delete side (`deleted = None`) the call runs no cascade and
    * checkpoints nothing but the loop's own state: the edges are only
    * cached, so the insert-only maintainers pay nothing for the delete
    * machinery. */
  private def maintainLabels(spark: SparkSession, t: Traversal, opName: String,
      edges: DataFrame, prev: DataFrame, inserted: DataFrame,
      deleted: Option[DataFrame], maxIter: Int,
      cascadeDriverLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    def project(df: DataFrame): DataFrame = df.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), t.step.cast("long").as("w"))
    val pv = prev.select(col("v").cast("long").as("v"),
      col(t.label).cast(t.labelType).as("label"))
    val ins = project(inserted)
    val (e, state0, unsettled) = deleted match {
      case None => (project(edges).persist(), pv, None)
      case Some(del) =>
        // the non-positive count rides the job that fills the checkpoint
        val (e, nonPositive) = checkpointCount(project(edges), col("w") <= 0L)
        require(nonPositive == 0L, s"$opName requires strictly positive " +
          s"weights ($nonPositive edges have w <= 0) - the tight-parent " +
          "support cascade is unsound under zero-weight cycles")
        val old = pv.localCheckpoint(true)
        val u = supportCascade(spark, e,
          old.select(col("v"), col("label").cast("long").as("lab")),
          project(del), maxIter, opName, cascadeDriverLimit)
        (e, old.join(u, Seq("v"), "left_anti"), Some(u))
    }
    val base = state0.localCheckpoint(true)
    val settled = base.select(col("v").as("src"), col("label").as("sl"))
    def proposals(es: DataFrame): DataFrame = es.join(settled, Seq("src"))
      .select(col("dst").as("v"), (col("sl") + col("w")).as("label"))
    val boundary = unsettled.map(u =>
      proposals(e.join(u.select(col("v").as("dst")), Seq("dst"), "left_semi")))
    val sources = if (!t.allVertices) None else Some((unsettled.toSeq :+
        ins.select(col("src").as("v"))).reduce(_ union _).distinct()
      .join(base.select("v"), Seq("v"), "left_anti")
      .join(e.select(col("dst").as("v")).distinct(), Seq("v"), "left_anti")
      .select(col("v"), lit(0L).as("label")))
    val seed0 = (Seq(proposals(ins)) ++ boundary ++ sources).reduce(_ unionByName _)
      .groupBy("v").agg(t.pick(col("label")).cast(t.labelType).as("label"))
      .join(base.select(col("v"), col("label").as("cur")), Seq("v"), "left")
      .filter(col("cur").isNull || t.better(col("label"), col("cur")))
      .select("v", "label")
    val labels = labelCorrectLoop(opName, t, e, base, seed0, maxIter)
      .select(col("v"), col("label").as(t.label))
    e.unpersist()
    if (t.allVertices && deleted.isDefined)
      labels.join(edgeUniverse(edges), Seq("v"), "left_semi")
    else labels
  }

  /** The label-correcting relaxation loop of [[maintainLabels]]: from the
    * checkpointed state `base` and the improving `seed0` (both `(v,
    * label)`), each hop is the family's one [[relaxHop]] over `e` with
    * step `w` and pick `t.pick`, and a candidate survives only when it is
    * `t.better` than the current label. Round shape: relax TWO cascade
    * hops inside one job (the [[expandTwice]] frontier-doubling
    * discipline applied to label correction: proposals are genuine walk
    * values so they never land on the wrong side of the true label,
    * non-improving candidates are filtered against the merged state, and
    * any relaxation a discarded candidate would have seeded is
    * re-proposed by a later frontier — the fixpoint is unchanged while
    * the barrier count halves). A cascade still live at `maxIter` THROWS
    * — silently returning the truncated state would violate the family's
    * exactness contract (and for DAG layering a live cascade can also
    * mean the delta introduced a cycle).
    */
  private def labelCorrectLoop(opName: String, t: Traversal, e: DataFrame,
      base: DataFrame, seed0: DataFrame, maxIter: Int): DataFrame = {
    val t0 = System.nanoTime()
    // STATE + OVERLAY, not a re-merged label table (r11): the stored
    // state is touched ONCE (the caller's checkpoint, scanned per round); all
    // improvements accumulate in a cascade-sized overlay. The r10 loop
    // re-materialized the full-graph labels frame through a full-outer
    // merge EVERY round — a graph-sized checkpoint per round paying the
    // merge's exchanges for frontier-sized information. The overlay
    // merge needs no value arithmetic at all: a frontier row was
    // filtered strictly-better against the CURRENT view (state ⊕
    // overlay), so on conflict the frontier value simply wins —
    // anti-join ∪ union, overlay-sized.
    var (overlay, n) = checkpointCount(seed0)
    var frontier = overlay
    var i = 0
    trace(f"$opName relax seed n=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    while (n > 0 && i < maxIter) {
      val h1 = relaxHop(e, t.pick, frontier)
      val (next, nextCount) = checkpointCount(h1.union(relaxHop(e, t.pick, h1))
        .groupBy("v").agg(t.pick(col("label")).as("cand"))
        .join(base.withColumnRenamed("label", "bl"), Seq("v"), "left")
        .join(overlay.withColumnRenamed("label", "ol"), Seq("v"), "left")
        .withColumn("cur", coalesce(col("ol"), col("bl")))
        .filter(col("cur").isNull || t.better(col("cand"), col("cur")))
        .select(col("v"), col("cand").as("label")))
      frontier = next
      n = nextCount
      if (n > 0) overlay = overlay
        .join(frontier.select("v"), Seq("v"), "left_anti")
        .unionByName(frontier)
        .localCheckpoint(true)
      i += 2
      trace(f"$opName relax rounds=$i n=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    if (n > 0) throw new IllegalStateException(
      s"$opName did not converge in $maxIter rounds - the improvement " +
        "cascade exceeds the cap (for DAG layering this can also mean " +
        "the delta introduced a cycle); raise maxIter or recompute from " +
        "the new snapshot")
    base.join(overlay.select("v"), Seq("v"), "left_anti")
      .unionByName(overlay)
  }
  /** The delta-scoped SUPPORT CASCADE of [[maintainLabels]]' delete path
    * (its tightness algebra is documented there: a parent p supports
    * child v iff a surviving edge (p, v, w) satisfies lab(p) + w =
    * lab(v)). Wave 0 = heads of deleted edges left with no tight
    * parent outside the unsettled set; wave i+1 = tight children of wave
    * i failing the same check (a child wrongly kept by a not-yet-fallen
    * parent is re-examined the wave that parent falls). Per-wave work is
    * frontier-sized; waves are bounded by `maxIter`, loudly. Inputs:
    * `e`/`del` as (src, dst, w) LONGs, `pv` as (v, lab) LONGs. Returns
    * the unsettled vertex set (v), checkpointed. */
  private def supportCascade(spark: SparkSession, e: DataFrame, pv: DataFrame,
      del: DataFrame, maxIter: Int, opName: String,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    import spark.implicits._
    // TIGHT SUPPORT GRAPH, built ONCE (r11, the verdict's tail-gather
    // task resolved at its root): the support algebra only ever reads
    // the OLD labels (pv is frozen for the whole cascade — tightness is
    // lab(p) + w = lab(v) over the PREVIOUS state), so the entire tight
    // relation is static and can be materialized up front with two
    // joins instead of being re-derived inside every wave (the r10 loop
    // paid 2 e-scans + 2 pv-joins per sub-wave; with tightE each
    // sub-wave is one expansion probe + one support probe). A vertex's
    // stored label is invalidated exactly when its LAST tight parent
    // falls — which makes the cascade a Kahn-style worklist over
    // tightE's support counts, and therefore DRIVER-SOLVABLE under the
    // family's size gate (the [[dagLayers]]/[[connectedComponents]]
    // discipline): ≤`driverSolveLimit` tight edges collect once and the
    // ~25-wave barrier tail (513 stages at sf0.1, each wave paying
    // fixed scheduling for frontier-sized work) becomes one in-memory
    // pass. Past the gate the BSP wave loop below runs over the same
    // materialized tightE — the 100 TB path, benched by the forced-BSP
    // twin q_graph_dag_layers_incremental_del_bsp and spec-pinned equal.
    val (tightE, tightN) = checkpointCount(e
      .join(pv.select(col("v").as("src"), col("lab").as("pl")), Seq("src"))
      .join(pv.select(col("v").as("dst"), col("lab").as("cl")), Seq("dst"))
      .filter(col("cl") === col("pl") + col("w"))
      .select(col("src").as("p"), col("dst").as("c")).distinct())
    // Wave-0 candidates: heads of deleted edges that were TIGHT under
    // the old labels (an untight deleted edge never carried the label).
    val cand0v = del
      .join(pv.select(col("v").as("src"), col("lab").as("ul")), Seq("src"))
      .join(pv.select(col("v").as("dst"), col("lab").as("wl")), Seq("dst"))
      .filter(col("wl") === col("ul") + col("w"))
      .select(col("dst").as("v")).distinct()
      .repartition(1).localCheckpoint(true)
    if (tightN <= driverSolveLimit) {
      // Driver worklist: supCount(v) = distinct surviving tight parents;
      // seeds = wave-0 candidates already at zero; each unsettled vertex
      // decrements its tight children once, a child unsettles when its
      // count hits zero. Least-fixpoint semantics — identical to the
      // wave loop's (GraphSpec pins equality with the gate forced off).
      val t0 = System.nanoTime()
      val pairs = tightE.collect().map(r => (r.getLong(0), r.getLong(1)))
      val seeds = cand0v.collect().map(_.getLong(0))
      val supCount = scala.collection.mutable.LongMap.empty[Int]
      val children = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      pairs.foreach { case (p, c) =>
        supCount(c) = supCount.getOrElse(c, 0) + 1
        children.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty) += c
      }
      val unsettled = scala.collection.mutable.LinkedHashSet.empty[Long]
      val queue = scala.collection.mutable.Queue.empty[Long]
      seeds.foreach(v => if (supCount.getOrElse(v, 0) == 0) queue += v)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        if (!unsettled.contains(v)) {
          unsettled += v
          children.getOrElse(v, Nil).foreach { c =>
            supCount(c) -= 1
            if (supCount(c) == 0) queue += c
          }
        }
      }
      trace(f"$opName cascade driver-solved tightN=$tightN " +
        f"unsettled=${unsettled.size} t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      return ckpt(unsettled.toSeq.toDF("v"))
    }
    val unsettled = new Waves(spark, "v LONG")
    // Frontiers are CASCADE-sized (hundreds of rows at sf0.1, frontier ∝
    // delta never graph) but were checkpointed at cluster parallelism —
    // making every later wave's unsettled union drag 32 near-empty
    // tasks PER ACCUMULATED WAVE through both anti-joins. repartition(1)
    // first: a w-wave cascade's state is then w single-partition leaves
    // (upstream join stages keep their parallelism; only the tiny result
    // collapses). Measured r10 at sf0.1, same-session three-maintainer
    // bench (full ledger incl. two rejected variants: PLANS.md r10):
    // this + the two-wave fusion + the checkpointed-frame broadcasts
    // below took q_graph_dag_layers_incremental_del 9.62 → 7.59 s,
    // bfs_del 5.53 → 5.12, sssp_del 5.88 → 5.26.
    // Every frontier/delta-derived join side goes through the call's
    // WaveGate (checkpointed frames only, counted by the job that fills
    // them): without the hint every per-wave join SHUFFLED e and pv both
    // ways — the r10 barrier instrumentation showed the cascade paying
    // ~25 stages/wave (dagdel 572 stages vs the insert maintainer's 224)
    // at ~17 ms/stage of pure scheduling.
    // (A "fold the distinct()s into the single-partition checkpoint"
    // variant — dedup as a 1-task agg after repartition(1), no per-wave
    // distinct shuffles — was tried and REJECTED: 8.64 → 10.97 s on the
    // same-session three-maintainer bench; serializing the dedup into
    // the collapse task costs more than the small shuffles it removes.)
    // ONLY already-checkpointed frames get the hint — a materialized
    // ≤frontier-sized frame broadcasts for the cost of one driver hop,
    // while hinting DERIVED plans (candidates, support in-edges) forces
    // an extra materialize-and-collect per join and measured SLOWER than
    // the shuffles it replaced (9.8 → 11.8 s on the same-session
    // three-maintainer bench — rejected; ledger PLANS.md).
    val g = new WaveGate
    // Both wave probes ride the materialized tightE: expansion is one
    // (p → c) probe, the support check one (c → p) probe + anti-join —
    // the per-wave pv joins and tightness filters of the r10 loop are
    // gone (they were recomputing the static tight relation every wave).
    def dropSupported(cand: DataFrame, uAll: DataFrame): DataFrame = {
      val supported = cand
        .join(tightE.select(col("p"), col("c").as("v")), Seq("v"))
        .join(g.gate(uAll.select(col("v").as("p"))), Seq("p"), "left_anti")
        .select("v").distinct()
      cand.join(supported, Seq("v"), "left_anti")
    }
    def nextWave(fr: DataFrame): DataFrame = {
      val uAll = unsettled.all
      val cand = tightE
        .join(g.gate(fr.select(col("v").as("p"))), Seq("p"))
        .select(col("c").as("v")).distinct()
        .join(g.gate(uAll.select("v")), Seq("v"), "left_anti")
      dropSupported(cand, uAll)
    }
    val t0 = System.nanoTime()
    var (frontier, n) = g.count(dropSupported(cand0v, unsettled.all))
    var waves = 0
    trace(f"$opName cascade wave0 n=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    // guard admits the FULL fused step (r10 ADVICE: `waves < maxIter`
    // with `waves += 2` let an odd maxIter run maxIter+1 actual waves —
    // the loud convergence bound was off by one wave vs its message)
    while (n > 0 && waves + 2 <= maxIter) {
      // TWO waves per termination count for TERMINATION purposes (the
      // fused-superstep discipline; r9 VERDICT #2): fA empty ⇒ fB empty,
      // so only fB's count gates the loop. The SUB-WAVE IS materialized —
      // it feeds the next wave's expansion, both its anti-joins, and the
      // result union, and the recorded dagLayers-batching failure mode
      // (3 recomputes of an unmaterialized sub-frame) applies verbatim —
      // and it IS counted for the broadcast gate (in the job that fills
      // its checkpoint): fan-out means fA is NOT bounded by
      // the entering frontier, and an unmeasured frame must never reach
      // broadcast().
      // (A TRUE two-waves-per-barrier fusion — fA persist()ed inside one
      // union job, fB's fA-derived sides unhinted for AQE to flip at
      // runtime — was tried r13 and REJECTED on measurement: dagdel-BSP
      // 11.0 → 15.1 s, barrier_stages 440 → 647 at sf0.1. The broadcast
      // gate is the fusion's real obstruction: fB's plan must either
      // read fA unhinted (AQE shuffles BOTH sides of every fB join
      // before its runtime flip — the measured +47% stages) or
      // broadcast a frame whose size no job has measured, which this
      // loop's own review rule forbids at scale. The two-materialization
      // shape IS the safe fixpoint of that constraint; ledger PLANS.md
      // r13.)
      waves += 2
      unsettled.add(frontier)
      val (fA, _) = g.count(nextWave(frontier)) // gates fB's plan, built next
      unsettled.add(fA)
      val (fB, fBn) = g.count(nextWave(fA))
      frontier = fB
      n = fBn
      trace(f"$opName cascade waves=$waves n=$n " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    require(n == 0,
      s"$opName: unsettled cascade still live after $maxIter waves — raise maxIter")
    ckpt(unsettled.all.select("v"))
  }

  /** BFS levels `(v, level: int)` under INSERTED edges: a min-relaxation
    * ([[maintainLabels]]); levels only fall. Deletes need the twin below. */
  def incrementalBfsLevels(spark: SparkSession, fullEdges: DataFrame,
      prevLevels: DataFrame, inserted: DataFrame, maxIter: Int = 50): DataFrame =
    maintainLabels(spark, Levels, "incrementalBfsLevels", fullEdges, prevLevels,
      inserted, None, maxIter)

  /** BFS levels `(v, level: int)` under a TWO-SIDED diff: the support
    * cascade, then the min-relaxation ([[maintainLabels]]); `newEdges` is
    * the new snapshot. Levels may rise, fall, or vanish. */
  def incrementalBfsLevelsDelete(spark: SparkSession, newEdges: DataFrame,
      prevLevels: DataFrame, inserted: DataFrame, deleted: DataFrame,
      maxIter: Int = 50,
      cascadeDriverLimit: Long = DriverSolveEdgeLimit): DataFrame =
    maintainLabels(spark, Levels, "incrementalBfsLevelsDelete", newEdges,
      prevLevels, inserted, Some(deleted), maxIter, cascadeDriverLimit)

  /** DAG layers `(v, layer: long)` under INSERTED edges: a max-relaxation
    * with new sources at layer 0 ([[maintainLabels]]); layers only rise.
    * A delta that closes a cycle fails loudly at `maxIter`. */
  def incrementalDagLayers(spark: SparkSession, fullEdges: DataFrame,
      prevLayers: DataFrame, inserted: DataFrame, maxIter: Int = 200): DataFrame =
    maintainLabels(spark, Layers, "incrementalDagLayers", fullEdges, prevLayers,
      inserted, None, maxIter)

  /** DAG layers `(v, layer: long)` under a TWO-SIDED diff: the support
    * cascade, then the max-relaxation with the source and universe rules
    * ([[maintainLabels]]); `newEdges` is the new snapshot. */
  def incrementalDagLayersDelete(spark: SparkSession, newEdges: DataFrame,
      prevLayers: DataFrame, inserted: DataFrame, deleted: DataFrame,
      maxIter: Int = 200,
      cascadeDriverLimit: Long = DriverSolveEdgeLimit): DataFrame =
    maintainLabels(spark, Layers, "incrementalDagLayersDelete", newEdges,
      prevLayers, inserted, Some(deleted), maxIter, cascadeDriverLimit)

  /** Weighted SSSP distances `(v, dist: long)` under INSERTED edges
    * `(src, dst, w)`: a min-relaxation ([[maintainLabels]]); distances
    * only fall. */
  def incrementalSssp(spark: SparkSession, fullEdges: DataFrame,
      prevDist: DataFrame, inserted: DataFrame, maxIter: Int = 100): DataFrame =
    maintainLabels(spark, Dists, "incrementalSssp", fullEdges, prevDist,
      inserted, None, maxIter)

  /** Weighted SSSP distances `(v, dist: long)` under a TWO-SIDED diff of
    * `(src, dst, w)` edges with strictly positive weights: the support
    * cascade, then the min-relaxation ([[maintainLabels]]). */
  def incrementalSsspDelete(spark: SparkSession, newEdges: DataFrame,
      prevDist: DataFrame, inserted: DataFrame, deleted: DataFrame,
      maxIter: Int = 100,
      cascadeDriverLimit: Long = DriverSolveEdgeLimit): DataFrame =
    maintainLabels(spark, Dists, "incrementalSsspDelete", newEdges, prevDist,
      inserted, Some(deleted), maxIter, cascadeDriverLimit)

  /** Synchronous k-core peel over RAW directed edges (self-loops dropped,
    * duplicates collapsed at the undirected level): each round recomputes
    * every surviving vertex's degree among survivors and drops those
    * below `k`, to a detected fixpoint ([[peelToFixpoint]]) with
    * `rounds` as a loud cap — the depth the DuckDB oracle unrolls the
    * identical recurrence to; GraphSpec asserts the fixpoint at test
    * scale. The rounds are RDD vertex-state supersteps over a
    * [[VertexAdjacency]] (state: each survivor's degree): a round sends
    * one message per survivor edge, sums them per receiver (its one
    * shuffle), keeps the survivors at ≥ `k` and ends in one
    * [[checkpointCountRdd]] barrier, one Spark job; the adjacency is
    * unpersisted on every exit. Returns the core's non-nullable
    * `(v LONG, deg LONG)` with the IN-CORE degree —
    * extracted from q_graph_kcore so the query, the incremental
    * maintainers' stored-state builders, and the spec share one spelling
    * (reference behavior: the subgraph-mining surface of
    * `secondary_server.c`'s traversal queries, SURVEY §2 Part D). */
  def kcorePeel(spark: SparkSession, rawEdges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    // `rounds` caps the SHRINKING peel rounds only. Convergence detection
    // needs one no-op round beyond the last shrink; that detection round
    // runs beyond the cap for free (it cannot change the output — a
    // post-fixpoint round recomputes degrees within the converged set),
    // so rounds == exact fixpoint depth and rounds == 1 on an
    // already-converged input both succeed instead of throwing (r13
    // ADVICE: the old `require(rounds >= 2)` + hard cap made those cases
    // always throw).
    require(rounds >= 1, s"kcorePeel rounds must be >= 1 (got $rounds)")
    val g = new VertexAdjacency(spark, loopFree(rawEdges).rdd.flatMap { x =>
      val (a, b) = (x.getLong(0), x.getLong(1))
      Iterator((a, b), (b, a))
    })
    try {
      // the first shrink (full-graph degree ≥ k) runs before the loop, so
      // `rounds` loop rounds are rounds − 1 shrinks plus the detection round
      val (deg0, n0) = checkpointCountRdd(g.init((_, ns) => ns.length.toLong).filter(_._2 >= k))
      val core = peelToFixpoint(deg0, n0, rounds, n =>
        s"kcorePeel did not converge within $rounds rounds (|core| still $n " +
          "and changing) - raise the cap; publishing a non-fixpoint peel " +
          "would carry stale degrees") { deg =>
        // every survivor counts its surviving neighbours: one shuffle
        val cnt = g.send(deg)((_, _) => Some(1L))(_ + _)
        val next = checkpointCountRdd(g.receive(deg, cnt).flatMapValues(_._2)
          .filter(_._2 >= k))
        deg.unpersist(blocking = false)
        next
      }
      GraftFrames.sized(spark, core.map { case (v, d) => InternalRow(v, d) },
        StructType.fromDDL("v LONG NOT NULL, deg LONG NOT NULL"), n0)
    } finally g.unpersist()
  }

  /** INCREMENTAL k-core maintenance over a two-sided edge diff — the
    * degeneracy-family member of the delete-bearing maintainers (r10
    * VERDICT #2: every traversal/rank/symmetry-breaking family had
    * insert+delete maintainers; k-core recomputed from scratch). Given
    * the previous snapshot's core `(v, deg)` and BOTH raw edge versions,
    * returns the NEW snapshot's exact k-core without re-peeling the old
    * graph. The order-based-maintenance insight (Sarıyüce et al.'s
    * traversal framing): an edge change perturbs core membership only
    * inside a bounded affected region —
    *
    *  - INSERTS only ADD members (k-core is monotone under edge
    *    insertion, so `prevCore` survives wholesale as a lower bound).
    *    Every new member either touches an inserted edge or neighbors
    *    another new member (else its ≥k core neighbors were already
    *    core-resident on v1 edges and the v1 peel could never have
    *    evicted it — contradiction), so candidates grow by delta-seeded
    *    waves through NON-core vertices with full-v2 degree ≥ k, then a
    *    frozen-core candidate peel (per-round work ∝ candidates; the
    *    core's degree contribution is counted once) keeps exactly those
    *    with ≥k support in core ∪ survivors.
    *  - DELETES only REMOVE members: the eviction cascade re-checks
    *    in-core degrees starting from deleted-edge endpoints, walking to
    *    core neighbors of each eviction — the same frontier-wave shape
    *    as [[supportCascade]], work ∝ cascade.
    *
    * Insert candidates are computed FIRST so the eviction checks count
    * joiner support (a core vertex losing a deleted edge can be saved by
    * a new joiner neighbor); the reverse interaction is safe because the
    * cascade re-checks every candidate adjacent to an eviction. Readout
    * recomputes in-core degree ONLY for vertices whose incident core
    * edge set changed (diff endpoints, joiners, neighbors of joiners or
    * evictions); every other stored degree is reused verbatim — a wrong
    * reuse fails the oracle compare, which replays the full v2 peel.
    * Frontier-derived frames broadcast under the family's count-gate
    * (checkpointed, counted frames only). The stored core, core ∪
    * joiners and the final core are counted when they are checkpointed,
    * and their membership probes are gated on that count ([[gated]]):
    * broadcast up to [[BroadcastSeenLimit]] rows, a merge join past it,
    * whatever size the planner estimates for the caller's frame. The
    * symmetric edge list is only ever scanned against broadcast probes.
    * Caps are LOUD: a cascade or candidate region that outgrows its bound
    * throws rather than truncating. */
  def incrementalKCore(spark: SparkSession, v1Raw: DataFrame,
      v2Raw: DataFrame, prevCore: DataFrame, k: Int,
      maxWaves: Int = 30,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    import spark.implicits._
    val u1 = canonical(v1Raw).localCheckpoint(true)
    val (u2, u2N) = checkpointCount(canonical(v2Raw))
    val (insU, insN) = checkpointCount(u2.join(u1, Seq("a", "b"), "left_anti"))
    val (delU, delN) = checkpointCount(u1.join(u2, Seq("a", "b"), "left_anti"))
    if (u2N <= driverSolveLimit) {
      // DRIVER SOLVE under the family's size gate (r11 — the dagdel
      // tight-support-worklist discipline applied to the whole kcore
      // maintenance: the measured sf0.1 profile was 7 candidate waves +
      // 5 peel rounds + 4 eviction waves ≈ 16 barrier steps of
      // frontier-sized work over a ≤3.5k-vertex subproblem). Identical
      // least-fixpoint algebra, in-memory: candidate BFS through
      // non-core vertices with full-v2 degree ≥ k, Kahn peel against
      // the frozen core, Kahn eviction seeded at deleted-edge endpoints
      // (only delta-contacted vertices can drop — a core vertex's
      // in-base degree falls only via a deleted edge or an evicted
      // neighbor). GraphSpec pins driver == BSP == full recompute with
      // the gate forced off; the >gate wave loop below is the 100 TB
      // path.
      val t0 = System.nanoTime()
      val pairs = u2.collect().map(r => (r.getLong(0), r.getLong(1)))
      val insP = insU.collect().map(r => (r.getLong(0), r.getLong(1)))
      val delP = delU.collect().map(r => (r.getLong(0), r.getLong(1)))
      val coreDeg = scala.collection.mutable.LongMap.empty[Long]
      prevCore.select(col("v").cast("long"), col("deg").cast("long"))
        .collect().foreach(r => coreDeg(r.getLong(0)) = r.getLong(1))
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      def addAdj(x: Long, y: Long): Unit =
        adj.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
      pairs.foreach { case (a, b) => addAdj(a, b); addAdj(b, a) }
      def deg2(v: Long): Int = adj.get(v).map(_.size).getOrElse(0)
      // candidate region: delta-seeded BFS through non-core, deg ≥ k
      val region = scala.collection.mutable.LinkedHashSet.empty[Long]
      val bfs = scala.collection.mutable.Queue.empty[Long]
      insP.foreach { case (a, b) => Seq(a, b).foreach { v =>
        if (!coreDeg.contains(v) && deg2(v) >= k && region.add(v)) bfs += v } }
      while (bfs.nonEmpty) {
        val v = bfs.dequeue()
        adj.getOrElse(v, Nil).foreach { w =>
          if (!coreDeg.contains(w) && deg2(w) >= k && region.add(w)) bfs += w }
      }
      require(region.size <= math.max(10000L, 20L * insN),
        s"incrementalKCore: candidate region (${region.size} vertices) " +
          s"degenerated past 20x the inserted-edge delta ($insN) — " +
          "maintenance would not be delta-scoped; recompute from the new snapshot")
      // frozen-core Kahn peel: support = neighbors in core ∪ survivors
      val sup = scala.collection.mutable.LongMap.empty[Int]
      region.foreach { v =>
        sup(v) = adj(v).count(w => coreDeg.contains(w) || region.contains(w)) }
      val dead = scala.collection.mutable.Queue.empty[Long]
      val out = scala.collection.mutable.LongMap.empty[Boolean]
      region.foreach(v => if (sup(v) < k) { dead += v; out(v) = true })
      while (dead.nonEmpty) {
        val v = dead.dequeue()
        adj(v).foreach { w =>
          if (region.contains(w) && !out.contains(w)) {
            sup(w) -= 1
            if (sup(w) < k) { out(w) = true; dead += w }
          }
        }
      }
      val joiners = region.filterNot(out.contains)
      // eviction Kahn over kBase = core ∪ joiners with v2 edges: degMap
      // counts kBase neighbors; seeds = deleted-edge endpoints
      val inBase = scala.collection.mutable.LongMap.empty[Boolean]
      coreDeg.keysIterator.foreach(v => inBase(v) = true)
      joiners.foreach(v => inBase(v) = true)
      val degB = scala.collection.mutable.LongMap.empty[Long]
      inBase.keysIterator.foreach { v =>
        degB(v) = adj.get(v).map(_.count(inBase.contains)).getOrElse(0).toLong }
      val evQ = scala.collection.mutable.Queue.empty[Long]
      val evicted = scala.collection.mutable.LongMap.empty[Boolean]
      delP.foreach { case (a, b) => Seq(a, b).foreach { v =>
        if (inBase.contains(v) && !evicted.contains(v) && degB(v) < k) {
          evicted(v) = true; evQ += v } } }
      while (evQ.nonEmpty) {
        val v = evQ.dequeue()
        adj.getOrElse(v, Nil).foreach { w =>
          if (inBase.contains(w) && !evicted.contains(w)) {
            degB(w) -= 1
            if (degB(w) < k) { evicted(w) = true; evQ += w }
          }
        }
      }
      trace(f"incrementalKCore driver-solved u2N=$u2N region=${region.size} " +
        f"joiners=${joiners.size} evicted=${evicted.size} " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      val rows = inBase.keysIterator.filterNot(evicted.contains)
        .map(v => (v, degB(v))).toSeq
      return ckpt(rows.toDF("v", "deg"))
    }
    val sym2 = symmetrize(u2, "a", "b").localCheckpoint(true)
    // the stored core's membership probes are gated on its own count, so
    // their plans (and job counts) never follow the frame's size estimate
    val (core, coreN) = checkpointCount(prevCore.select(
      col("v").cast("long").as("v"), col("deg").cast("long").as("deg")))
    val coreIds = gated(core.select("v"), coreN)
    // every frontier-derived join side goes through the WaveGate (the
    // supportCascade discipline: only materialized, counted frames ever
    // reach broadcast())
    val g = new WaveGate
    def ends(u: DataFrame): DataFrame =
      u.select(col("a").as("v")).union(u.select(col("b").as("v"))).distinct()
    // the (src, dst) rows of sym2 leaving a (checkpointed, counted) vertex
    // set: one sym2 scan against the gated probe, never a sym2 shuffle
    def out(w: DataFrame): DataFrame =
      sym2.join(g.gate(w.select(col("v").as("src"))), Seq("src"), "left_semi")

    // ---- insert side: candidate region P, then frozen-core peel -> S
    // full-v2 degree of a candidate set, candidate-sized result
    def degFull(w: DataFrame): DataFrame =
      out(w).groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val (insEnds, _) = g.count(ends(insU).join(coreIds, Seq("v"), "left_anti"))
    var (frontier, fn) = g.count(degFull(insEnds).filter(col("d") >= k).select("v"))
    val region = new Waves(spark, "v LONG")
    region.add(frontier)
    var waves = 0
    while (fn > 0 && waves < maxWaves) {
      waves += 1
      val (nbrs, _) = g.count(out(frontier)
        .select(col("dst").as("v")).distinct()
        .join(coreIds, Seq("v"), "left_anti")
        .join(g.gate(region.all), Seq("v"), "left_anti"))
      val (next, nextN) = g.count(degFull(nbrs).filter(col("d") >= k).select("v"))
      frontier = next; fn = nextN
      trace(s"incrementalKCore cand wave=$waves n=$fn")
      region.add(frontier)
    }
    require(fn == 0,
      s"incrementalKCore: candidate region still growing after $maxWaves " +
        "waves — the insert cascade exceeds the cap; raise maxWaves or " +
        "recompute from the new snapshot")
    val (cand, candN) = g.count(region.all)
    require(candN <= math.max(10000L, 20L * insN),
      s"incrementalKCore: candidate region ($candN vertices) degenerated " +
        s"past 20x the inserted-edge delta ($insN) — maintenance would " +
        "not be delta-scoped; recompute from the new snapshot")
    // candidate support from the FROZEN core, counted once
    val cntC = ckpt(out(cand)
      .join(coreIds.select(col("v").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("v")).agg(count(lit(1)).as("cdC")))
    val joiners = peelToFixpoint(cand, candN, maxWaves, _ =>
      s"incrementalKCore: candidate peel did not stabilize in $maxWaves " +
        "rounds — raise maxWaves or recompute from the new snapshot") { surv =>
      val cntS = out(surv)
        .join(g.gate(surv.select(col("v").as("dst"))), Seq("dst"), "left_semi")
        .groupBy(col("src").as("v")).agg(count(lit(1)).as("cdS"))
      g.count(surv
        .join(cntC, Seq("v"), "left").join(cntS, Seq("v"), "left")
        .filter(coalesce(col("cdC"), lit(0L)) + coalesce(col("cdS"), lit(0L)) >= k)
        .select("v"))
    }

    // ---- delete side: eviction cascade over core ∪ joiners
    val (kBase, kBaseN) = checkpointCount(core.select("v").union(joiners))
    val kBaseIds = gated(kBase, kBaseN)
    val evictions = new Waves(spark, "v LONG")
    // the out-edges of `w` landing in `base`, as (v = dst, src, dst):
    // neighbor rows via one gated probe, membership via one `base` scan
    // against the gated neighbor rows — `base` is never shuffled
    def inBase(base: DataFrame, w: DataFrame): DataFrame = {
      val (nb, _) = g.count(out(w).select(col("src"), col("dst")))
      base.join(g.gate(nb), col("v") === col("dst"))
    }
    var (affected, an) = g.count(ends(delU).join(kBaseIds, Seq("v"), "left_semi"))
    var evWaves = 0
    while (an > 0 && evWaves < maxWaves) {
      evWaves += 1
      val ev0 = evictions.all
      // in-core degree of the affected set, evicted neighbors masked out
      val dk = inBase(kBase, affected).join(g.gate(ev0), Seq("v"), "left_anti")
        .groupBy(col("src").as("v")).agg(count(lit(1)).as("dk"))
      val (evictNow, en) = g.count(affected
        .join(dk, Seq("v"), "left")
        .filter(coalesce(col("dk"), lit(0L)) < k)
        .select("v")
        .join(g.gate(ev0), Seq("v"), "left_anti"))
      if (en == 0) { an = 0 }
      else {
        evictions.add(evictNow)
        // next wave: surviving core neighbors of this wave's evictions
        val (next, nextN) = g.count(out(evictNow)
          .select(col("dst").as("v")).distinct()
          .join(kBaseIds, Seq("v"), "left_semi")
          .join(g.gate(evictions.all), Seq("v"), "left_anti"))
        affected = next; an = nextN
        trace(s"incrementalKCore evict wave=$evWaves affected=$an evicted=$en")
      }
    }
    require(an == 0,
      s"incrementalKCore: eviction cascade still live after $maxWaves " +
        "waves — raise maxWaves or recompute from the new snapshot")
    val (evicted, _) = g.count(evictions.all)

    // ---- readout: recompute in-core degree ONLY where membership or
    // incident edges changed; reuse every other stored degree verbatim
    val (kFinal, kFinalN) = checkpointCount(
      kBase.join(g.gate(evicted), Seq("v"), "left_anti"))
    val (changedNbrSeeds, _) = g.count(joiners.union(evicted))
    val (touched, _) = g.count(ends(insU).union(ends(delU))
      .union(out(changedNbrSeeds).select(col("dst").as("v")))
      .union(joiners).distinct()
      .join(gated(kFinal, kFinalN), Seq("v"), "left_semi"))
    val degTouched = inBase(kFinal, touched)
      .groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val untouched = core
      .join(g.gate(touched), Seq("v"), "left_anti")
      .join(g.gate(evicted), Seq("v"), "left_anti")
      .select(col("v"), col("deg"))
    untouched.unionByName(degTouched.select(col("v"), col("deg")))
  }

  /** Synchronous k-truss peel over UNDIRECTED canonical edges (a < b,
    * distinct): each round recomputes every surviving edge's triangle
    * support among survivors (canonical wedge join) and drops those
    * below k−2, to a detected fixpoint ([[peelToFixpoint]]) with `rounds`
    * as a loud cap — the depth the DuckDB oracle unrolls the identical
    * recurrence to; GraphSpec asserts the fixpoint is reached and
    * non-empty at test scale. Returns `(a, b, support)` with the
    * IN-TRUSS support — extracted from q_graph_ktruss so the query, the
    * incremental maintainers' stored-state builders, and the spec share
    * one spelling. */
  def ktrussPeel(spark: SparkSession, und: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    // the start carries a zero support so an empty input (already a
    // fixpoint) returns the peel's schema
    val (start, n0) = checkpointCount(und.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), lit(0L).as("support")))
    peelToFixpoint(start, n0, rounds, n =>
      s"ktrussPeel did not converge within $rounds rounds (|truss| still " +
        s"$n and changing) - raise the cap; a non-fixpoint peel " +
        "carries stale supports") { cur =>
      val e = cur.select("a", "b")
      checkpointCount(triSupport(e, symmetrize(e, "a", "b"))
        .filter(col("support") >= k - 2))
    }
  }

  /** INCREMENTAL k-truss maintenance over a two-sided undirected edge
    * diff — [[incrementalKCore]]'s discipline lifted from vertex-degree
    * to EDGE-TRIANGLE granularity (the remaining degeneracy-family gap,
    * r10 VERDICT "missing" #1): given the previous snapshot's truss
    * `(a, b, support)` and BOTH edge versions, returns the NEW
    * snapshot's exact k-truss without re-peeling the old graph.
    *
    *  - INSERTS only ADD members (more edges ⇒ more triangles ⇒ supports
    *    only grow; the stored truss survives wholesale as a lower
    *    bound). Every entering edge shares a v2-triangle with an
    *    inserted edge or with another entering edge (else its ≥k−2
    *    supporting triangles lay entirely inside v1's survivor set and
    *    the v1 peel could not have dropped it), so candidates grow by
    *    triangle-adjacency waves through non-truss edges whose FULL-v2
    *    support is ≥ k−2, then a frozen-core candidate peel (per-round
    *    wedge probes sized by the candidate set) keeps exactly those
    *    with ≥k−2 triangles inside truss ∪ survivors.
    *  - DELETES only REMOVE members: the eviction cascade re-checks
    *    in-truss supports starting from the co-triangle edges of deleted
    *    truss edges, walking to co-triangle edges of each eviction —
    *    the same frontier-wave shape, one wedge probe per wave.
    *
    * Insert candidates are computed FIRST so eviction support counts
    * joiner triangles (a truss edge losing a deleted triangle can be
    * saved by a new triangle through a joiner). Readout recomputes
    * support ONLY for edges whose triangle set changed (co-triangle
    * edges of deleted/evicted edges within the OLD truss, co-triangle
    * edges of joiners within the NEW truss, and the joiners themselves);
    * every other stored support is reused verbatim — a wrong reuse fails
    * the oracle compare, which replays the full v2 peel. Caps are LOUD:
    * a cascade or candidate region outgrowing its bound throws rather
    * than truncating. */
  def incrementalKTruss(spark: SparkSession, v1Und: DataFrame,
      v2Und: DataFrame, prevTruss: DataFrame, k: Int,
      maxWaves: Int = 30,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    import spark.implicits._
    val u1 = canonical(v1Und, "a", "b").localCheckpoint(true)
    val (u2, u2N) = checkpointCount(canonical(v2Und, "a", "b"))
    val (insE, insN) = checkpointCount(u2.join(u1, Seq("a", "b"), "left_anti"))
    val delE = u1.join(u2, Seq("a", "b"), "left_anti").localCheckpoint(true)
    if (u2N <= driverSolveLimit) {
      // DRIVER SOLVE under the family's size gate — the kcore worklist
      // at TRIANGLE granularity: collect the v2 edge set, run the
      // identical least-fixpoint algebra in memory. Supports are
      // adjacency-set intersections (O(deg) per edge); the candidate
      // region walks triangle-adjacency restricted to P1 (full-v2
      // support ≥ k−2, the strip lesson); peel and eviction are Kahn
      // worklists that decrement the two co-edges of each lost
      // triangle. Eviction needs no delta seeding at all here: the
      // fixpoint — the maximal S ⊆ kBase with every in-S support
      // ≥ k−2 — is a global property, so recomputing in-base supports
      // and evicting everything below threshold converges to the same
      // set the distributed waves reach. GraphSpec pins driver == BSP
      // == full recompute with the gate forced off.
      val t0 = System.nanoTime()
      type E = (Long, Long)
      def key(a: Long, b: Long): E = if (a < b) (a, b) else (b, a)
      val pairs = u2.collect().map(r => (r.getLong(0), r.getLong(1)))
      val insP = insE.collect().map(r => (r.getLong(0), r.getLong(1)))
      val coreSup = scala.collection.mutable.HashMap.empty[E, Long]
      prevTruss.select(col("a").cast("long"), col("b").cast("long"),
        col("support").cast("long")).collect()
        .foreach(r => coreSup(key(r.getLong(0), r.getLong(1))) = r.getLong(2))
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.HashSet[Long]]
      def nbrs(v: Long) = adj.getOrElse(v, scala.collection.mutable.HashSet.empty[Long])
      pairs.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a }
      def supIn(a: Long, b: Long, in: E => Boolean): Int = {
        val (sa, sb) = (nbrs(a), nbrs(b))
        val (small, big, x, y) = if (sa.size <= sb.size) (sa, sb, a, b)
          else (sb, sa, b, a)
        small.count(c => big.contains(c) && in(key(x, c)) && in(key(y, c)))
      }
      val inU2 = pairs.map { case (a, b) => key(a, b) }.toSet
      // P1 = one-round-peeled v2 (membership test, computed lazily)
      val p1 = scala.collection.mutable.HashMap.empty[E, Boolean]
      def inP1(e: E): Boolean = p1.getOrElseUpdate(e,
        inU2(e) && supIn(e._1, e._2, inU2) >= k - 2)
      // candidate region: triangle-adjacency BFS from inserted P1 edges
      // through non-core P1 edges
      val region = scala.collection.mutable.LinkedHashSet.empty[E]
      val bfs = scala.collection.mutable.Queue.empty[E]
      insP.foreach { case (a, b) => val e = key(a, b)
        if (!coreSup.contains(e) && inP1(e) && region.add(e)) bfs += e }
      while (bfs.nonEmpty) {
        val (a, b) = bfs.dequeue()
        nbrs(a).foreach { c =>
          if (nbrs(b).contains(c) && inP1(key(a, c)) && inP1(key(b, c))) {
            Seq(key(a, c), key(b, c)).foreach { e =>
              if (!coreSup.contains(e) && inP1(e) && region.add(e)) bfs += e }
          }
        }
      }
      require(region.size <= math.max(10000L, 20L * insN),
        s"incrementalKTruss: candidate region (${region.size} edges) " +
          s"degenerated past 20x the inserted-edge delta ($insN) — " +
          "maintenance would not be delta-scoped; recompute from the new snapshot")
      // frozen-core Kahn peel: support within core ∪ survivors
      val live = scala.collection.mutable.HashMap.empty[E, Boolean]
      def inScope(e: E): Boolean =
        (coreSup.contains(e) && inU2(e)) || live.getOrElse(e, false)
      region.foreach(e => live(e) = true)
      // NOTE: core edges DELETED in v2 must not support candidates —
      // inU2 guards that above (kBase later drops them too)
      val supS = scala.collection.mutable.HashMap.empty[E, Int]
      region.foreach(e => supS(e) = supIn(e._1, e._2, inScope))
      // Kahn discipline: an edge is marked removed at DEQUEUE (pop)
      // time, never at enqueue — a queued-but-unpopped co-edge still
      // counts as live, so every destroyed triangle is subtracted from
      // its third edge exactly once (two seeds sharing a triangle used
      // to each see the other "already dead" and skip the subtraction,
      // letting an exactly-at-threshold third edge wrongly survive with
      // stale support). `queuedS` only dedupes enqueues.
      val dead = scala.collection.mutable.Queue.empty[E]
      val queuedS = scala.collection.mutable.HashSet.empty[E]
      region.foreach(e => if (supS(e) < k - 2) { queuedS += e; dead += e })
      while (dead.nonEmpty) {
        val e0 = dead.dequeue()
        live(e0) = false
        val (a, b) = e0
        nbrs(a).foreach { c =>
          if (nbrs(b).contains(c)) {
            val (e1, e2) = (key(a, c), key(b, c))
            if (inScope(e1) && inScope(e2)) {
              Seq(e1, e2).foreach { e =>
                if (live.getOrElse(e, false)) {
                  supS(e) -= 1
                  if (supS(e) < k - 2 && queuedS.add(e)) dead += e
                }
              }
            }
          }
        }
      }
      val joiners = region.filter(e => live.getOrElse(e, false))
      // eviction Kahn over kBase = (core ∩ v2) ∪ joiners: recompute
      // in-base supports, evict below threshold, decrement co-edges
      val inBase = scala.collection.mutable.HashMap.empty[E, Boolean]
      coreSup.keysIterator.foreach(e => if (inU2(e)) inBase(e) = true)
      joiners.foreach(e => inBase(e) = true)
      def inB(e: E): Boolean = inBase.getOrElse(e, false)
      val supB = scala.collection.mutable.HashMap.empty[E, Int]
      val baseKeys = inBase.keys.toArray // snapshot: no iteration over a map being written
      baseKeys.foreach(e => supB(e) = supIn(e._1, e._2, inB))
      // Same pop-time-removal discipline as the candidate peel above:
      // removal flips at dequeue so a queued co-edge still supports its
      // triangles until popped; the both-live guard then subtracts each
      // destroyed triangle from the third edge exactly once (a triangle
      // whose other co-edge was POPPED earlier was already subtracted
      // at that pop — the double-decrement guard).
      val evQ = scala.collection.mutable.Queue.empty[E]
      val queuedB = scala.collection.mutable.HashSet.empty[E]
      baseKeys.foreach(e =>
        if (supB(e) < k - 2) { queuedB += e; evQ += e })
      while (evQ.nonEmpty) {
        val e0 = evQ.dequeue()
        inBase(e0) = false
        val (a, b) = e0
        nbrs(a).foreach { c =>
          if (nbrs(b).contains(c)) {
            val (e1, e2) = (key(a, c), key(b, c))
            if (inB(e1) && inB(e2)) {
              Seq(e1, e2).foreach { e =>
                supB(e) -= 1
                if (supB(e) < k - 2 && queuedB.add(e)) evQ += e
              }
            }
          }
        }
      }
      val rows = inBase.iterator.collect { case (e, true) =>
        (e._1, e._2, supB(e).toLong) }.toSeq
      trace(f"incrementalKTruss driver-solved u2N=$u2N region=${region.size} " +
        f"joiners=${joiners.size} truss=${rows.size} " +
        f"t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      return ckpt(rows.toDF("a", "b", "support"))
    }
    val core = prevTruss.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"),
      col("support").cast("long").as("support")).localCheckpoint(true)
    val coreE = core.select("a", "b")
    val sym2full = symmetrize(u2, "a", "b").localCheckpoint(true)
    // Candidate UNIVERSE = the one-round-peeled v2 (edges whose full-v2
    // support is ≥ k−2), built ONCE with the peel's own unhinted wedge
    // join: "full-v2 support ≥ k−2" alone admits chains of exactly-
    // critical edges that the peel's round 2 kills (measured: the
    // strip+clique fixture's +1 strip edges all have raw support exactly
    // k−2, so the raw filter walked the candidate region down the ENTIRE
    // strip, one wave per edge — a region ∝ graph, not delta). Every
    // true joiner lies in T2 ⊆ P1 and its supporting triangles lie
    // within T2 ⊆ P1, so drawing candidates, wedges, and support counts
    // from P1 loses nothing.
    val p1 = triSupport(u2, sym2full)
      .filter(col("support") >= k - 2).select("a", "b")
      .localCheckpoint(true)
    val sym2 = symmetrize(p1, "a", "b").localCheckpoint(true) // candidate-universe wedges
    // every frontier-derived join side goes through the WaveGate; wedge
    // probes are gated edge sets against one wedge frame, probe-sized
    val g = new WaveGate

    // ---- insert side: triangle-adjacency candidate waves, then a
    // frozen-core peel against truss ∪ survivors
    val (seed0, _) = g.count(insE.join(p1, Seq("a", "b"), "left_semi"))
    def fullOk(w: DataFrame): DataFrame = w.join(
      triSupport(g.gate(w), sym2).filter(col("support") >= k - 2),
      Seq("a", "b"), "left_semi")
    var (frontier, fn) = g.count(fullOk(seed0))
    val region = new Waves(spark, "a LONG, b LONG")
    region.add(frontier)
    var waves = 0
    while (fn > 0 && waves < maxWaves) {
      waves += 1
      val (nbrs, _) = g.count(coEdges(g.gate(frontier), sym2)
        .join(p1, Seq("a", "b"), "left_semi")
        .join(g.gate(coreE), Seq("a", "b"), "left_anti")
        .join(g.gate(region.all), Seq("a", "b"), "left_anti"))
      val (next, nextN) = g.count(fullOk(nbrs))
      frontier = next; fn = nextN
      region.add(frontier)
    }
    require(fn == 0,
      s"incrementalKTruss: candidate region still growing after $maxWaves " +
        "waves — raise maxWaves or recompute from the new snapshot")
    val (cand, candN) = g.count(region.all)
    require(candN <= math.max(10000L, 20L * insN),
      s"incrementalKTruss: candidate region ($candN edges) degenerated " +
        s"past 20x the inserted-edge delta ($insN) — maintenance would " +
        "not be delta-scoped; recompute from the new snapshot")
    val joiners = peelToFixpoint(cand, candN, maxWaves, _ =>
      s"incrementalKTruss: candidate peel did not stabilize in $maxWaves " +
        "rounds — raise maxWaves or recompute from the new snapshot") { surv =>
      val keep = triSupport(g.gate(surv), symmetrize(coreE.union(surv), "a", "b"))
        .filter(col("support") >= k - 2)
      g.count(surv.join(keep, Seq("a", "b"), "left_semi"))
    }

    // ---- delete side: eviction cascade over (truss ∖ deleted) ∪ joiners
    val (kBase, _) = g.count(coreE.join(g.gate(delE), Seq("a", "b"), "left_anti")
      .unionByName(joiners))
    val kBaseSym = symmetrize(kBase, "a", "b").localCheckpoint(true)
    val evictions = new Waves(spark, "a LONG, b LONG")
    // wave 0: surviving co-triangle edges (in the OLD truss) of deleted
    // truss edges — the triangles the deletion destroyed
    val (delCore, _) = g.count(delE.join(coreE, Seq("a", "b"), "left_semi"))
    // co-triangle edges within the OLD truss (prev snapshot's wedges —
    // the triangles whose loss the stored supports have not seen)
    val coreSym = symmetrize(coreE, "a", "b").localCheckpoint(true)
    // wedges drawn from truss ∪ joiners — the support-bearing universe at
    // the time the stored/joiner supports were computed: a JOINER that
    // leaned on a triangle through a soon-deleted core edge must be
    // re-checked too, and its wedge legs are not in coreSym
    val preSym = coreSym.union(symmetrize(joiners, "a", "b")).localCheckpoint(true)
    var (affected, an) = g.count(coEdges(g.gate(delCore), preSym)
      .join(kBase, Seq("a", "b"), "left_semi"))
    var evWaves = 0
    while (an > 0 && evWaves < maxWaves) {
      evWaves += 1
      val ev0 = evictions.all
      // in-truss support with evicted edges masked out of the wedge frame
      val liveSym = kBaseSym.join(g.gate(symmetrize(ev0, "a", "b")),
        Seq("src", "dst"), "left_anti")
      val (evictNow, en) = g.count(affected
        .join(triSupport(g.gate(affected), liveSym), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) < k - 2)
        .select("a", "b")
        .join(g.gate(ev0), Seq("a", "b"), "left_anti"))
      if (en == 0) { an = 0 }
      else {
        evictions.add(evictNow)
        val (next, nextN) = g.count(coEdges(g.gate(evictNow), kBaseSym)
          .join(kBase, Seq("a", "b"), "left_semi")
          .join(g.gate(evictions.all), Seq("a", "b"), "left_anti"))
        affected = next; an = nextN
      }
    }
    require(an == 0,
      s"incrementalKTruss: eviction cascade still live after $maxWaves " +
        "waves — raise maxWaves or recompute from the new snapshot")
    val (evicted, _) = g.count(evictions.all)

    // ---- readout: recompute support ONLY where the triangle set
    // changed; reuse every other stored support verbatim
    val (kFinal, _) = g.count(kBase.join(g.gate(evicted), Seq("a", "b"), "left_anti"))
    val (removed, _) = g.count(delCore.unionByName(evicted))
    val kFinalSym = symmetrize(kFinal, "a", "b").localCheckpoint(true)
    val (touched, _) = g.count(
      coEdges(g.gate(removed), coreSym) // triangles LOST lived in the old truss
        .unionByName(coEdges(g.gate(joiners), kFinalSym)) // triangles GAINED
        .unionByName(joiners)
        .distinct()
        .join(kFinal, Seq("a", "b"), "left_semi"))
    val untouched = core
      .join(g.gate(touched), Seq("a", "b"), "left_anti")
      .join(g.gate(evicted), Seq("a", "b"), "left_anti")
      .join(g.gate(delE), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("support"))
    untouched.unionByName(triSupport(g.gate(touched), kFinalSym))
  }

  /** Local clustering coefficient over RAW directed edges (self-loops
    * dropped, duplicates collapsed at the undirected level): per vertex,
    * undirected degree, triangle count (canonical a<b<c wedge+closure
    * join, each triangle once), and lcc·1e6 in exact integer arithmetic
    * (2·tri·1e6 div deg·(deg−1)). Extracted from q_graph_lcc so the
    * query, the incremental maintainers' stored-state builders, and the
    * spec share one spelling. Returns `(v, deg, tri, lcc_e6)`. */
  def lcc(spark: SparkSession, rawEdges: DataFrame): DataFrame = {
    val und = rawEdges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(true)
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
    val tris = wedges.join(und.select(col("a").as("ca"), col("b").as("cb")),
        col("a") === col("ca") && col("c") === col("cb"), "inner")
      .select("a", "b", "c")
    val perVertex = tris.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(perVertex, Seq("v"), "left").na.fill(0L, Seq("tri"))
      .select(col("v"), col("deg"), col("tri"),
        when(col("deg") >= 2,
          expr("tri * 2000000 div (deg * (deg - 1))")).otherwise(0L).as("lcc_e6"))
  }

  /** INCREMENTAL local-clustering-coefficient maintenance over a
    * two-sided raw-edge diff — the PURELY LOCAL member of the
    * delete-bearing family: a vertex's (deg, tri) pair changes only when
    * an incident edge changes or a triangle through it is created or
    * destroyed, so maintenance is exact arithmetic on the delta's
    * neighborhood with NO cascade at all (work ∝ |delta| × degree,
    * never the graph, and zero iterative barriers):
    *
    *  - Δdeg: ±1 per endpoint of each inserted/deleted undirected edge.
    *  - Δtri: triangles CREATED = distinct v2-triangles containing an
    *    inserted edge; triangles DESTROYED = distinct v1-triangles
    *    containing a deleted edge (the two sets are disjoint — a
    *    triangle with both an inserted and a deleted edge exists in
    *    neither version). Canonical sorted triples dedup a triangle
    *    discovered through two of its delta edges.
    *
    * Note the third corner: a created triangle {x,y,z} with inserted
    * edge (x,y) changes z's count though NEITHER of z's edges changed —
    * GraphSpec pins that the fixture exercises exactly this. Vertices
    * whose last edge is deleted drop out of the output, matching the
    * full recompute's edge-defined universe. Returns
    * `(v, deg, tri, lcc_e6)` in the q_graph_lcc spelling. */
  def incrementalLcc(spark: SparkSession, v1Raw: DataFrame,
      v2Raw: DataFrame, prevState: DataFrame): DataFrame = {
    val u1 = canonical(v1Raw).localCheckpoint(true)
    val u2 = canonical(v2Raw).localCheckpoint(true)
    // the delta-derived join sides broadcast under the gate on |ins| + |del|
    val g = new WaveGate
    val (insU, _) = g.count(u2.join(u1, Seq("a", "b"), "left_anti"))
    val (delU, _) = g.count(u1.join(u2, Seq("a", "b"), "left_anti"))
    // distinct canonical triangles of `undAll` containing a delta edge
    def touchedTris(delta: DataFrame, undAll: DataFrame): DataFrame =
      wedges(g.gate(delta), symmetrize(undAll, "a", "b"))
        .select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
        .select(col("t").getItem(0).as("t1"), col("t").getItem(1).as("t2"),
          col("t").getItem(2).as("t3"))
        .distinct()
    def triDelta(tris: DataFrame, sign: Int): DataFrame = tris
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("v"))
      .groupBy("v").agg((count(lit(1)) * sign).as("dtri"))
    def degDelta(delta: DataFrame, sign: Int): DataFrame = delta
      .select(col("a").as("v")).union(delta.select(col("b").as("v")))
      .groupBy("v").agg((count(lit(1)) * sign).as("ddeg"))
    val dTri = ckpt(triDelta(touchedTris(insU, u2), 1)
      .unionByName(triDelta(touchedTris(delU, u1), -1))
      .groupBy("v").agg(sum("dtri").as("dtri")))
    val dDeg = ckpt(degDelta(insU, 1).unionByName(degDelta(delU, -1))
      .groupBy("v").agg(sum("ddeg").as("ddeg")))
    val st = prevState.select(col("v").cast("long").as("v"),
      col("deg").cast("long").as("deg"), col("tri").cast("long").as("tri"))
    // no hint on the full outer join: Spark cannot build either side of
    // one as a broadcast, and drops the hint with a HintErrorLogger warning
    st.join(dDeg, Seq("v"), "full")
      .join(g.gate(dTri), Seq("v"), "left")
      .select(col("v"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("ddeg"), lit(0L))).as("deg"),
        (coalesce(col("tri"), lit(0L)) + coalesce(col("dtri"), lit(0L))).as("tri"))
      .filter(col("deg") > 0)
      .select(col("v"), col("deg"), col("tri"),
        when(col("deg") >= 2,
          expr("tri * 2000000 div (deg * (deg - 1))")).otherwise(0L).as("lcc_e6"))
  }

  /** Bounded Borůvka rounds over a canonical undirected weighted edge set
    * `(a, b, w)` (a<b) — THE minimum-spanning-forest algorithm that fits
    * BSP execution (Kruskal needs a sequential union-find, Prim a
    * sequential frontier; Borůvka's per-round work is two vertex-keyed
    * joins + one per-component min + one contraction, all shuffle-
    * parallel, and the component count at least halves per round, so
    * O(log V) rounds finish the forest). Each round: every component
    * picks its minimum incident OUTGOING edge — deterministic via
    * lexicographic (w, a, b), so ties never make the choice engine- or
    * partition-order-dependent — the chosen edges join the forest, and
    * components contract through [[connectedComponents]] on the
    * component-level graph (chosen edges only — contraction input is one
    * edge per live component, never the full graph). Rounds are BOUNDED
    * (the fixed-unroll discipline of q_graph_kcore/labelprop, which is
    * what lets the DuckDB oracle replay the identical per-round choices);
    * run with `rounds ≥ log2(V)` to reach the complete forest, which
    * GraphSpec pins against in-memory Kruskal by total weight.
    * Returns (labels `(v, comp)` after the last round,
    * chosen `(round, a, b, w)` — the forest edges so far).
    */
  def boruvka(spark: SparkSession, und: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val e = und.select(col("a").cast("long"), col("b").cast("long"),
      col("w").cast("long")).localCheckpoint(true)
    var labels = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .distinct().withColumn("comp", col("v")).localCheckpoint(true)
    val chosenRounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val la = labels.select(col("v").as("a"), col("comp").as("ca"))
      val lb = labels.select(col("v").as("b"), col("comp").as("cb"))
      val outgoing = e.join(la, Seq("a")).join(lb, Seq("b"))
        .filter(col("ca") =!= col("cb"))
      // every edge is incident to BOTH endpoint components; min of the
      // (w, a, b, ...) struct is the deterministic per-component choice
      val pick = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
      val (chosen, chosenN) = checkpointCount(outgoing
        .select(col("ca").as("comp"), pick.as("e"))
        .union(outgoing.select(col("cb").as("comp"), pick.as("e")))
        .groupBy("comp").agg(min("e").as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"),
          col("e.ca").as("ca"), col("e.cb").as("cb"))
        .distinct())
      if (chosenN == 0) done = true
      else {
        chosenRounds += chosen.select(lit(r).as("round"), col("a"), col("b"), col("w"))
        // contract on the COMPONENT graph: |edges| = |chosen| ≤ live comps
        val ce = chosen.select(col("ca").as("src"), col("cb").as("dst"))
        val remap = connectedComponents(spark, symmetrize(ce))
          .select(col("v").as("comp"), col("comp").as("nc"))
        labels = labels.join(remap, Seq("comp"), "left")
          .select(col("v"), coalesce(col("nc"), col("comp")).as("comp"))
          .localCheckpoint(true)
      }
      r += 1
    }
    val chosen = chosenRounds.reduceOption(_ union _).getOrElse(
      e.sparkSession.emptyDataFrame
        .select(lit(0).as("round"), lit(0L).as("a"), lit(0L).as("b"), lit(0L).as("w"))
        .limit(0))
    (labels, chosen)
  }

  /** INCREMENTAL minimum-spanning-forest maintenance over a two-sided
    * weighted undirected diff — the contraction property of the unique
    * lexicographic-(w, a, b) MSF made a maintainer: with F = the stored
    * forest and D/I the deleted/inserted canonical edges,
    *
    *   MSF(G') = MSF( (F ∖ D)  ∪  I  ∪  X )
    *
    * where X = the v2 edges crossing two different FRAGMENTS (components
    * of F ∖ D). Proof shape: any other v2 edge is a non-forest v1 edge
    * inside one fragment, so its v1 forest path — every edge smaller
    * under the total order (cycle property) — survives intact and
    * excludes it from MSF(G') too; and the MSF of a subset that contains
    * MSF(G') and preserves per-component connectivity IS MSF(G')
    * (uniqueness under the lexicographic order). The candidate set is
    * V-scale (forest) + delta + cross-fragment edges — at 100 TB that is
    * the win: the full edge set is scanned ONCE (to find X, two label
    * joins), never fed to the O(log V)-round Borůvka. [[boruvka]] runs
    * to early-stop convergence on the candidates; uniqueness makes the
    * result algorithm-independent, so the full-recompute oracle compares
    * exactly. Returns the new forest `(a, b, w)`. */
  def incrementalMsf(spark: SparkSession, v2Und: DataFrame,
      prevForest: DataFrame, insUnd: DataFrame, delUnd: DataFrame,
      driverSolveLimit: Long = DriverSolveEdgeLimit): DataFrame = {
    import spark.implicits._
    def c(e: DataFrame) = e.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), col("w").cast("long").as("w"))
    val (u2, u2N) = checkpointCount(c(v2Und))
    if (u2N <= driverSolveLimit) {
      // DRIVER SOLVE under the family's size gate (the kcore/ktruss/dag
      // precedent, r11 VERDICT #3): the candidate algebra is identical —
      // F' = F∖D fragments via union-find, X = v2 edges crossing two
      // fragments, candidates = F' ∪ I ∪ X — and the forest of the
      // candidate set is computed by Kruskal under the lexicographic
      // (w, a, b) total order. Uniqueness of the MSF under an injective
      // order makes Kruskal-on-candidates == Borůvka-on-candidates ==
      // MSF(G'), so the >gate Borůvka path and the full-recompute oracle
      // compare exactly (GraphSpec pins all three with the gate forced).
      val t0 = System.nanoTime()
      val u2Arr = u2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val delK = delUnd.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fPrimeArr = c(prevForest).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filterNot(e => delK((e._1, e._2)))
      val insArr = c(insUnd).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // fragment union-find over F∖D (vertices absent self-label)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(v: Long): Long = {
        var root = v
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = v // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      def union(a: Long, b: Long): Boolean = {
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) false else { parent(ra) = rb; true }
      }
      fPrimeArr.foreach(e => union(e._1, e._2))
      // candidates: F' ∪ I ∪ X, deduped by canonical key (w is keyed
      // by (a, b) — same edge, same weight)
      val cand = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      fPrimeArr.foreach(e => cand((e._1, e._2)) = e._3)
      insArr.foreach(e => cand((e._1, e._2)) = e._3)
      u2Arr.foreach { case (a, b, w) =>
        if (find(a) != find(b)) cand.getOrElseUpdate((a, b), w) }
      // Kruskal over the candidates under (w, a, b) — fresh union-find
      parent.clear()
      val rows = cand.iterator.map { case ((a, b), w) => (w, a, b) }.toArray
      java.util.Arrays.sort(rows, implicitly[Ordering[(Long, Long, Long)]])
      val forest = rows.iterator
        .filter { case (_, a, b) => union(a, b) }
        .map { case (w, a, b) => (a, b, w) }.toSeq
      trace(f"incrementalMsf driver-solved u2N=$u2N cand=${cand.size} " +
        f"forest=${forest.size} t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      return forest.toDF("a", "b", "w").repartition(1).localCheckpoint(true)
    }
    val fPrime = c(prevForest).join(delUnd.select("a", "b"), Seq("a", "b"), "left_anti")
      .localCheckpoint(true)
    // fragment labels over the forest remnant (V-scale, size-gated CC);
    // vertices outside F∖D self-label — each is its own fragment
    val frag = connectedComponents(spark, symmetrize(fPrime, "a", "b"))
      .localCheckpoint(true)
    val x = u2
      .join(frag.select(col("v").as("a"), col("comp").as("ca")), Seq("a"), "left")
      .join(frag.select(col("v").as("b"), col("comp").as("cb")), Seq("b"), "left")
      .filter(coalesce(col("ca"), col("a")) =!= coalesce(col("cb"), col("b")))
      .select("a", "b", "w")
    val cands = fPrime.unionByName(c(insUnd)).unionByName(x)
      .groupBy("a", "b").agg(min("w").as("w")) // dedup; w is keyed by (a,b)
    boruvka(spark, cands, 40)._2.select("a", "b", "w")
  }

  /** Distinct triangles that contain ≥1 inserted edge — the delta term of
    * INCREMENTAL triangle-count maintenance (the [[incrementalConnectedComponents]]
    * discipline applied to the motif family): every triangle of the new
    * snapshot either lies wholly in the old edge set (already counted by
    * the stored state) or contains at least one inserted canonical edge,
    * so `new_total = prev_total + count(triangleDelta)` exactly. Each
    * inserted edge (a,b) probes the FULL symmetric adjacency for common
    * neighbors — two joins keyed on vertex ids whose probe side is the
    * DELTA, so work is |delta| × avg-degree², never the base graph's
    * triangle enumeration — and triangles found through 2 or 3 of their
    * (new) edges collapse under the canonical-sort `distinct()`, which is
    * what makes the count exact rather than inclusion-exclusion-corrected.
    * Inputs are CANONICAL undirected edges (a<b, deduped — the
    * q_graph_triangles convention); `insertedUnd` must be canonical edges
    * present in `fullUnd` but absent from the previous snapshot's
    * canonical set (a directed insert whose reverse already existed is NOT
    * a new canonical edge and must be diffed out by the caller).
    *
    * DELETIONS are out of scope by design, loudly: a removed edge
    * destroys every triangle through it, which is the same delta-probe
    * shape, but the caller's stored per-triangle state could double-count
    * a triangle losing 2 edges in one diff — a deletion-bearing diff must
    * recompute (or apply the symmetric subtract with its own distinct).
    * Returns one row per new triangle, canonical `(a, b, c)` with a<b<c.
    */
  def triangleDelta(fullUnd: DataFrame, insertedUnd: DataFrame): DataFrame =
    // common neighbors of the inserted edge's endpoints, then canonicalize
    wedges(insertedUnd, symmetrize(fullUnd, "a", "b"))
      .select(
        least(col("a"), col("b"), col("c")).as("a"),
        expr("a + b + c").minus(
          least(col("a"), col("b"), col("c")) +
          greatest(col("a"), col("b"), col("c"))).as("b"),
        greatest(col("a"), col("b"), col("c")).as("c"))
      .distinct()
}
