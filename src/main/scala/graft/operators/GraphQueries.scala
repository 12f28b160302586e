package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{ProcessCache, QueryModule, Tables}
import graft.plans.GraphOps
import graft.sources.{AdjacencyCodec, GraphStore, VersionedGraphStore}

/** Graph query surface — reference parity for the two headline operators
  * (BFS op 4, DFS-leaves op 3) plus connected components, over edge tables
  * derived deterministically from the driver testdata (so DuckDB
  * recursive-CTE oracles apply; FIXTURES.md §2).
  *
  * Two graphs:
  *  - "ring" graph: vertices = custkeys 0..V−1, directed edges
  *    c → (2c+1) mod V, c → (5c+7) mod V and c → (16c+3) mod V. Deep
  *    enough (~10 BFS levels) to exercise real BSP iteration; V scales
  *    with sf.
  *  - hierarchy graph: region(id=r) ← nation(id=10+n) ← customer(id=100+c),
  *    symmetrized. Exactly one component per region.
  */
object GraphQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Directed edges of the synthetic deep graph. V is the customer row
    * count from the [[Tables]] catalog ([[Tables.rowCount]], counted once
    * per fixture file), planned as a literal. Three edge rules (including
    * one long-range hop) keep the BFS diameter around 8–12 across scale
    * factors: enough supersteps to exercise real BSP iteration without
    * the bench degenerating into scheduler overhead. All three rules come
    * out of ONE customer scan (a three-element explode per row). */
  private def ringEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val v = Tables.rowCount(s, dir, "customer")
    c.select(col("c_custkey").as("src"), explode(array(
      (col("c_custkey") * 2 + 1) % v,
      (col("c_custkey") * 5 + 7) % v,
      (col("c_custkey") * 16 + 3) % v)).as("dst"))
  }

  /** Hub-bearing twin of [[ringEdges]] (r9 VERDICT #1): the same three
    * edge rules PLUS a star of spokes 0 → 1..250, giving the fixture a
    * ≥250-degree hub — exactly the power-law degree shape the r9
    * bitmask mex REFUSED (`require(maxDeg < 63)`). The whole coloring
    * family runs oracled on this fixture since r10. Vertex 0's LCG
    * priority (12345) is near-minimal, so the hub DECIDES early and the
    * JP priority-DAG depth stays within [[GraphOps.ColoringRoundCap]];
    * the star still forces every neighbor-color aggregation and every
    * conflict join through a >63-degree vertex. */
  private val hubSpokeCap = 250L
  private def hubEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    ringEdges(s, dir).select(col("src").cast("long"), col("dst").cast("long"))
      .unionByName(c
        .filter(col("c_custkey") >= 1 && col("c_custkey") <= hubSpokeCap)
        .select(lit(0L).as("src"), col("c_custkey").cast("long").as("dst")))
  }

  /** Parameter table for the multi-graph family: 4 graphs over the SAME
    * custkey vertex set, each with edge rules v → (2v+1) mod V and
    * v → (m2·v + a2) mod V. m2 values are coprime to V's factors (2,3,5
    * at every sf) — a multiplier sharing a factor with V collapses the
    * reachable set into a residue subgroup (measured: m2=15 reached
    * 6% of V) — so all four graphs stay expanders with BFS depth ~13–19
    * across sf0.01/sf0.1. Shared verbatim by the DuckDB oracle. */
  /** Key-space encoding stride for the disjoint-union multi-graph
    * queries (q_graph_multi_pagerank): vertex v of graph g rides as
    * g*multiGraphOffset + v, injective while every vertex id stays under
    * the stride. 1e9 keeps the encoding valid to a billion vertices per
    * graph (the r14 sf10 probe tripped the old 1e6 guard at 1.5M
    * customers) while 4 graphs * 1e9 stays far inside Long range. The
    * ORACLE interpolates this same constant — never hardcode it. */
  private val multiGraphOffset = 1000000000L

  private val multiGraphParams: Seq[(Int, Int, Int)] =
    Seq((0, 7, 5), (1, 11, 7), (2, 13, 9), (3, 17, 11))

  /** Edges of all four parameterized graphs, keyed by `graph`. */
  private def multiGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val v = lit(c.count())
    multiGraphParams.map { case (g, m2, a2) =>
      c.select(lit(g).as("graph"), col("c_custkey").as("src"),
          ((col("c_custkey") * 2 + 1) % v).as("dst"))
        .union(c.select(lit(g).as("graph"), col("c_custkey").as("src"),
          ((col("c_custkey") * m2 + a2) % v).as("dst")))
    }.reduce(_.union(_))
  }

  /** Label-propagation superstep count — fixed (not convergence-gated) so
    * the oracle unrolls the identical recurrence. */
  private val lpIters = 4

  /** Vertex cap for the SCC graph: the DuckDB oracle computes an honest
    * transitive closure (mutual reachability, no knowledge of the
    * construction), so the vertex count is capped to keep the closure in
    * the low millions of pairs. */
  private val sccVertexCap = 4096L

  /** Directed SCC fixture graph: vertices = custkeys under the cap; each
    * 8-block carries a full directed cycle (partial tail block included —
    * its cycle wraps at the block's true size), plus strictly-forward
    * cross-block edges c → c+11. SCCs are therefore nontrivial (the
    * 8-cycles) while the block condensation stays a DAG — the shape that
    * exercises both halves of the coloring algorithm. */
  private def sccEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val v = math.min(c.count(), sccVertexCap)
    val cc = c.filter(col("c_custkey") < v)
      .select(col("c_custkey").cast("long").as("c"))
    val blockStart = expr("(c div 8) * 8")
    val blockSize = least(lit(8L), lit(v) - blockStart)
    val cyc = cc.select(col("c").as("src"),
      (blockStart + pmod(col("c") - blockStart + 1, blockSize)).as("dst"))
    val fwd = cc.filter(col("c") + 11 < v &&
        expr("c div 8") < expr("(c + 11) div 8"))
      .select(col("c").as("src"), (col("c") + 11).as("dst"))
    cyc.union(fwd)
  }

  /** k-core parameters — fixed peel-round count for the same reason as
    * lpIters (the oracle unrolls the identical recurrence; rounds past the
    * fixpoint are no-ops, and GraphSpec asserts the fixpoint IS reached at
    * test scale so the bounded peel equals the true k-core). */
  private val kcoreK = 4 // k=3 never cascades on this graph; k=4 peels 5 rounds at sf0.1
  // Cap AND oracle unroll. Spark-side kcorePeel early-stops at its
  // detected fixpoint (r12), so extra cap is free; the oracle runs the
  // fixed unroll whose trailing no-op rounds are cheap recomputes, with
  // a sentinel if the last round was NOT a no-op. 12 covers sf1's
  // measured depth (membership fixpoint at 8, +1 no-op refresh) with
  // slack; past that the sentinel fails the compare self-diagnosing.
  private val kcoreRounds = 12
  /** Raw-edge survivor predicate of the k-core DELETE fixture: v2 drops
    * every out-edge of vertices with src % 29 == 11. Chosen by a measured
    * sweep (%53, %41, %29, %61, %37, %23 — PLANS.md r11): this is the
    * smallest delta whose eviction cascade provably propagates PAST the
    * deleted endpoints at both verify scales (5 beyond-delta evictions at
    * sf0.01, 9 at sf0.1) — the property that makes the maintainer's wave
    * logic actually load-bearing. Applied to RAW directed edges on both
    * sides (an und pair survives iff any surviving raw edge yields it). */
  private val kcoreDelMod = 29L
  private val kcoreDelRes = 11L
  private def kcoreDelKeep: org.apache.spark.sql.Column =
    col("src") % kcoreDelMod =!= kcoreDelRes
  /** The delete fixture's peel cap/unroll — deeper than kcoreRounds
    * because the eviction cascade lengthens the peel (fixpoint at 7 at
    * sf0.1); same r12 early-stop/sentinel discipline. */
  private val kcoreDelRounds = 14

  /** k-truss parameters (edge peel by triangle support ≥ k−2). The ring
    * graph's triangles are too disjoint to cascade (3-truss is immediately
    * stable, 4-truss collapses empty), so the truss query runs on a
    * purpose-built fixture — see [[trussEdges]]. Fixed rounds, same
    * oracle-unroll rationale as kcoreRounds; GraphSpec asserts the
    * fixpoint is reached AND non-empty at test scale. */
  private val trussK = 4
  // r12: Spark-side ktrussPeel early-stops at its detected fixpoint, so
  // the cap is free slack; the oracle unroll carries a no-op-last-round
  // sentinel, and 6 gives the sf0.1-measured depth (4) two rounds of
  // headroom.
  private val trussRounds = 6
  /** Held-out band of the k-truss INSERT fixture: each block's (0,1) and
    * (0,2) clique/strip edges (canonical a<b spelled as (src,dst) for the
    * snapshot store). Dropping both detaches block vertex 0's remaining
    * edges below support, so v1's peel evicts beyond the band and the
    * re-insertion pulls those edges back as beyond-delta joiners —
    * measured at sf0.01/0.1 (GraphSpec pins the liveness). */
  private def trussInsHeld: org.apache.spark.sql.Column =
    col("src") % 97 === 0 && (col("dst") % 97 === 1 || col("dst") % 97 === 2)
  /** Delete band of the k-truss DELETE fixture: EVEN blocks' (0,1) AND
    * (2,4) clique edges — one deleted edge per block leaves every
    * remaining K5 edge at support ≥ 2 (no cascade at all, measured);
    * two non-adjacent deletions drop (0,2)/(1,4) to support 1 and the
    * eviction then cascades through the whole block (beyond-delta
    * evictions, the property that makes the wave logic load-bearing —
    * measured: a full-fixture band collapsed the truss to EMPTY, a
    * trivially-green oracle, so odd blocks are left intact as
    * survivors). Survivor predicate on canonical (a<b) edges. */
  private def trussDelKeep: org.apache.spark.sql.Column = {
    val evenBlk = (col("src") / 97).cast("long") % 2 === 0
    !(evenBlk && col("src") % 97 === 0 && col("dst") % 97 === 1) &&
      !(evenBlk && col("src") % 97 === 2 && col("dst") % 97 === 4)
  }
  /** Delete-twin oracle unroll: past the measured fixpoint (the eviction
    * cascade deepens the peel vs the base's 4; rounds past the fixpoint
    * are no-ops on both sides of the compare). */
  private val trussDelRounds = 8

  /** Canonical weighted undirected edges of the MSF family — the
    * deterministic fixture weight w = 1 + (3a + b) mod 7, single-sourced
    * across q_graph_msf, both incremental maintainers' states, and the
    * oracles (which spell the same arithmetic in SQL). */
  private def msfUnd(raw: DataFrame): DataFrame =
    raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .withColumn("w", (lit(1) + (col("a") * 3 + col("b")) % 7).cast("long"))

  /** The hierarchy edge list as a DuckDB CTE body (both directions) —
    * shared by the q_graph_cc and q_graph_labelprop oracles. */
  private val hierEdgesSql =
    """SELECT CAST(n_nationkey+10 AS BIGINT) AS src, CAST(n_regionkey AS BIGINT) AS dst FROM nation
       UNION ALL SELECT CAST(n_regionkey AS BIGINT), CAST(n_nationkey+10 AS BIGINT) FROM nation
       UNION ALL SELECT CAST(c_custkey+100 AS BIGINT), CAST(c_nationkey+10 AS BIGINT) FROM customer
       UNION ALL SELECT CAST(c_nationkey+10 AS BIGINT), CAST(c_custkey+100 AS BIGINT) FROM customer"""

  /** Shared CC oracle (q_graph_cc / _bsp / _incremental): components of
    * the hierarchy graph via reachability from HUB roots only (ids < 100
    * = region/nation nodes). Equal to the full transitive closure ON
    * THIS FIXTURE because every component contains a hub (customers
    * attach only to nations) and customer ids are offset +100, so a
    * component's min member IS its min hub — and the reach frame shrinks
    * from Σ|C|² rows (infeasible in DuckDB at sf1's ~30k-member
    * components) to ≤ 30·V, which is what lets the incremental family's
    * full-recompute oracles run the sf1 hash compare. The delete-bearing
    * twin applies the same restriction to its v2 CTE. */
  private val ccOracleSql =
    s"""WITH RECURSIVE e AS ($hierEdgesSql),
       reach(v, root) AS (
         SELECT src, src FROM e WHERE src < 100
         UNION
         SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.v),
       comp AS (SELECT v, MIN(root) AS comp FROM reach GROUP BY v)
       SELECT comp, COUNT(*) AS n_members, MIN(v) AS min_v, MAX(v) AS max_v
       FROM comp GROUP BY comp ORDER BY comp"""

  /** Symmetrized hierarchy edges: nation↔region, customer↔nation. */
  private[graft] def hierEdges(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val nr = n.select((col("n_nationkey") + 10).cast("long").as("src"),
      col("n_regionkey").cast("long").as("dst"))
    val cn = c.select((col("c_custkey") + 100).cast("long").as("src"),
      (col("c_nationkey") + 10).cast("long").as("dst"))
    val fwd = nr.union(cn)
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Undirected truss fixture: a triangle strip (v–v+1, v–v+2 — every
    * edge in ≤2 triangles) plus a K5 on the five lowest vertices of each
    * 97-block (every clique edge in ≥3 triangles). The 4-truss peel
    * cascades: round 1 removes the strip's +2 edges (support 1), round 2
    * the then-unsupported +1 edges, leaving exactly the cliques — a
    * genuinely multi-round peel with a non-empty fixpoint. The max-key
    * bound is a metadata-sized scalar like ringEdges' count. */
  private def trussEdges(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").cast("long").as("v"))
    val vmax = lit(c.agg(max("v")).head.getLong(0))
    val strip = c.filter(col("v") + 1 <= vmax)
        .select(col("v").as("a"), (col("v") + 1).as("b"))
      .union(c.filter(col("v") + 2 <= vmax)
        .select(col("v").as("a"), (col("v") + 2).as("b")))
    val mem = c.filter(col("v") % 97 < 5)
      .select(col("v"), expr("v div 97").as("blk"))
    val clique = mem.as("m1").join(mem.as("m2"),
        col("m1.blk") === col("m2.blk") && col("m1.v") < col("m2.v"))
      .select(col("m1.v").as("a"), col("m2.v").as("b"))
    strip.union(clique).distinct()
  }

  /** Stage a two-version commit-log store and recover the INSERT-only
    * delta as a snapshot diff — the setup every incremental-maintenance
    * query shares (v1 = `all` minus the `v1Filter`-rejected edges, v2 =
    * `all`; the diff is a left-anti join on the (src, dst) edge key).
    * Returns (prevEdges, newEdges, insertedDirected). One helper instead
    * of a per-query copy so a future change to the diff key cannot drift
    * between family members.
    */
  private val stageNonce: String = java.lang.Long.toHexString(System.nanoTime())
  // per-base locks: racing first-callers of the SAME tag must serialize,
  // but unrelated tags touch disjoint nonce-tagged directories and must
  // not block each other across two full parquet-write jobs
  private val stageLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // bases whose staged row counts have been verified against a caller's
  // fixture this process — see the reuse guard in snapshotInsertDiff
  private val verifiedStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Stage (or reuse) the two-version commit-log store for a fixture:
    * v1 = `v1Frame`, v2 = `v2Frame`. Returns the two loaded snapshots. */
  private def snapshotTwoVersions(s: SparkSession, dir: String, tag: String,
      v1Frame: => DataFrame, v2Frame: => DataFrame): (DataFrame, DataFrame) = {
    // nonce, not bare pid: a recycled pid with a persistent tmpdir (or a
    // regenerated corpus at the same path) must never satisfy the reuse
    // check with a STALE store from another JVM
    val base = ProcessCache.path(tag, s"${stageNonce}_$dir")
    // IDEMPOTENT per process: the nonce-tagged path is fresh per JVM and
    // the fixture content per (dir, tag) is deterministic, so an
    // already-staged two-version store is REUSED — a delete+restage here
    // would invalidate frames an in-flight caller (e.g. a query whose
    // lazily-built state cache re-enters this helper) already planned
    // against the old snapshot directories. The check-then-stage section
    // is locked: two first-callers racing the same tag would otherwise
    // interleave four commits and every later reader would take two
    // identical v1 snapshots (an empty `inserted` masquerading as a
    // maintained no-op delta).
    val (v1, v2) = stageLocks.computeIfAbsent(base, _ => new Object).synchronized {
      val staged = VersionedGraphStore.versions(base)
      if (staged.size >= 2) {
        // Reuse guard (r8 ADVICE): reuse is keyed only by (tag, dir) — a
        // caller passing a DIFFERENT fixture under an existing tag must
        // fail loudly, not silently read the stale store. Verified once
        // per base per process (four cheap counts on first reuse).
        if (!verifiedStores.contains(base)) {
          val expV1 = v1Frame.count()
          val expV2 = v2Frame.count()
          val gotV1 = VersionedGraphStore.loadAt(s, base, staged(0)).count()
          val gotV2 = VersionedGraphStore.loadAt(s, base, staged(1)).count()
          require(gotV1 == expV1 && gotV2 == expV2,
            s"snapshotTwoVersions($tag): staged store row counts " +
              s"(v1=$gotV1, v2=$gotV2) do not match this caller's fixture " +
              s"(v1=$expV1, v2=$expV2) - tag reused with a different " +
              "fixture definition")
          verifiedStores.add(base)
        }
        (staged(0), staged(1))
      } else {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        (VersionedGraphStore.commit(v1Frame, base),
          VersionedGraphStore.commit(v2Frame, base))
      }
    }
    (VersionedGraphStore.loadAt(s, base, v1), VersionedGraphStore.loadAt(s, base, v2))
  }

  /** Edge-key anti-join: rows of `a` absent from `b`. */
  private[graft] def edgeMinus(a: DataFrame, b: DataFrame): DataFrame = a
    .join(b.select(col("src").as("xsrc"), col("dst").as("xdst")),
      col("src") === col("xsrc") && col("dst") === col("xdst"), "left_anti")

  private def snapshotInsertDiff(s: SparkSession, dir: String, tag: String,
      all: DataFrame, v1Keep: org.apache.spark.sql.Column): (DataFrame, DataFrame, DataFrame) = {
    val (prev, cur) = snapshotTwoVersions(s, dir, tag, all.filter(v1Keep), all)
    (prev, cur, edgeMinus(cur, prev))
  }

  /** Two-sided snapshot diff for delete-bearing fixtures: v1/v2 are
    * arbitrary frames; returns (prev, cur, inserted, deleted). */
  private def snapshotDeleteDiff(s: SparkSession, dir: String, tag: String,
      v1Frame: => DataFrame, v2Frame: => DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (prev, cur) = snapshotTwoVersions(s, dir, tag, v1Frame, v2Frame)
    (prev, cur, edgeMinus(cur, prev), edgeMinus(prev, cur))
  }

  /** Seed sample for q_graph_closeness — shared with its oracle. */
  private val closenessSeeds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  /** The affected-seed maintenance sweep shared by the incremental
    * betweenness/closeness queries. Stages the hierarchy graph (five
    * components, one per region) in two commit-log versions — v1 missing
    * the nation edges of ~9% of customers in regions 0–1, v2 complete —
    * recovers the inserted delta as a snapshot diff, computes the stored
    * per-(seed, v) σ state over v1 for the five region seeds, and
    * classifies each seed: UNAFFECTED iff level_s(u)+1 > level_s(w) for
    * every inserted (u, w) (∞ when unreachable — no shortest path from s
    * can use the edge, so s's DAG is bit-identical and its stored slice
    * is reused verbatim); affected seeds re-run the batched forward
    * sweep on the new graph, cost ∝ |affected|, not the seed sample. By
    * construction seeds 2–4 are unaffected — require()d loudly so
    * fixture drift that degrades the scoping to a full recompute fails
    * instead of silently passing. */
  private case class ScopedSweep(edNew: DataFrame,
      affected: Seq[Long], reuse: Seq[Long],
      sigPrev: DataFrame, sigNew: DataFrame) {
    def sigAll: DataFrame =
      sigNew.unionByName(sigPrev.filter(col("seed").isin(reuse: _*)))
  }
  /** Held-out predicate of q_graph_cc_incremental's fixture: an edge
    * touches a held customer iff its customer endpoint id (c+100) has
    * (id−100) % 97 == 0 (nation/region ids are < 100). */
  private def ccHeldEdge: org.apache.spark.sql.Column = {
    def held(c: org.apache.spark.sql.Column) = c >= 100 && (c - 100) % 97 === 0
    held(col("src")) || held(col("dst"))
  }

  /** Delete-bearing fixture of q_graph_cc_incremental_del. v1 is the FULL
    * hierarchy graph; v2 drops every nation↔region edge of region 4
    * (splitting that component into per-nation stars and isolating the
    * region node entirely — it must VANISH from the edge-defined
    * universe) and inserts region0↔region1 (merging two untouched
    * components through the contracted glue) plus an edge from region
    * 4's lowest nation to region node 3 (merging a split-off star into an
    * untouched component — the S↔outside glue path). Region/nation ids
    * are scale-invariant (dims copy unchanged in the sf1 derivation). */
  private def ccDelMinNation4(s: SparkSession, dir: String): Long =
    t(s, dir, "nation").filter(col("n_regionkey") === 4)
      .agg(min((col("n_nationkey") + 10).cast("long"))).collect()(0).getLong(0)
  private[graft] def ccDelV2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mn4 = ccDelMinNation4(s, dir)
    hierEdges(s, dir).filter(
      !((col("src") === 4 && col("dst").between(10, 99)) ||
        (col("dst") === 4 && col("src").between(10, 99))))
      .unionByName(Seq((0L, 1L), (1L, 0L), (mn4, 3L), (3L, mn4)).toDF("src", "dst"))
  }

  /** Delete-bearing fixture of q_graph_bfs_incremental_del: v2 drops all
    * out-edges of ring vertices with src % 13 == 5 and inserts two
    * seed-adjacent shortcuts — measured on the fixture: 44/627 stored
    * levels raised at sf0.01/sf0.1, 3 vertices disconnected, hundreds
    * lowered by the shortcuts, max level within the oracle's walk cap. */
  private def bfsDelV2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = Tables.rowCount(s, dir, "customer")
    ringEdges(s, dir).filter(col("src") % 13 =!= 5)
      .unionByName(Seq((1L, 2L * v / 3), (2L, v / 3)).toDF("src", "dst"))
  }

  /** Held-out predicate of the symmetry-breaking incremental fixtures:
    * ring edges whose endpoints BOTH sit in the top priority-value decile
    * — a low-priority-band delta whose dependency cone is shallow. */
  private def lowBandHeldEdge: org.apache.spark.sql.Column = {
    val highP = lit(2147483648L / 10L * 9L)
    GraphOps.lcgPriCol(col("src")) > highP && GraphOps.lcgPriCol(col("dst")) > highP
  }

  /** Process-level parquet cache of each incremental-maintenance query's
    * PREVIOUS-SNAPSHOT state — the stored table a production pipeline
    * reads before applying a diff. Built once per corpus (billed to the
    * `incremental_states` cache_build line when the bench prewarms it;
    * lazily on first read otherwise, so Verify needs no prewarm), which
    * makes the published per-query time the MAINTENANCE STEP itself
    * instead of being dominated by constructing state the pipeline
    * already has (the r8 bench note disclaimed exactly this). Every tag
    * has exactly one builder ([[incStateBuilders]]) and pays for its own
    * build on its own `incstate_<tag>` cache_build line. The only
    * cross-tag reads are the two Brandes-δ states (`centinc_del`,
    * `centdel_del`), which read their fixture's σ state through a nested
    * cachedIncState — built first if it is not yet. Builders are
    * single-sourced with the query fixtures — and a drifted state would
    * fail the oracle compare loudly anyway, because every maintenance
    * result must equal the full recompute of the NEW snapshot. */
  private[graft] def cachedIncState(s: SparkSession, dir: String, tag: String): DataFrame =
    ProcessCache.parquet(s, "incstate", s"${tag}_$dir")(incStateBuilders(s, dir)(tag)())

  private def incStateBuilders(s: SparkSession, dir: String): Map[String, () => DataFrame] = {
    def weighted(e: DataFrame) = e.select(col("src"), col("dst"),
      (lit(1) + (col("src") + col("dst")) % 5).as("w"))
    // (key-set drift check vs incStateTags is at the end of this method)
    def scopedPrev(tag: String): DataFrame =
      snapshotInsertDiff(s, dir, tag, hierEdges(s, dir), !scopedHeldEdge(s, dir))._1
        .select(col("src").cast("long"), col("dst").cast("long")).distinct()
    Map(
      "bfsinc" -> (() => GraphOps.bfsLevels(s,
        snapshotInsertDiff(s, dir, "bfsinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1, 0L)),
      // previous levels of the delete-bearing fixture (v1 = full ring)
      "bfsdel" -> (() => GraphOps.bfsLevels(s,
        snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1, 0L)),
      "ccinc" -> (() => GraphOps.connectedComponents(s,
        snapshotInsertDiff(s, dir, "ccinc", hierEdges(s, dir), !ccHeldEdge)._1)),
      // previous CC labels of the delete-bearing fixture (v1 = full graph)
      "ccdel" -> (() => GraphOps.connectedComponents(s,
        snapshotDeleteDiff(s, dir, "ccdel", hierEdges(s, dir), ccDelV2(s, dir))._1)),
      // the stored triangle COUNTER of the previous snapshot (1 row)
      "triinc" -> (() => {
        val prevRaw = snapshotInsertDiff(s, dir, "triinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1
        val undPrev = prevRaw.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(true)
        undPrev.as("x").join(undPrev.as("y"), col("x.b") === col("y.a"))
          .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
          .join(undPrev.select(col("a").as("ca"), col("b").as("cb")),
            col("a") === col("ca") && col("c") === col("cb"), "left_semi")
          .agg(count(lit(1)).as("prev"))
      }),
      // the delete-bearing fixture's stored counter (v1 = full ring) —
      // same store as bfsdel, its own state line
      "tridel" -> (() => {
        val prevRaw = snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1
        val undPrev = prevRaw.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(true)
        undPrev.as("x").join(undPrev.as("y"), col("x.b") === col("y.a"))
          .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
          .join(undPrev.select(col("a").as("ca"), col("b").as("cb")),
            col("a") === col("ca") && col("c") === col("cb"), "left_semi")
          .agg(count(lit(1)).as("prev"))
      }),
      "princ" -> (() => GraphOps.pageRank(s,
        ringEdges(s, dir).filter(col("src") % 97 =!= 1), 10)),
      // stored HITS scores (r12): v1 = the held ring for the insert twin,
      // the full ring (bfsdel's v1) for the delete twin
      "hitsinc" -> (() => GraphOps.hits(s,
        ringEdges(s, dir).filter(col("src") % 97 =!= 1), 5)),
      "hitsdel" -> (() => GraphOps.hits(s,
        snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1, 5)),
      // stored ranks of the delete-bearing fixture's v1 (= full ring)
      "prdel" -> (() => GraphOps.pageRank(s,
        snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1, 10)),
      "ssspinc" -> (() => GraphOps.sssp(s, weighted(
        snapshotInsertDiff(s, dir, "ssspinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1), 0L)),
      // stored distances of the delete-bearing fixture (v1 = full ring;
      // shares the bfsdel store)
      "ssspdel" -> (() => GraphOps.sssp(s, weighted(
        snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1), 0L)),
      "daginc" -> (() => GraphOps.dagLayers(s,
        snapshotInsertDiff(s, dir, "daginc",
          ringEdges(s, dir).filter(col("src") < col("dst")),
          col("src") % 97 =!= 1)._1)),
      // stored layers of the delete-bearing fixture's v1 DAG orientation
      "dagdel" -> (() => GraphOps.dagLayers(s,
        snapshotDeleteDiff(s, dir, "bfsdel", ringEdges(s, dir),
          bfsDelV2(s, dir))._1.filter(col("src") < col("dst")))),
      // ONE scoped fixture serves BOTH incremental centralities (the
      // whole point of the affected-seed gate: each extra centrality
      // costs only its readout) — a single staged store + sigma state
      "centinc_sig" -> (() => GraphOps.multiSourceBfsSigma(s,
        scopedPrev("centinc").localCheckpoint(true), closenessSeeds)),
      "centinc_del" -> (() => GraphOps.multiBrandesDeltas(s,
        scopedPrev("centinc").localCheckpoint(true),
        cachedIncState(s, dir, "centinc_sig").localCheckpoint(true))),
      // the delete-bearing centrality fixture's states (v1 = FULL hier)
      "centdel_sig" -> (() => GraphOps.multiSourceBfsSigma(s,
        scopedDelPrev(s, dir).localCheckpoint(true), closenessSeeds)),
      "centdel_del" -> (() => GraphOps.multiBrandesDeltas(s,
        scopedDelPrev(s, dir).localCheckpoint(true),
        cachedIncState(s, dir, "centdel_sig").localCheckpoint(true))),
      "misinc" -> (() => GraphOps.maximalIndependentSet(s,
        snapshotInsertDiff(s, dir, "misinc", ringEdges(s, dir),
          !lowBandHeldEdge)._1)),
      "colinc" -> (() => GraphOps.jonesPlassmannColoring(s,
        snapshotInsertDiff(s, dir, "colinc", ringEdges(s, dir),
          !lowBandHeldEdge)._1)),
      // the delete-bearing symmetry-breaking states (v1 = FULL ring; one
      // shared "sbdel" store, two state lines)
      "misdel" -> (() => GraphOps.maximalIndependentSet(s,
        snapshotDeleteDiff(s, dir, "sbdel", ringEdges(s, dir),
          ringEdges(s, dir).filter(!lowBandHeldEdge))._1)),
      "coldel" -> (() => GraphOps.jonesPlassmannColoring(s,
        snapshotDeleteDiff(s, dir, "sbdel", ringEdges(s, dir),
          ringEdges(s, dir).filter(!lowBandHeldEdge))._1)),
      // hub-fixture coloring states (r10): v1 colors for the insert and
      // delete maintainers over the hub graph
      "colhubinc" -> (() => GraphOps.jonesPlassmannColoring(s,
        snapshotInsertDiff(s, dir, "colhubinc", hubEdges(s, dir),
          !lowBandHeldEdge)._1)),
      "colhubdel" -> (() => GraphOps.jonesPlassmannColoring(s,
        snapshotDeleteDiff(s, dir, "hubdel", hubEdges(s, dir),
          hubEdges(s, dir).filter(!lowBandHeldEdge))._1)),
      // k-core states (r11): the stored (v, deg) core of each fixture's
      // v1 — the insert twin shares the bfsinc store (same held-out ~1%),
      // the delete twin stages its own (v1 = full ring, v2 minus the
      // src % 29 == 11 out-edges)
      "kcoreinc" -> (() => GraphOps.kcorePeel(s,
        snapshotInsertDiff(s, dir, "bfsinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1, kcoreK, kcoreRounds)),
      "kcoredel" -> (() => GraphOps.kcorePeel(s,
        snapshotDeleteDiff(s, dir, "kcoredel", ringEdges(s, dir),
          ringEdges(s, dir).filter(kcoreDelKeep))._1, kcoreK, kcoreRounds)),
      // k-truss states (r11): the stored (a, b, support) truss of each
      // fixture's v1, over the strip+clique fixture's canonical edges.
      // v1 peels DEEPER than the complete fixture (held-out edges
      // lengthen the cascade), so the state peel carries a +4 round
      // margin past the base unroll — rounds past the fixpoint are
      // no-ops, and a state short of the fixpoint would fail the
      // maintainers' oracle compare loudly.
      "ktrussinc" -> (() => GraphOps.ktrussPeel(s,
        snapshotInsertDiff(s, dir, "ktrussinc",
          trussEdges(s, dir).select(col("a").as("src"), col("b").as("dst")),
          !trussInsHeld)._1
          .select(col("src").as("a"), col("dst").as("b")),
        trussK, trussRounds + 4)),
      "ktrussdel" -> (() => {
        val all = trussEdges(s, dir)
          .select(col("a").as("src"), col("b").as("dst"))
        GraphOps.ktrussPeel(s,
          snapshotDeleteDiff(s, dir, "ktrussdel", all,
            all.filter(trussDelKeep))._1
            .select(col("src").as("a"), col("dst").as("b")),
          trussK, trussRounds + 4)
      }),
      // LCC states (r11): the stored (v, deg, tri, lcc_e6) table of each
      // fixture's v1 — insert twin shares the bfsinc store, delete twin
      // the kcoredel store (its v1 IS the full ring)
      "lccinc" -> (() => GraphOps.lcc(s,
        snapshotInsertDiff(s, dir, "bfsinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1)),
      "lccdel" -> (() => GraphOps.lcc(s,
        snapshotDeleteDiff(s, dir, "kcoredel", ringEdges(s, dir),
          ringEdges(s, dir).filter(kcoreDelKeep))._1)),
      // MSF states (r11): the stored forest (a, b, w) of each fixture's
      // v1 — Borůvka to early-stop convergence (8 ≥ log2 V rounds)
      "msfinc" -> (() => GraphOps.boruvka(s, msfUnd(
        snapshotInsertDiff(s, dir, "bfsinc", ringEdges(s, dir),
          col("src") % 97 =!= 1)._1), 8)._2.select("a", "b", "w")),
      "msfdel" -> (() => GraphOps.boruvka(s, msfUnd(
        snapshotDeleteDiff(s, dir, "kcoredel", ringEdges(s, dir),
          ringEdges(s, dir).filter(kcoreDelKeep))._1), 8)._2
        .select("a", "b", "w")))
  } ensuring (_.keySet == incStateTags.toSet,
    "incStateBuilders drifted from incStateTags - update both")

  /** Held-edge predicate for the scoped-sweep fixture — single-sourced
    * between [[scopedSeedSweep]] and the state-cache builders. */
  private def scopedHeldEdge(s: SparkSession, dir: String): org.apache.spark.sql.Column = {
    // metadata-sized (≤25 rows): the nation ids of regions 0–1
    val r01 = t(s, dir, "nation").filter(col("n_regionkey") <= 1)
      .select((col("n_nationkey") + 10).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    def heldC(c: org.apache.spark.sql.Column) = c >= 100 && (c - 100) % 11 === 0
    (heldC(col("src")) && col("dst").isin(r01: _*)) ||
      (heldC(col("dst")) && col("src").isin(r01: _*))
  }
  private def scopedSeedSweep(s: SparkSession, dir: String): ScopedSweep = {
    val (_, newEdges, inserted) =
      snapshotInsertDiff(s, dir, "centinc", hierEdges(s, dir), !scopedHeldEdge(s, dir))
    scopedSweepFrom(s, dir, "centinc_sig", newEdges, inserted)
  }

  /** The delete fixture's v1 (= the FULL hierarchy graph), normalized —
    * single-sourced between the state builders and the sweep. */
  private def scopedDelPrev(s: SparkSession, dir: String): DataFrame =
    snapshotDeleteDiff(s, dir, "centdel", hierEdges(s, dir),
      hierEdges(s, dir).filter(!scopedHeldEdge(s, dir)))._1
      .select(col("src").cast("long"), col("dst").cast("long")).distinct()

  /** Delete-bearing twin of [[scopedSeedSweep]] — the INVERTED fixture
    * (v1 = full hierarchy, v2 = the held graph) with the diff's DELETED
    * side feeding the SAME gate: a deleted (u, w) affects seed s iff it
    * was TIGHT in s's previous DAG (level_s(u) + 1 = level_s(w) — an
    * edge every path-destroying delete must sit on), and for an edge
    * that EXISTED in v1 the triangle inequality makes the insert gate's
    * `ul + 1 <= wl` exactly that tightness test, so one expression
    * serves both diff sides. Unaffected seeds reuse their stored σ/δ
    * verbatim (their DAGs are bit-identical on the new graph). */
  private def scopedSeedSweepDelete(s: SparkSession, dir: String): ScopedSweep = {
    val (_, newEdges, _, deleted) = snapshotDeleteDiff(s, dir, "centdel",
      hierEdges(s, dir), hierEdges(s, dir).filter(!scopedHeldEdge(s, dir)))
    scopedSweepFrom(s, dir, "centdel_sig", newEdges, deleted)
  }

  private def scopedSweepFrom(s: SparkSession, dir: String, sigTag: String,
      newEdges: DataFrame, probe: DataFrame): ScopedSweep = {
    val seeds = closenessSeeds // the five region vertices
    val sigPrev = cachedIncState(s, dir, sigTag).localCheckpoint(true)
    // affected-seed gate: one delta⋈state join, seed-count-sized result
    val pr = probe.select(col("src").cast("long"), col("dst").cast("long"))
    val affected = pr
      .join(sigPrev.select(col("seed"), col("v").as("uv"), col("level").as("ul")),
        col("uv") === col("src"))
      .join(sigPrev.select(col("seed").as("wseed"), col("v").as("wv"),
        col("level").as("wl")),
        col("wseed") === col("seed") && col("wv") === col("dst"), "left")
      .filter(col("ul") + 1 <= coalesce(col("wl"), lit(Int.MaxValue)))
      .select("seed").distinct().collect().map(_.getLong(0)).toSeq.sorted
    val reuse = seeds.diff(affected)
    require(affected.nonEmpty && reuse.nonEmpty,
      s"fixture no longer demonstrates scoped maintenance (affected=$affected)" +
        " - rebalance the held-out regions")
    val edNew = newEdges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    val sigNew = GraphOps.multiSourceBfsSigma(s, edNew, affected).localCheckpoint(true)
    ScopedSweep(edNew, affected, reuse, sigPrev, sigNew)
  }

  /** Walk length for q_graph_walks (fixed — the oracle unrolls it). */
  private val walkSteps = 4

  /** Process-level cache of the batched 5-seed σ-BFS over the distinct
    * ring edges. FOUR queries consume the SAME forward sweep — both
    * betweenness queries (the single-source σ frame is the seed-0 slice),
    * closeness, and eccentricity (σ-BFS levels ARE multi-source BFS
    * levels; the σ column just rides along) — so whichever runs first
    * pays the iterative loop and the rest read it back. Each
    * materialization also asserts the DuckDB oracles' 16-level unroll cap
    * (r5 ADVICE): a regenerated deeper fixture fails loudly here instead
    * of silently dropping vertices out of the oracle's unrolled sgall/dall
    * chain. */
  private val sigmaUnrollCap = 16
  private def ringSigma(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ed = ringEdges(s, dir)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    (ed, ProcessCache.parquet(s, "sigma", dir) {
      val sig = GraphOps.multiSourceBfsSigma(s, ed, closenessSeeds)
      val maxL = sig.agg(max("level")).collect()(0).getInt(0)
      require(maxL <= sigmaUnrollCap,
        s"sigma-BFS depth $maxL exceeds the oracle's $sigmaUnrollCap-level unroll cap" +
          " - regenerate the betweenness oracles with a deeper unroll")
      sig
    })
  }

  /** lpIters rounds of synchronous label propagation over `edges`
    * (deterministic ties: highest count, then smallest label). Shared by
    * q_graph_labelprop and q_graph_modularity so both score the SAME
    * community assignment.
    */
  private def lpLabels(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var labels = e.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")).localCheckpoint(true)
    for (_ <- 1 to lpIters) {
      val nbr = e.join(labels, e("src") === labels("v"))
        .select(e("dst").as("nv"), col("lbl"))
      val cnt = nbr.groupBy(col("nv"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("nv").orderBy(col("c").desc, col("lbl"))
      labels = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("nv").as("v"), col("lbl"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Process-level parquet cache of the batched BACKWARD Brandes sweep's
    * per-(seed, v) deltas over the σ cache — per-seed dependency
    * recursion is independent, so the single-source query reads the
    * seed-0 slice and the sampled query aggregates over all seeds: the
    * two betweenness queries now share BOTH sweeps (one forward + one
    * backward pass per process between them). */
  private def ringDeltas(s: SparkSession, dir: String): DataFrame =
    ProcessCache.parquet(s, "deltas", dir) {
      val (ed, sig) = ringSigma(s, dir)
      GraphOps.multiBrandesDeltas(s, ed, sig)
    }

  /** Process-level parquet cache of the label-propagation assignment over
    * the hierarchy edges: q_graph_labelprop and
    * q_graph_modularity must score the SAME assignment, so they now also
    * SHARE its computation — whichever runs first pays the 4 supersteps. */
  private def lpLabelsCached(s: SparkSession, dir: String, e: DataFrame): DataFrame =
    ProcessCache.parquet(s, "lp", dir)(lpLabels(e))

  /** The incremental-state tags, STATIC so the bench can bill each
    * builder to its own named cache_build line (r8 VERDICT #5: one
    * 27.8 s `incremental_states` line hid which of the 10 builders
    * regressed). [[incStateBuilders]] require()s its key set equals this
    * list, so the two sources of truth fail loudly on drift. */
  private[graft] val incStateTags: Seq[String] = Seq("bfsinc", "bfsdel",
    "ccinc", "ccdel", "triinc", "tridel", "princ", "prdel", "hitsinc",
    "hitsdel", "ssspinc",
    "ssspdel", "daginc", "dagdel", "centinc_sig", "centinc_del",
    "centdel_sig", "centdel_del", "misinc", "colinc", "misdel", "coldel",
    "colhubinc", "colhubdel", "kcoreinc", "kcoredel", "ktrussinc",
    "ktrussdel", "lccinc", "lccdel", "msfinc", "msfdel")

  /** The process-level caches this module owns, individually named so
    * Bench can time EACH build (r7 VERDICT: the single `cache_build_sec`
    * number hid which sweep regressed). Order matters: `brandes_deltas`
    * consumes `sigma_bfs`, so listed after it — its timed cost is the
    * BACKWARD sweep only, not a re-run of the forward one. */
  def namedCaches: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "sigma_bfs" -> ((s: SparkSession, dir: String) => { ringSigma(s, dir); () }),
    "brandes_deltas" -> ((s: SparkSession, dir: String) => { ringDeltas(s, dir); () }),
    "labelprop" -> ((s: SparkSession, dir: String) =>
      { lpLabelsCached(s, dir, hierEdges(s, dir).localCheckpoint(true)); () })) ++
    // every incremental-maintenance query's previous-snapshot state —
    // the stored tables a production pipeline reads before applying a
    // diff — one named line PER state builder
    incStateTags.map(tag => s"incstate_$tag" ->
      ((s: SparkSession, dir: String) => { cachedIncState(s, dir, tag); () }))

  /** Shared recursive-CTE prelude for the ring graph (DuckDB dialect). */
  private val ringWalkCte =
    """WITH RECURSIVE e AS (
         SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
         UNION ALL
         SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
         UNION ALL
         SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
       walk(v, lvl) AS (
         SELECT CAST(0 AS BIGINT), 0
         UNION
         SELECT e.dst, w.lvl+1 FROM walk w JOIN e ON e.src = w.v WHERE w.lvl < 40),
       lv AS (SELECT v, MIN(lvl) AS level FROM walk GROUP BY v)"""

  /** Seed-0 level slice of the shared σ-BFS cache: σ-BFS levels ARE BFS
    * levels (σ rides along), so the whole BFS family — q_graph_bfs, the
    * k-hop profile, the DFS-leaves parent extraction — reads ONE cached
    * traversal per process, the same sharing the centrality four already
    * do. The live BSP loop stays benched via q_graph_bfs_pregel and
    * spec-pinned on every fixture (GraphSpec). */
  private def bfsLevelsCached(s: SparkSession, dir: String): DataFrame =
    ringSigma(s, dir)._2.filter(col("seed") === 0).select("v", "level")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A5: BFS level-order traversal (reference `secondary_server.c:588-619`),
    // served from the shared cached traversal ([[bfsLevelsCached]]).
    "q_graph_bfs" -> ((s, dir) =>
      bfsLevelsCached(s, dir).orderBy("v")),

    // A5 via GraphX Pregel (alternate engine for the same BFS; same
    // oracle) — also the live-loop benchmark for the family now that the
    // DataFrame-loop queries share the cached sweep.
    "q_graph_bfs_pregel" -> ((s, dir) =>
      GraphOps.bfsLevelsPregel(s, ringEdges(s, dir), 0L).orderBy("v")),

    // A6: DFS leaf-node query, deterministic reinterpretation
    // (reference `secondary_server.c:189-238`; see GraphOps scaladoc).
    // Parent extraction over the cached levels; the parquet-backed cache
    // frame is cheap to rescan for its three consumers.
    "q_graph_dfs_leaves" -> ((s, dir) =>
      GraphOps.bfsTreeLeavesFrom(bfsLevelsCached(s, dir), ringEdges(s, dir))
        .orderBy("v")),

    // k-hop reachability profile: how many vertices first appear at each
    // BFS depth (the frontier-growth curve — the quantity a traversal
    // planner would use to decide broadcast vs shuffle per superstep).
    "q_graph_khop" -> ((s, dir) =>
      bfsLevelsCached(s, dir)
        .groupBy("level").agg(count(lit(1)).as("n_vertices"))
        .orderBy("level")),

    // Multi-graph partition-parallel BFS: per-graph levels for all 4
    // parameterized graphs computed by ONE job with state keyed
    // (graph, v) — the scale analog of the reference's load balancer
    // fanning queries across graphs ([[GraphOps.multiGraphBfs]]). The
    // oracle runs the per-graph recursive CTE over the identical
    // parameter table.
    "q_graph_multi" -> ((s, dir) =>
      GraphOps.multiGraphBfs(s, multiGraphEdges(s, dir), 0L)
        .orderBy("graph", "v")),

    // Multi-graph PageRank by KEY-SPACE PARTITIONING — the rank analog of
    // q_graph_multi_cc's encoding discipline: encode vertex ids as
    // g·OFFSET + v and run ONE [[GraphOps.pageRank]] over the disjoint
    // union — the union is disconnected, so the power iteration evolves
    // every graph's ranks independently and exactly (teleport is a
    // per-vertex constant, contributions never cross components). 4
    // parameterized expander variants (same table as q_graph_multi),
    // 10 iterations, decoded back to (graph, v, pr). One rankLoop's
    // barriers amortize across ALL graphs — the whole point of batching.
    "q_graph_multi_pagerank" -> ((s, dir) => {
      val off = multiGraphOffset
      // the encoding is only injective while every vertex id fits under
      // the offset — beyond it the graphs would silently bleed rank mass
      // into each other, so fail loudly instead (the fix at that scale
      // is a bigger offset on BOTH sides — the oracle interpolates the
      // same shared constant)
      val nCust = Tables.rowCount(s, dir, "customer")
      require(nCust < off,
        s"q_graph_multi_pagerank: $nCust customers exceed the $off id " +
          "offset - graphs would collide; raise the offset in query AND oracle")
      val encoded = multiGraphEdges(s, dir)
        .select((col("graph") * off + col("src")).as("src"),
          (col("graph") * off + col("dst")).as("dst"))
      GraphOps.pageRank(s, encoded, 10)
        .select(expr(s"v div $off").as("graph"), (col("v") % off).as("v"),
          round(col("pr"), 4).as("pr"))
        .orderBy("graph", "v")
    }),

    // Multi-graph CC by KEY-SPACE PARTITIONING — the complementary
    // multi-graph discipline to q_graph_multi's keyed BSP loop: when the
    // operator's state key is the vertex id itself, per-graph analytics
    // need NO new operator — encode vertex ids as g·OFFSET + v and the
    // disjoint union IS the multi-graph, one connectedComponents call
    // computes every graph's components, and comp % OFFSET decodes the
    // per-graph min-vertex label (min commutes with the per-graph
    // constant offset). 4 hierarchy variants (nation→region rewired per
    // graph), customers capped like the SCC fixture so the oracle's
    // per-graph transitive closure stays bounded at any sf.
    "q_graph_multi_cc" -> ((s, dir) => {
      val off = 1000000L
      val cap = 2000L
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer").filter(col("c_custkey") < cap)
      val encoded = (0 to 3).map { g =>
        val nr = n.select((col("n_nationkey") + 10).cast("long").as("src"),
          ((col("n_regionkey") + g) % 5).cast("long").as("dst"))
        val cn = c.select((col("c_custkey") + 100).cast("long").as("src"),
          (col("c_nationkey") + 10).cast("long").as("dst"))
        val und = nr.union(cn)
        und.union(und.select(col("dst").as("src"), col("src").as("dst")))
          .select((col("src") + g * off).as("src"), (col("dst") + g * off).as("dst"))
      }.reduce(_.union(_))
      GraphOps.connectedComponents(s, encoded)
        .select(expr(s"v div $off").as("graph"), (col("comp") % off).as("comp"))
        .groupBy("graph", "comp").agg(count(lit(1)).as("n_members"))
        .orderBy("graph", "comp")
    }),

    // Static PageRank, 10 iterations, over the directed ring graph.
    "q_graph_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(s, ringEdges(s, dir), 10)
        .select(col("v"), round(col("pr"), 4).as("pr"))
        .orderBy("v")),

    // Personalized PageRank from seed 0, 10 iterations: the random walk
    // restarts at the seed, so rank mass measures proximity to it (the
    // recommendation / local-clustering primitive). Same plan shape as
    // q_graph_pagerank — only the teleport vector differs; ranks below the
    // e4 rounding floor are cut so the output is the seed's neighborhood,
    // not |V| rows of zeros (at scale the filter prunes before the sort).
    "q_graph_ppr" -> ((s, dir) =>
      GraphOps.personalizedPageRank(s, ringEdges(s, dir), 0L, 10)
        .select(col("v"), round(col("pr"), 4).as("pr"))
        .filter(col("pr") >= 0.0001)
        .orderBy("v")),

    // WARM-START ("delta") PageRank — the rank-family maintenance query:
    // the previous snapshot (ring graph minus the out-edges of ~1% of
    // sources) contributes only its STORED 10-iteration ranks; the new
    // snapshot resumes the power iteration from them for 3 iterations
    // ([[GraphOps.pageRankWarmStart]] — geometric convergence means a
    // small delta needs a handful of warm steps where a cold start needs
    // its full budget; GraphSpec pins warm-3 strictly closer to the new
    // fixpoint than cold-3). Deterministic semantics (prev in, 3 exact
    // recurrence steps out), so the oracle unrolls the identical
    // 10-then-3 recurrence over the two edge sets.
    "q_graph_pagerank_incremental" -> ((s, dir) => {
      val all = ringEdges(s, dir)
      val prev = cachedIncState(s, dir, "princ") // stored (v, pr) ranks
      GraphOps.pageRankWarmStart(s, all, prev, 3)
        .select(col("v"), round(col("pr"), 4).as("pr"))
        .orderBy("v")
    }),

    // DELETE-bearing warm-start PageRank: the warm resume is DIFF-
    // AGNOSTIC (it re-runs the power iteration on whatever the new
    // snapshot is — no per-edge delta reasoning to get wrong), so the
    // same 3 warm steps serve a delete-bearing diff; what changes is
    // only the fixture (v1 = full ring, v2 = the bfsdel algebra) and the
    // stored-rank state.
    "q_graph_pagerank_incremental_del" -> ((s, dir) => {
      val (_, cur, _, _) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "prdel") // stored ranks of v1
      GraphOps.pageRankWarmStart(s, cur, prev, 3)
        .select(col("v"), round(col("pr"), 4).as("pr"))
        .orderBy("v")
    }),

    // WEIGHTED PageRank over the ring graph with the same deterministic
    // 1..5 weights q_graph_sssp uses: the surfer follows (u,v) with
    // probability w/Σw — the affinity/multigraph variant. Shares
    // [[GraphOps.rankLoop]] with the unweighted family (only the mass
    // split differs); the oracle unrolls the identical recurrence.
    "q_graph_pagerank_weighted" -> ((s, dir) =>
      GraphOps.weightedPageRank(s,
        ringEdges(s, dir).select(col("src"), col("dst"),
          (lit(1) + (col("src") + col("dst")) % 5).as("w")), 10)
        .select(col("v"), round(col("pr"), 4).as("pr"))
        .orderBy("v")),

    // Longest-path DAG layering over the increasing-id orientation of the
    // ring graph (src < dst keeps it acyclic) — the topological-depth
    // assignment a DAG scheduler computes ([[GraphOps.dagLayers]]). Layer
    // counts + depth fall out of the same (v, layer) output.
    "q_graph_dag_layers" -> ((s, dir) =>
      GraphOps.dagLayers(s, ringEdges(s, dir).filter(col("src") < col("dst")))
        .orderBy("v")),

    // INCREMENTAL DAG-layer maintenance — the longest-path mirror of
    // q_graph_bfs_incremental (inserts RAISE layers; a former source
    // gaining an in-edge rises above 0): v1 drops the out-edges of ~1%
    // of sources from the src<dst DAG, v2 is complete; new layers are
    // maintained from (dagLayers(v1), diff) by delta-seeded MAX
    // relaxation ([[GraphOps.incrementalDagLayers]]). The oracle is
    // q_graph_dag_layers' full recursive walk over the COMPLETE DAG.
    "q_graph_dag_layers_incremental" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) = snapshotInsertDiff(s, dir,
        "daginc", ringEdges(s, dir).filter(col("src") < col("dst")),
        col("src") % 97 =!= 1)
      val prev = cachedIncState(s, dir, "daginc") // stored (v, layer)
      GraphOps.incrementalDagLayers(s, newEdges, prev, inserted)
        .orderBy("v")
    }),

    // DELETION-bearing incremental DAG layering — the longest-path
    // mirror of q_graph_bfs_incremental_del over the SAME store's
    // increasing-id orientation: deletes LOWER layers (or mint new
    // sources), so the argmax support cascade invalidates exactly the
    // layers the deleted edges carried; the MAX re-relaxation re-derives
    // them from the surviving sources and applies the insert raises
    // ([[GraphOps.incrementalDagLayersDelete]]).
    "q_graph_dag_layers_incremental_del" -> ((s, dir) => {
      def dag(e: DataFrame) = e.filter(col("src") < col("dst"))
      val (_, cur, inserted, deleted) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "dagdel") // stored (v, layer)
      GraphOps.incrementalDagLayersDelete(s, dag(cur), prev,
        dag(inserted), dag(deleted))
        .orderBy("v")
    }),

    // The same delete-bearing maintenance with the cascade's driver gate
    // FORCED to the BSP wave loop (the q_graph_dag_layers_bsp /
    // q_graph_cc_bsp discipline): since r11 the support cascade is a
    // size-gated driver worklist over the materialized tight-support
    // graph, so the benched production query takes the driver path at
    // every test scale — this twin keeps the 100 TB wave loop benched
    // and re-oracled on real data every round instead of living only in
    // GraphSpec's forced-gate equality test.
    "q_graph_dag_layers_incremental_del_bsp" -> ((s, dir) => {
      def dag(e: DataFrame) = e.filter(col("src") < col("dst"))
      val (_, cur, inserted, deleted) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "dagdel")
      GraphOps.incrementalDagLayersDelete(s, dag(cur), prev,
        dag(inserted), dag(deleted), cascadeDriverLimit = 0L)
        .orderBy("v")
    }),

    // The same layering with the size gate FORCED to the distributed
    // Bellman-Ford-with-max BSP loop (driverSolveLimit = 0) — the
    // q_graph_cc_bsp discipline applied to dagLayers: the 100 TB path is
    // benched and re-oracled on real data every round instead of living
    // only in GraphSpec's fixture-scale gate-equality test (the r7
    // VERDICT's top task — the published 0.42 s dagLayers number measured
    // only the driver Kahn side of the gate).
    "q_graph_dag_layers_bsp" -> ((s, dir) =>
      GraphOps.dagLayers(s, ringEdges(s, dir).filter(col("src") < col("dst")),
        driverSolveLimit = 0L)
        .orderBy("v")),

    // HITS hubs & authorities, 5 max-normalized iterations over the
    // directed ring graph ([[GraphOps.hits]] — max, not L2, normalization:
    // order-independent, so the oracle reproduces it bit-for-bit where a
    // distributed L2 sum would drift in the last ulp).
    "q_graph_hits" -> ((s, dir) =>
      GraphOps.hits(s, ringEdges(s, dir), 5)
        .select(col("v"), round(col("auth"), 4).as("auth"),
          round(col("hub"), 4).as("hub"))
        .orderBy("v")),

    // WARM-START ("delta") HITS — the q_graph_pagerank_incremental
    // discipline applied to the hubs/authorities eigenpair: resume the
    // power iteration on the NEW snapshot from the stored normalized
    // scores ([[GraphOps.hits]] warmFrom, wired r12). Honest contract as
    // with warm PageRank: no exact state+delta shortcut exists for a
    // global eigenvector, but geometric convergence makes 2 warm
    // iterations recover what a cold start needs its full budget for.
    // The oracle replays the EXACT recurrence: 5 cold raw iterations
    // over e1, one final max-normalize (the stored state), the hub
    // vector spliced onto e2's universe (unseen vertices 1.0), 2 raw
    // iterations over e2, one final per-family divide.
    "q_graph_hits_incremental" -> ((s, dir) => {
      val all = ringEdges(s, dir)
      val prev = cachedIncState(s, dir, "hitsinc") // stored (v, auth, hub) of v1
      GraphOps.hits(s, all, 2, warmFrom = Some(prev))
        .select(col("v"), round(col("auth"), 4).as("auth"),
          round(col("hub"), 4).as("hub"))
        .orderBy("v")
    }),
    // Warm start is DIFF-AGNOSTIC (the resume re-runs the iteration on
    // whatever the new snapshot is), so deletes ride the same recurrence:
    // e1 = the full ring (the stored scores), e2 = the bfsdel v2 algebra;
    // vertices whose every edge was deleted vanish with e2's universe.
    "q_graph_hits_incremental_del" -> ((s, dir) => {
      val (_, cur, _, _) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "hitsdel") // stored scores of v1
      GraphOps.hits(s, cur, 2, warmFrom = Some(prev))
        .select(col("v"), round(col("auth"), 4).as("auth"),
          round(col("hub"), 4).as("hub"))
        .orderBy("v")
    }),

    // Per-edge Jaccard vertex similarity over the undirected ring graph —
    // see [[GraphOps.jaccardEdges]] (wedge self-join, exact e6 fixed point).
    "q_graph_jaccard" -> ((s, dir) =>
      GraphOps.jaccardEdges(s, ringEdges(s, dir)).orderBy("a", "b")),

    // Degree assortativity (Newman's r) over the undirected ring graph:
    // the Pearson correlation of endpoint degrees across edges — the
    // hub-connectivity signal (social graphs assort positive, tech/
    // similarity graphs negative). One degree agg + one edges-with-
    // degrees join + one 5-moment reduce; every moment is an EXACT
    // integer (degree sums over 90k directed edge-ends stay far under
    // 2^63), so the hash compare pins the moments, and r itself divides
    // through one IEEE-correctly-rounded sqrt — deterministic on both
    // engines. Output: moment integers + r in e6.
    "q_graph_assortativity" -> ((s, dir) => {
      val e = ringEdges(s, dir)
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().localCheckpoint(true)
      val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val sym = und.select(col("a").as("x"), col("b").as("y"))
        .union(und.select(col("b").as("x"), col("a").as("y")))
      val pairs = sym
        .join(deg.select(col("v").as("x"), col("deg").as("dj")), Seq("x"))
        .join(deg.select(col("v").as("y"), col("deg").as("dk")), Seq("y"))
      pairs.agg(count(lit(1)).as("m"),
          sum(col("dj") * col("dk")).as("sjk"),
          sum(col("dj")).as("sj"), sum(col("dk")).as("sk"),
          sum(col("dj") * col("dj")).as("sjj"),
          sum(col("dk") * col("dk")).as("skk"))
        .select(col("m"), col("sjk"), col("sj"),
          (col("m") * col("sjk") - col("sj") * col("sk")).as("num"),
          (col("m") * col("sjj") - col("sj") * col("sj")).as("den_j"),
          (col("m") * col("skk") - col("sk") * col("sk")).as("den_k"))
        .withColumn("r_e6", round(col("num") /
          sqrt(col("den_j").cast("double") * col("den_k").cast("double")), 6))
    }),

    // Triangle counting on the undirected ring graph: canonicalize edges to
    // a<b, enumerate wedges a<b<c, close them with a semi-join. Each
    // triangle is counted exactly once; at scale this is the standard
    // degree-ordered triangle enumeration (shuffle keys = vertex ids).
    "q_graph_triangles" -> ((s, dir) => {
      val e = ringEdges(s, dir)
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val wedges = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
      val closing = und.select(col("a").as("ca"), col("b").as("cb"))
      wedges.join(closing, col("a") === col("ca") && col("c") === col("cb"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // Local clustering coefficient: per-vertex triangle membership over
    // possible neighbor pairs, lcc = 2·tri(v) / (deg·(deg−1)) in exact e6
    // fixed point. Reuses the canonical a<b<c triangle enumeration (inner
    // join instead of semi so each triangle yields its 3 member vertices);
    // all shuffle keys are vertex ids. The standard local-density signal
    // (spam/bot neighborhoods cluster; organic ones don't).
    "q_graph_lcc" -> ((s, dir) =>
      GraphOps.lcc(s, ringEdges(s, dir)).orderBy("v")),

    // INCREMENTAL LCC maintenance over the INSERT diff — the purely
    // LOCAL member of the delete-bearing family: no cascade exists
    // (a vertex's (deg, tri) changes only with an incident edge or a
    // triangle through it), so maintenance is exact triangle-delta
    // arithmetic on the delta's neighborhood, zero iterative barriers.
    // Shares the bfsinc store (v1 = ring minus the src % 97 == 1
    // out-edges, v2 = complete). Oracle: the full recompute over the
    // COMPLETE ring = the base q_graph_lcc oracle SHARED VERBATIM.
    "q_graph_lcc_incremental" -> ((s, dir) => {
      val (prev, cur, _) = snapshotInsertDiff(s, dir, "bfsinc",
        ringEdges(s, dir), col("src") % 97 =!= 1)
      val st = cachedIncState(s, dir, "lccinc")
      val out = GraphOps.incrementalLcc(s, prev, cur, st)
        .localCheckpoint(true)
      // liveness: some vertex's triangle count must change though none
      // of ITS edges did (the third corner of a created triangle) —
      // pinned distributively: tri changed but deg did not
      require(out.join(st.select(col("v"), col("deg").as("pd"),
            col("tri").as("pt")), Seq("v"))
          .filter(col("deg") === col("pd") && col("tri") =!= col("pt"))
          .limit(1).count() > 0,
        "fixture no longer demonstrates third-corner triangle creation")
      out.orderBy("v")
    }),

    // The delete-bearing twin over the kcoredel store (v1 = full ring,
    // v2 drops the src % 29 == 11 out-edges): destroyed triangles
    // subtract exactly; vertices losing their last edge vanish. Oracle:
    // the full recompute of the v2 algebra.
    "q_graph_lcc_incremental_del" -> ((s, dir) => {
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "kcoredel",
        ringEdges(s, dir), ringEdges(s, dir).filter(kcoreDelKeep))
      val st = cachedIncState(s, dir, "lccdel")
      val out = GraphOps.incrementalLcc(s, prev, cur, st)
        .localCheckpoint(true)
      require(out.join(st.select(col("v"), col("deg").as("pd"),
            col("tri").as("pt")), Seq("v"))
          .filter(col("deg") === col("pd") && col("tri") =!= col("pt"))
          .limit(1).count() > 0,
        "fixture no longer demonstrates third-corner triangle destruction")
      out.orderBy("v")
    }),

    // Degree distribution (in + out): the first profiling query a graph
    // planner runs — the histogram that decides broadcast vs shuffle and
    // flags skewed hubs. Two shuffles on vertex id, then a tiny agg.
    "q_graph_degrees" -> ((s, dir) => {
      val e = ringEdges(s, dir)
      def hist(key: String, kind: String): DataFrame =
        e.groupBy(col(key)).agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
          .withColumn("kind", lit(kind))
      hist("src", "out").union(hist("dst", "in")).orderBy("kind", "deg")
    }),

    // Weighted single-source shortest paths over the ring graph, weight =
    // 1 + (src+dst) mod 5 (deterministic, strictly positive). Frontier-
    // based Bellman-Ford (GraphOps.sssp); oracle = bounded-cost recursive
    // walk (every optimal distance ≤ 5 × BFS diameter, so the 60 cap is
    // safely above any shortest path while keeping the walk finite).
    "q_graph_sssp" -> ((s, dir) => {
      val e = ringEdges(s, dir)
        .select(col("src"), col("dst"), (lit(1) + (col("src") + col("dst")) % 5).as("w"))
      GraphOps.sssp(s, e, 0L).orderBy("v")
    }),

    // INCREMENTAL weighted-SSSP maintenance — the weighted member that
    // completes the incremental family (BFS/CC/triangles/PageRank/SSSP):
    // v1 drops every out-edge of ~1% of sources, v2 is the full weighted
    // ring graph; the delta is recovered as a commit-log snapshot diff
    // and new distances are maintained from (sssp(v1), delta) by
    // delta-seeded weighted relaxation ([[GraphOps.incrementalSssp]]) —
    // never re-solving v1. The oracle is q_graph_sssp's bounded-cost
    // recursive walk over the COMPLETE graph: the hash compare IS the
    // proof that incremental(prev, diff) == full(new_snapshot).
    "q_graph_sssp_incremental" -> ((s, dir) => {
      def weighted(e: DataFrame) = e.select(col("src"), col("dst"),
        (lit(1) + (col("src") + col("dst")) % 5).as("w"))
      val (prevEdges, newEdges, inserted) = snapshotInsertDiff(s, dir,
        "ssspinc", ringEdges(s, dir), col("src") % 97 =!= 1)
      val prev = cachedIncState(s, dir, "ssspinc") // stored (v, dist)
      GraphOps.incrementalSssp(s, weighted(newEdges), prev, weighted(inserted))
        .orderBy("v")
    }),

    // DELETION-bearing incremental SSSP — the weighted twin of
    // q_graph_bfs_incremental_del over the SAME two-version store: a
    // stored distance stays valid iff a TIGHT parent survives
    // (dist(p) + w = dist(v), p itself supported); the support cascade
    // invalidates exactly the distances the deleted edges carried, one
    // shared min-relaxation re-solves them and applies the insert
    // improvements ([[GraphOps.incrementalSsspDelete]]).
    "q_graph_sssp_incremental_del" -> ((s, dir) => {
      def weighted(e: DataFrame) = e.select(col("src"), col("dst"),
        (lit(1) + (col("src") + col("dst")) % 5).as("w"))
      val (_, cur, inserted, deleted) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "ssspdel") // stored (v, dist)
      GraphOps.incrementalSsspDelete(s, weighted(cur), prev,
        weighted(inserted), weighted(deleted))
        .orderBy("v")
    }),

    // Single-source Brandes dependency from vertex 0 — the per-source
    // slice of betweenness centrality (full betweenness = this pass summed
    // over sources, one independent pass each at scale): forward σ sweep +
    // backward δ sweep down/up the BFS DAG, the computation
    // [[GraphOps.brandesDependency]] runs for one source. Here both come
    // from the shared 5-seed caches as their seed-0 slices — the σ frame
    // from [[ringSigma]] (seed 0's slice IS the single-source σ-BFS) and
    // the deltas from [[ringDeltas]] — so the two betweenness queries pay
    // one forward and one backward loop between them. The oracle unrolls
    // both sweeps over a fixed 16-level cap (diameter is 8–12 here; empty
    // levels are no-ops on both sides).
    "q_graph_betweenness" -> ((s, dir) => {
      // seed-0 slice of the SHARED backward sweep ([[ringDeltas]]): the
      // per-seed delta recursion is independent, so the slice is exactly
      // the single-source Brandes dependency pass.
      val sig0 = ringSigma(s, dir)._2.filter(col("seed") === 0L)
        .select("v", "level", "sigma")
      sig0.join(ringDeltas(s, dir).filter(col("dseed") === 0L),
          col("v") === col("dv"), "left")
        .select(col("v"), col("level"), col("sigma"),
          round(coalesce(col("delta"), lit(0.0)), 4).as("dep"))
        .orderBy("v")
    }),

    // Sampled betweenness centrality (Brandes–Pich): Brandes' σ sweep and
    // dependency sweep run for the whole 5-seed sample in ONE batched
    // loop each, state keyed (seed, v) ([[GraphOps.multiSourceBrandes]]).
    // The per-vertex score sums δ_s(v) over the sample — s seeds cost one
    // forward + one backward pass, the batching that makes betweenness
    // sampling feasible on a big graph.
    "q_graph_betweenness_multi" -> ((s, dir) =>
      GraphOps.multiBrandesFinal(ringSigma(s, dir)._2, ringDeltas(s, dir))
        .orderBy("v")),

    // Closeness centrality for a 5-seed sample via ONE multi-source BFS
    // loop: all seeds' frontiers advance in the same superstep, keyed
    // (seed, v) — the batching that makes per-source centrality scale
    // (s sources = one loop, not s loops; at 100 TB the seed sample rides
    // a single traversal's shuffles). closeness = (reached − 1) / Σ dist,
    // in exact e6 fixed point (integer division is engine-portable where
    // ROUND(double) is not). Levels come from the shared 5-seed σ-BFS
    // cache ([[ringSigma]], [[GraphOps.multiSourceBfsSigma]]): σ-BFS
    // levels ARE multi-source BFS levels (the σ column just rides along;
    // GraphSpec pins them to per-seed bfsLevels), so closeness,
    // eccentricity, and both betweenness queries pay ONE forward
    // traversal per process between the four of them.
    "q_graph_closeness" -> ((s, dir) =>
      ringSigma(s, dir)._2
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"), sum("level").as("total_dist"))
        .withColumn("closeness_e6",
          expr("((n_reached - 1) * 1000000) div total_dist"))
        .orderBy("seed")),

    // Harmonic centrality over the SAME seed sample — the
    // disconnected-graph-robust closeness variant (unreachable vertices
    // contribute 0 instead of poisoning the mean, so it needs no
    // reachability normalization): harmonic(s) = Σ_{v≠s} 1/d(s,v). FIFTH
    // consumer of the shared σ-BFS cache — the marginal cost of another
    // centrality over an already-paid traversal is one aggregation, the
    // whole point of the multi-source batching. Per-term 1/d is taken in
    // exact integer micro-units (1000000 div d) before the sum, so the
    // result is engine-portable integer arithmetic end-to-end (a double
    // Σ1/d would flicker in the last ulp across summation orders).
    "q_graph_harmonic" -> ((s, dir) =>
      ringSigma(s, dir)._2
        .filter(col("level") > 0)
        .groupBy("seed")
        .agg(sum(expr("1000000 div level")).as("harmonic_e6"),
          count(lit(1)).as("n_reached"))
        .orderBy("seed")),

    // Eccentricity / diameter estimation — the iterative-doubling
    // alternative no one runs at scale is all-pairs; the practice
    // (iFUB-style) is exact per-seed eccentricity over a seed sample,
    // whose max lower-bounds the graph diameter. Rides the SAME batched
    // multi-source BFS as closeness (all seeds advance per superstep,
    // state keyed (seed, v)) — the sample costs one traversal of depth =
    // max eccentricity. diam_lb is a single-row max over the #seeds
    // frame, window-free via cross join.
    "q_graph_ecc" -> ((s, dir) => {
      val ecc = ringSigma(s, dir)._2 // shared forward traversal (see closeness)
        .groupBy("seed")
        .agg(max("level").cast("long").as("ecc"),
          count(lit(1)).as("n_reached"))
        .localCheckpoint(true) // feeds the per-seed rows AND the max
      // the BFS-walk oracles (this one, closeness) unroll to `lvl < 40`;
      // ecc is the ONE output the cap would clip, so a regenerated deeper
      // fixture must fail loudly here, not drift past the oracle's bound
      // (same discipline as ringSigma's 16-level assert)
      val maxEcc = ecc.agg(max("ecc")).head.getLong(0)
      require(maxEcc < 40,
        s"fixture eccentricity $maxEcc reaches the oracle's 40-level unroll cap")
      ecc.crossJoin(ecc.agg(max("ecc").as("diam_lb")))
        .orderBy("seed")
    }),

    // DOUBLE-SWEEP diameter estimation (Magnien–Latapy–Habib): one BFS
    // from a fixed start gives ecc(start) — already a lower bound — then
    // a second sweep FROM THE FARTHEST VERTEX tightens it; on most real
    // graph families the double sweep is exact or near-exact at the cost
    // of TWO traversals instead of the all-pairs sweep an exact diameter
    // needs (the 100 TB argument: |V| BFS runs are never happening).
    // Sweep 1 is FREE here — the seed-0 slice of the shared σ-BFS cache;
    // sweep 2 is one bfsLevels run seeded by a deterministic far-vertex
    // choice (min id among the deepest level; the two max/min reads are
    // metadata-sized scalars, same discipline as q_graph_ecc's cap
    // check). Emits the probe trace, not just the bound, so the oracle
    // pins the far-vertex CHOICE too.
    "q_graph_diameter" -> ((s, dir) => {
      val (ed, sig) = ringSigma(s, dir)
      val l1 = sig.filter(col("seed") === 0L).select(col("v"), col("level"))
        .localCheckpoint(true) // feeds the two scalar reads
      val e1 = l1.agg(max("level")).head.getInt(0)
      val far = l1.filter(col("level") === e1).agg(min("v")).head.getLong(0)
      GraphOps.bfsLevels(s, ed, far)
        .agg(max(col("level")).as("lvl"))
        .select(lit(0L).as("start_v"), lit(e1).as("ecc_start"),
          lit(far).as("far_v"), col("lvl").cast("int").as("diameter_lb"))
    }),

    // Deterministic random-walk sampling (the node2vec/DeepWalk corpus
    // generator): one walk per seed, 4 steps; the "random" next hop is
    // the out-neighbor minimizing the portable hash of
    // (seed, step, src, dst) — seedless, reproducible on any engine, and
    // parallel over walks (each step is ONE edges join + one per-walk
    // argmin; a million concurrent walks ride the same join, keyed by
    // walk id). This is the graph → sequence-training-data bridge: walk
    // rows are the sentences an embedding pipeline feeds downstream.
    "q_graph_walks" -> ((s, dir) => {
      val edges = ringEdges(s, dir).distinct().localCheckpoint(true)
      import s.implicits._
      var cur: DataFrame = closenessSeeds.map(sd => (sd, 0, sd))
        .toDF("seed", "step", "v")
      val rows = Seq.newBuilder[DataFrame]
      rows += cur
      for (st <- 1 to walkSteps) {
        val w = Window.partitionBy("seed").orderBy(col("h"), col("dst"))
        cur = cur.join(edges, col("v") === col("src"))
          .select(col("seed"), lit(st).as("step"), col("dst"),
            graft.functions.PortableHash.hash60(
              concat_ws("-", col("seed"), lit(st), col("src"), col("dst")))
              .as("h"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("seed"), col("step"), col("dst").as("v"))
          .localCheckpoint(true) // feeds this step's output AND the next join
        rows += cur
      }
      rows.result().reduce(_ unionByName _).orderBy("seed", "step")
    }),

    // Directed-graph reciprocity — the mutual-link fraction (social-graph
    // health metric; a crawl with near-zero reciprocity is a DAG-ish link
    // farm, near-one is a friendship graph): |{(u,v) : (v,u) also an
    // edge}| / |E| over the distinct non-loop ring edges, via ONE
    // left-semi self-join on the reversed key — never a cartesian; exact
    // e6 fixed point. Also reports the mutual and total edge counts.
    "q_graph_reciprocity" -> ((s, dir) => {
      val e = ringEdges(s, dir).filter(col("src") =!= col("dst"))
        .distinct().localCheckpoint(true) // feeds both sides + the total
      val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      mutual.agg(count(lit(1)).as("n_mutual"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(col("n_mutual"), col("n_edges"),
          expr("n_mutual * 1000000 div n_edges").as("reciprocity_e6"))
    }),

    // Connected components over the hierarchy graph: 1 per region.
    "q_graph_cc" -> ((s, dir) =>
      GraphOps.connectedComponents(s, hierEdges(s, dir))
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")),

    // The same components computed with the size gate FORCED to the
    // distributed BSP min-label loop (driverSolveLimit = 0) — the path a
    // genuinely huge pair graph takes at 100 TB. Kept as a first-class
    // oracled query so the BSP loop's cost shows up in every bench run
    // (the r4 bench only ever measured the driver union-find side of the
    // gate) and its equality with the driver solve is re-proven on real
    // data each round, not just in GraphSpec.
    "q_graph_cc_bsp" -> ((s, dir) =>
      GraphOps.connectedComponents(s, hierEdges(s, dir), driverSolveLimit = 0L)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")),

    // Deterministic MAXIMAL INDEPENDENT SET over the undirected ring
    // graph — Luby's min-priority rounds under a fixed injective LCG
    // priority, so the parallel fixpoint equals the sequential greedy MIS
    // and both the membership AND the selection round are deterministic
    // ([[GraphOps.maximalIndependentSet]]). The oracle replays the
    // identical rounds as a fixed-depth CTE chain (rounds past
    // convergence are empty no-ops; the Spark side require()s convergence
    // within the same cap). The rounds are one superstep program with two
    // executors: q_graph_mis benches the size-gated in-memory executor;
    // q_graph_mis_bsp forces the distributed one — the 100 TB path — per
    // the q_graph_cc_bsp discipline.
    "q_graph_mis" -> ((s, dir) =>
      GraphOps.maximalIndependentSet(s, ringEdges(s, dir)).orderBy("v")),
    "q_graph_mis_bsp" -> ((s, dir) =>
      GraphOps.maximalIndependentSet(s, ringEdges(s, dir), driverSolveLimit = 0L)
        .orderBy("v")),

    // INCREMENTAL MIS maintenance — the symmetry-breaking member of the
    // incremental family ([[GraphOps.incrementalMaximalIndependentSet]]):
    // v1 drops the ring edges whose endpoints BOTH sit in the top
    // priority-value decile (a low-priority-band delta — its downstream
    // dependency cone is shallow by construction, the locality a real
    // ingest batch usually has), v2 restores them; the new MIS is
    // maintained from (MIS(v1), diff) by replaying decisions inside the
    // cone only, old memberships reused verbatim outside it —
    // maxConeFraction = 0.5 require()s the scoping stays real. The
    // oracle is the FULL new graph's round replay (membership
    // projection): the hash compare IS the proof that
    // scoped(state, diff) == full(new_snapshot).
    "q_graph_mis_incremental" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) =
        snapshotInsertDiff(s, dir, "misinc", ringEdges(s, dir), !lowBandHeldEdge)
      val prevMis = cachedIncState(s, dir, "misinc") // stored MIS
      GraphOps.incrementalMaximalIndependentSet(s, newEdges, prevEdges,
        prevMis, inserted, maxConeFraction = 0.5).orderBy("v")
    }),
    // TOTAL-FALLBACK twin (r11 weak mark): identical fixture and oracle,
    // with the gather PAIR budget forced to 0 so the maintainer routes to
    // the full distributed operator instead of the driver gather — the
    // fallback path is thereby DuckDB-verified end-to-end on real data at
    // every scale the driver compares, not just in spec fixtures.
    "q_graph_mis_incremental_fallback" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) =
        snapshotInsertDiff(s, dir, "misinc", ringEdges(s, dir), !lowBandHeldEdge)
      val prevMis = cachedIncState(s, dir, "misinc")
      GraphOps.incrementalMaximalIndependentSet(s, newEdges, prevEdges,
        prevMis, inserted, coneGatherPairLimit = 0L).orderBy("v")
    }),

    // INCREMENTAL coloring maintenance — the coloring twin over the SAME
    // dependency cone ([[GraphOps.incrementalColoring]]): old colors are
    // reused verbatim outside the cone, the greedy mex replays inside it
    // seeded by the boundary colors. Same fixture/delta/scoping contract
    // as q_graph_mis_incremental; the oracle is the FULL new graph's
    // round replay projected to (v, color).
    "q_graph_coloring_incremental" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) =
        snapshotInsertDiff(s, dir, "colinc", ringEdges(s, dir), !lowBandHeldEdge)
      val prevColors = cachedIncState(s, dir, "colinc") // stored colors
      GraphOps.incrementalColoring(s, newEdges, prevEdges, prevColors,
        inserted, maxConeFraction = 0.5).orderBy("v")
    }),
    // total-fallback twin — see q_graph_mis_incremental_fallback
    "q_graph_coloring_incremental_fallback" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) =
        snapshotInsertDiff(s, dir, "colinc", ringEdges(s, dir), !lowBandHeldEdge)
      val prevColors = cachedIncState(s, dir, "colinc")
      GraphOps.incrementalColoring(s, newEdges, prevEdges, prevColors,
        inserted, coneGatherPairLimit = 0L).orderBy("v")
    }),

    // DELETION-bearing symmetry-breaking maintenance — the EXACT INVERSE
    // of the insert fixtures (v1 = full ring, v2 = ring minus the
    // low-priority band): a deleted dependency changes the same vertex an
    // inserted one does (the later-deciding endpoint), so the SAME
    // conservative hp-cone serves both diff sides and the replay simply
    // never sees the deleted edges ([[GraphOps
    // .incrementalMaximalIndependentSetDelete]]). One shared two-version
    // store ("sbdel") serves both queries; oracles are the full
    // round replays over the v2 edge algebra.
    "q_graph_mis_incremental_del" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted, deleted) = snapshotDeleteDiff(
        s, dir, "sbdel", ringEdges(s, dir),
        ringEdges(s, dir).filter(!lowBandHeldEdge))
      val prevMis = cachedIncState(s, dir, "misdel") // stored MIS of v1
      GraphOps.incrementalMaximalIndependentSetDelete(s, newEdges, prevEdges,
        prevMis, inserted, deleted, maxConeFraction = 0.5).orderBy("v")
    }),
    "q_graph_coloring_incremental_del" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted, deleted) = snapshotDeleteDiff(
        s, dir, "sbdel", ringEdges(s, dir),
        ringEdges(s, dir).filter(!lowBandHeldEdge))
      val prevColors = cachedIncState(s, dir, "coldel") // stored colors of v1
      GraphOps.incrementalColoringDelete(s, newEdges, prevEdges, prevColors,
        inserted, deleted, maxConeFraction = 0.5).orderBy("v")
    }),

    // JONES–PLASSMANN greedy coloring over the same fixture — the second
    // symmetry-breaking primitive ([[GraphOps.jonesPlassmannColoring]]):
    // color = mex over higher-priority neighbors' colors, equal to the
    // sequential greedy coloring in priority order; round = depth in the
    // priority-decreasing dependency DAG. Same discipline as q_graph_mis:
    // one superstep program, the in-memory executor below the size gate,
    // the distributed one in the _bsp twin, one oracle for both.
    "q_graph_coloring" -> ((s, dir) =>
      GraphOps.jonesPlassmannColoring(s, ringEdges(s, dir)).orderBy("v")),
    // forced past the gate: every round, the geometric tail included, is
    // one RDD superstep (one Spark job) — see the scaladoc's cost note
    "q_graph_coloring_bsp" -> ((s, dir) =>
      GraphOps.jonesPlassmannColoring(s, ringEdges(s, dir), driverSolveLimit = 0L)
        .orderBy("v")),
    // SPECULATIVE coloring (Gebremedhin–Manne), forced-BSP like the other
    // _bsp twins: 7 conflict-resolution rounds replace JP's 23 depth-bound
    // levels (measured — the r8 stretch item); proper but intentionally
    // NOT the sequential-greedy coloring (q_graph_coloring keeps that
    // contract). The oracle replays the identical tentative/conflict/
    // commit rounds, so membership, colors, AND commit rounds all hash.
    "q_graph_coloring_spec" -> ((s, dir) =>
      GraphOps.speculativeColoring(s, ringEdges(s, dir), driverSolveLimit = 0L)
        .orderBy("v")),

    // HUB-bearing coloring family (r9 VERDICT #1): the ring fixture plus
    // a 250-spoke star on vertex 0 — the power-law degree shape the r9
    // bitmask mex REFUSED (`require(maxDeg < 63)`). Forced-BSP so the
    // superstep mex runs: each vertex's received-color set is combined
    // from its neighbors' messages, sized by the colors, not the degree;
    // oracles are the identical JP/GM round replays over the hub edge
    // algebra.
    "q_graph_coloring_hub" -> ((s, dir) =>
      GraphOps.jonesPlassmannColoring(s, hubEdges(s, dir), driverSolveLimit = 0L)
        .orderBy("v")),
    "q_graph_coloring_spec_hub" -> ((s, dir) =>
      GraphOps.speculativeColoring(s, hubEdges(s, dir), driverSolveLimit = 0L)
        .orderBy("v")),
    // incremental maintenance on the hub fixture — the same low-band
    // delta/cone contract as q_graph_coloring_incremental{,_del}; the
    // hub sits in the reused-verbatim region, so the maintainers prove
    // the r9 refusal is gone on BOTH the replay and the reuse paths
    "q_graph_coloring_hub_incremental" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) = snapshotInsertDiff(
        s, dir, "colhubinc", hubEdges(s, dir), !lowBandHeldEdge)
      val prevColors = cachedIncState(s, dir, "colhubinc") // stored colors
      GraphOps.incrementalColoring(s, newEdges, prevEdges, prevColors,
        inserted, maxConeFraction = 0.5).orderBy("v")
    }),
    "q_graph_coloring_hub_incremental_del" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted, deleted) = snapshotDeleteDiff(
        s, dir, "hubdel", hubEdges(s, dir),
        hubEdges(s, dir).filter(!lowBandHeldEdge))
      val prevColors = cachedIncState(s, dir, "colhubdel") // colors of v1
      GraphOps.incrementalColoringDelete(s, newEdges, prevEdges, prevColors,
        inserted, deleted, maxConeFraction = 0.5).orderBy("v")
    }),

    // INCREMENTAL CC maintenance end-to-end (r7 VERDICT stretch): the
    // hierarchy graph is committed to the VersionedGraphStore in two
    // versions — v1 holds every edge EXCEPT those touching held-out
    // customers (c_custkey % 97 == 0, ~1% of vertices), v2 the full
    // graph — the INSERTED delta is recovered as a snapshot diff
    // (v2 ∖ v1, the q_graph_store_diff read), and the new component
    // state is maintained from (CC(v1), delta) via the CONTRACTED
    // component graph ([[GraphOps.incrementalConnectedComponents]]) —
    // never re-traversing v1. The oracle is q_graph_cc's full recursive
    // CTE over the COMPLETE graph: the hash compare IS the proof that
    // incremental(prev_state, diff) == full(new_snapshot). At scale prev
    // state is a stored table and the maintenance cost is sized by the
    // delta; here both stages run live in one query.
    "q_graph_cc_incremental" -> ((s, dir) => {
      val (_, _, inserted) = snapshotInsertDiff(s, dir, "ccinc",
        hierEdges(s, dir), !ccHeldEdge)
      val prevState = cachedIncState(s, dir, "ccinc") // stored (v, comp)
      GraphOps.incrementalConnectedComponents(s, prevState, inserted)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")
    }),

    // DELETION-bearing incremental CC maintenance (r8 VERDICT #7 — real
    // CDC streams delete, and until now every maintainer was insert-only):
    // v1 is the full hierarchy graph, v2 deletes region 4's nation↔region
    // edges (splitting its component into per-nation stars and VANISHING
    // the isolated region node) and inserts two merges (region0↔region1,
    // lowest-region-4-nation↔region3). The maintainer recomputes ONLY the
    // delete-affected components' subgraph plus the contracted insert
    // glue ([[GraphOps.incrementalConnectedComponentsDelete]]); the
    // oracle is the full recursive CTE over v2 — the hash compare IS the
    // proof that incremental(prev, diff+, diff-) == full(new snapshot).
    "q_graph_cc_incremental_del" -> ((s, dir) => {
      val (_, cur, inserted, deleted) = snapshotDeleteDiff(s, dir, "ccdel",
        hierEdges(s, dir), ccDelV2(s, dir))
      val prevState = cachedIncState(s, dir, "ccdel") // stored (v, comp)
      GraphOps.incrementalConnectedComponentsDelete(s, cur, prevState,
          inserted, deleted)
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("comp")
    }),

    // INCREMENTAL BFS-level maintenance end-to-end — the traversal analog
    // of q_graph_cc_incremental: the ring graph is committed to the
    // VersionedGraphStore in two versions — v1 missing every out-edge of
    // held-out vertices (src % 97 == 1, ~1% of V; dropping whole out-
    // neighborhoods forces real level DEGRADATION in v1, so re-inserting
    // them cascades improvements several hops deep), v2 the full graph —
    // the inserted delta is recovered as a snapshot diff, and the new
    // levels are maintained from (bfsLevels(v1), delta) by delta-seeded
    // relaxation ([[GraphOps.incrementalBfsLevels]]) — never re-traversing
    // v1. The oracle is q_graph_bfs's full recursive CTE over the COMPLETE
    // graph: the hash compare IS the proof that incremental(prev, diff) ==
    // full(new_snapshot).
    "q_graph_bfs_incremental" -> ((s, dir) => {
      val (prevEdges, newEdges, inserted) = snapshotInsertDiff(s, dir,
        "bfsinc", ringEdges(s, dir), col("src") % 97 =!= 1)
      val prev = cachedIncState(s, dir, "bfsinc") // stored (v, level) table
      GraphOps.incrementalBfsLevels(s, newEdges, prev, inserted)
        .orderBy("v")
    }),

    // DELETION-bearing incremental BFS maintenance — the traversal twin
    // of q_graph_cc_incremental_del: v2 drops every out-edge of vertices
    // with src % 13 == 5 (~8% of the ring — raising 44/627 stored levels
    // at sf0.01/0.1 and disconnecting 3 vertices, both measured) and
    // inserts two seed-adjacent shortcuts (lowering hundreds more). The
    // maintainer invalidates ONLY the support-chain cascade of the
    // deleted edges (delta-scoped waves), then one shared min-relaxation
    // re-levels the unsettled region and applies the insert improvements
    // ([[GraphOps.incrementalBfsLevelsDelete]]); the oracle walks the v2
    // edge algebra from scratch.
    "q_graph_bfs_incremental_del" -> ((s, dir) => {
      val (_, cur, inserted, deleted) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      val prev = cachedIncState(s, dir, "bfsdel") // stored (v, level) table
      GraphOps.incrementalBfsLevelsDelete(s, cur, prev, inserted, deleted)
        .orderBy("v")
    }),

    // INCREMENTAL sampled-betweenness maintenance — the warm re-sweep
    // SCOPED TO AFFECTED SEEDS (the r8-seeded design: no exact
    // state+delta algebra exists for Brandes, so the honest maintenance
    // step re-sweeps only the seeds whose shortest-path DAG the delta can
    // touch). Fixture: the hierarchy graph (5 components, one per
    // region), seeds = the 5 region vertices; v1 drops the nation edges
    // of ~9% of customers in regions 0–1 only, v2 restores them. Stored
    // state from v1 = the per-(seed, v) σ frame + Brandes deltas. A seed
    // s is UNAFFECTED by inserted edge (u, w) iff level_s(u)+1 >
    // level_s(w) (∞ when unreachable): no shortest path from s can use
    // the edge, so s's DAG — hence its σ and δ — is bit-identical and
    // the stored slice is reused VERBATIM; affected seeds re-run the
    // batched forward+backward sweep on the new graph (cost ∝ affected
    // seeds, not the seed sample). By construction seeds 2–4 are
    // unaffected — require()d loudly, so a fixture drift that degrades
    // this to a full recompute fails instead of silently passing. The
    // oracle is the FULL 5-seed Brandes readout over the complete graph:
    // the hash compare IS the proof that scoped(state, diff) ==
    // full(new_snapshot).
    "q_graph_betweenness_incremental" -> ((s, dir) => {
      val sw = scopedSeedSweep(s, dir)
      val delPrev = cachedIncState(s, dir, "centinc_del") // stored deltas
      val delNew = GraphOps.multiBrandesDeltas(s, sw.edNew, sw.sigNew)
      val delAll = delNew.unionByName(
        delPrev.filter(col("dseed").isin(sw.reuse: _*)))
      GraphOps.multiBrandesFinal(sw.sigAll, delAll).orderBy("v")
    }),

    // INCREMENTAL closeness — the second consumer of the affected-seed
    // gate: the same scoped forward re-sweep (no backward pass needed),
    // then the q_graph_closeness readout over reused-plus-recomputed
    // σ frames. Demonstrates that the gate amortizes across EVERY
    // σ-cache centrality: once the affected set is known, each
    // additional maintained metric costs only its readout. Oracle =
    // closed-form closeness of the COMPLETE hierarchy graph (seed r
    // reaches its nations at distance 1, their customers at 2).
    "q_graph_closeness_incremental" -> ((s, dir) => {
      val sw = scopedSeedSweep(s, dir)
      sw.sigAll.groupBy("seed")
        .agg(count(lit(1)).as("n_reached"), sum("level").as("total_dist"))
        .withColumn("closeness_e6",
          expr("((n_reached - 1) * 1000000) div total_dist"))
        .orderBy("seed")
    }),

    // DELETE-bearing incremental centralities — the inverted fixture
    // (v1 = full hierarchy, v2 = the held graph) through the SAME
    // affected-seed gate ([[scopedSeedSweepDelete]]): a deleted edge
    // affects a seed iff it was TIGHT in that seed's stored DAG, which
    // for an edge that existed in v1 is the insert gate's exact
    // expression. Seeds 2–4 provably reuse their stored σ/δ verbatim
    // (require()d); the oracles recompute the HELD graph closed-form.
    "q_graph_betweenness_incremental_del" -> ((s, dir) => {
      val sw = scopedSeedSweepDelete(s, dir)
      val delPrev = cachedIncState(s, dir, "centdel_del") // stored deltas
      val delNew = GraphOps.multiBrandesDeltas(s, sw.edNew, sw.sigNew)
      val delAll = delNew.unionByName(
        delPrev.filter(col("dseed").isin(sw.reuse: _*)))
      GraphOps.multiBrandesFinal(sw.sigAll, delAll).orderBy("v")
    }),
    "q_graph_closeness_incremental_del" -> ((s, dir) => {
      val sw = scopedSeedSweepDelete(s, dir)
      sw.sigAll.groupBy("seed")
        .agg(count(lit(1)).as("n_reached"), sum("level").as("total_dist"))
        .withColumn("closeness_e6",
          expr("((n_reached - 1) * 1000000) div total_dist"))
        .orderBy("seed")
    }),

    // INCREMENTAL triangle-count maintenance — the motif-family consumer
    // of the commit-log store's snapshot diffs: v1 drops every out-edge
    // of ~1% of sources, v2 is the full ring graph; the previous
    // snapshot's triangle total (the stored counter a maintenance
    // pipeline keeps) is advanced by counting ONLY the distinct triangles
    // through the inserted canonical edges ([[GraphOps.triangleDelta]] —
    // delta-probe joins against the full adjacency, never a re-
    // enumeration). The oracle is q_graph_triangles' full wedge count
    // over the COMPLETE graph: the hash compare IS the proof that
    // prev_total + delta == full(new_snapshot).
    "q_graph_triangles_incremental" -> ((s, dir) => {
      val (prevRaw, newRaw, _) = snapshotInsertDiff(s, dir, "triinc",
        ringEdges(s, dir), col("src") % 97 =!= 1)
      def und(e: DataFrame) = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val undPrev = und(prevRaw).localCheckpoint(true)
      val undFull = und(newRaw).localCheckpoint(true)
      // a directed insert whose reverse already existed is not a new
      // canonical edge — diff at the canonical level, per triangleDelta's
      // contract
      val insertedCanon = undFull.join(undPrev, Seq("a", "b"), "left_anti")
      // stored state: the previous snapshot's triangle COUNTER
      val prevTotal = cachedIncState(s, dir, "triinc")
      val delta = GraphOps.triangleDelta(undFull, insertedCanon)
        .agg(count(lit(1)).as("d"))
      prevTotal.crossJoin(delta)
        .select((col("prev") + col("d")).as("n_triangles"))
    }),

    // DELETION-bearing incremental triangle maintenance — pure set
    // algebra, no cascade: a triangle of the new snapshot that is NOT in
    // the old one must use an inserted edge (all its edges live in v2),
    // and a vanished triangle must use a deleted edge (all its edges
    // lived in v1); triangles in BOTH touch neither diff side. So
    // new = prev + |tri(v2) ∋ ins| − |tri(v1) ∋ del| — two delta-probe
    // wedge joins ([[GraphOps.triangleDelta]] against each snapshot's
    // adjacency), never a re-enumeration. Shares the bfsdel two-version
    // store (one staging serves both maintainers); the oracle counts v2's
    // triangles from scratch.
    "q_graph_triangles_incremental_del" -> ((s, dir) => {
      val (prevRaw, newRaw, _, _) = snapshotDeleteDiff(s, dir, "bfsdel",
        ringEdges(s, dir), bfsDelV2(s, dir))
      def und(e: DataFrame) = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val undPrev = und(prevRaw).localCheckpoint(true)
      val undFull = und(newRaw).localCheckpoint(true)
      // diff at the canonical level (triangleDelta's contract): a
      // directed change whose reverse survives is not a canonical change
      val insertedCanon = undFull.join(undPrev, Seq("a", "b"), "left_anti")
      val deletedCanon = undPrev.join(undFull, Seq("a", "b"), "left_anti")
      val prevTotal = cachedIncState(s, dir, "tridel")
      val added = GraphOps.triangleDelta(undFull, insertedCanon)
        .agg(count(lit(1)).as("ad"))
      val removed = GraphOps.triangleDelta(undPrev, deletedCanon)
        .agg(count(lit(1)).as("rm"))
      prevTotal.crossJoin(added).crossJoin(removed)
        .select((col("prev") + col("ad") - col("rm")).as("n_triangles"))
    }),

    // Minimum-spanning-forest construction — 2 bounded Borůvka rounds
    // over the canonical undirected ring graph with deterministic
    // 1..7 weights ([[GraphOps.boruvka]]): per round every component
    // picks its minimum incident outgoing edge (lexicographic (w, a, b)
    // tie-break, so the choice is engine-portable) and contracts through
    // the chosen set. Bounded rounds = the q_graph_kcore fixed-unroll
    // discipline, which lets the oracle replay the identical per-round
    // choices; GraphSpec separately runs rounds to convergence and pins
    // the forest weight against in-memory Kruskal.
    "q_graph_msf" -> ((s, dir) => {
      val (_, chosen) = GraphOps.boruvka(s, msfUnd(ringEdges(s, dir)), 2)
      chosen.orderBy("round", "a", "b")
    }),

    // INCREMENTAL MSF maintenance over the INSERT diff (bfsinc store:
    // v1 = ring minus the src % 97 == 1 out-edges, v2 = complete) — the
    // contraction property of the unique lexicographic MSF
    // ([[GraphOps.incrementalMsf]]): candidates = stored forest ∪
    // inserted ∪ cross-fragment edges; the full edge set is scanned ONCE
    // for the cross set, never fed to the Borůvka rounds. Oracle: the
    // complete ring's per-round Borůvka replay, round column dropped
    // (the maintainer's round numbering is algorithm-path-dependent; the
    // forest SET is unique).
    "q_graph_msf_incremental" -> ((s, dir) => {
      val (prev, cur, ins) = snapshotInsertDiff(s, dir, "bfsinc",
        ringEdges(s, dir), col("src") % 97 =!= 1)
      val st = cachedIncState(s, dir, "msfinc")
      val insU = msfUnd(ins).join(msfUnd(prev).select("a", "b"),
        Seq("a", "b"), "left_anti")
      val out = GraphOps.incrementalMsf(s, msfUnd(cur), st, insU,
        insU.limit(0)).localCheckpoint(true)
      // liveness: some inserted edge must DISPLACE a surviving stored
      // forest edge (the swap path — else the query only tests gluing)
      require(st.join(out.select(col("a").as("xa"), col("b").as("xb")),
          col("a") === col("xa") && col("b") === col("xb"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates a forest swap (no stored edge displaced)")
      out.orderBy("a", "b")
    }),

    // The delete-bearing twin (kcoredel store: v2 drops the src % 29 ==
    // 11 out-edges): deleted forest edges split fragments; replacement
    // edges are found among the cross-fragment survivors by the same one
    // edge-scan + Borůvka-over-candidates. Oracle: the v2 algebra's
    // Borůvka replay, round-less.
    "q_graph_msf_incremental_del" -> ((s, dir) => {
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "kcoredel",
        ringEdges(s, dir), ringEdges(s, dir).filter(kcoreDelKeep))
      val st = cachedIncState(s, dir, "msfdel")
      val delU = msfUnd(prev).join(msfUnd(cur).select("a", "b"),
        Seq("a", "b"), "left_anti")
      val out = GraphOps.incrementalMsf(s, msfUnd(cur), st,
        delU.limit(0), delU).localCheckpoint(true)
      // liveness: some REPLACEMENT edge (not in the stored forest) must
      // enter — else the query only tests subtraction
      require(out.join(st.select(col("a").as("xa"), col("b").as("xb")),
          col("a") === col("xa") && col("b") === col("xb"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates a cut replacement (no new forest edge)")
      out.orderBy("a", "b")
    }),

    // Forced-BSP twins of the MSF maintainers (the kcore/ktruss twin
    // discipline, r12 VERDICT #2 — the one maintainer family whose >gate
    // path was spec-pinned but never benched/oracled on real data): the
    // family gate forced to 0 keeps the distributed candidate algebra —
    // fragment CC over F∖D, the ONE full-edge scan for cross-fragment X,
    // and the Borůvka-over-candidates contraction loop — benched and
    // re-oracled on real data every round. Oracle shared VERBATIM with
    // the gated twins (lexicographic-MSF uniqueness makes the result
    // algorithm-path-independent).
    "q_graph_msf_incremental_bsp" -> ((s, dir) => {
      val (prev, cur, ins) = snapshotInsertDiff(s, dir, "bfsinc",
        ringEdges(s, dir), col("src") % 97 =!= 1)
      val st = cachedIncState(s, dir, "msfinc")
      val insU = msfUnd(ins).join(msfUnd(prev).select("a", "b"),
        Seq("a", "b"), "left_anti")
      GraphOps.incrementalMsf(s, msfUnd(cur), st, insU, insU.limit(0),
        driverSolveLimit = 0L).orderBy("a", "b")
    }),
    "q_graph_msf_incremental_del_bsp" -> ((s, dir) => {
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "kcoredel",
        ringEdges(s, dir), ringEdges(s, dir).filter(kcoreDelKeep))
      val st = cachedIncState(s, dir, "msfdel")
      val delU = msfUnd(prev).join(msfUnd(cur).select("a", "b"),
        Seq("a", "b"), "left_anti")
      GraphOps.incrementalMsf(s, msfUnd(cur), st, delU.limit(0), delU,
        driverSolveLimit = 0L).orderBy("a", "b")
    }),

    // DIRECTED strongly connected components (coloring FW-BW rounds,
    // [[GraphOps.stronglyConnectedComponents]]) over the block-cycle
    // graph: one row per component. The oracle is an honest
    // mutual-reachability transitive closure — it knows nothing about the
    // construction, so a wrong component merge/split fails the compare.
    "q_graph_scc" -> ((s, dir) =>
      GraphOps.stronglyConnectedComponents(s, sccEdges(s, dir))
        .groupBy("scc")
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"))
        .orderBy("scc")),

    // k-core decomposition (k=4) of the undirected ring graph by
    // synchronous peeling: each round recomputes every surviving vertex's
    // degree among surviving vertices and drops those below k. Fixed
    // 8 rounds (not peel-to-convergence) so the DuckDB oracle unrolls the
    // identical recurrence; rounds after the fixpoint are no-ops and the
    // fixpoint itself is asserted in GraphSpec (the cascade needs 5 rounds
    // at sf0.1, 3 at sf0.01). Output = the core's
    // vertices with their in-core degree. Scale shape: one vertex-partitioned
    // adjacency built once; each round is a narrow survivor ⋈ adjacency and
    // one message shuffle on vertex id — the BSP peel, never a driver collect.
    "q_graph_kcore" -> ((s, dir) =>
      GraphOps.kcorePeel(s, ringEdges(s, dir), kcoreK, kcoreRounds)
        .orderBy("v")),

    // INCREMENTAL k-core maintenance over the INSERT diff (r10 VERDICT
    // #2 — the degeneracy family's first maintainer): the stored state is
    // v1's k-core (v, deg); v2 restores the held-out ~1% of ring edges
    // (the bfsinc fixture, store shared). Inserts only ADD members, so
    // [[GraphOps.incrementalKCore]] grows a delta-seeded candidate region
    // through non-core vertices with full-degree ≥ k and peels it against
    // the FROZEN core — work ∝ candidates, never the graph. The oracle is
    // the full 8-round peel of v2 = the COMPLETE ring, i.e. the base
    // q_graph_kcore oracle SHARED VERBATIM — a wrong candidate closure or
    // a stale reused degree fails the hash compare. GraphSpec additionally
    // pins (at sf0.01) that ≥1 joiner is NOT an inserted-edge endpoint —
    // the cascade genuinely propagates past the delta.
    "q_graph_kcore_incremental" -> ((s, dir) => {
      val (prev, cur, _) = snapshotInsertDiff(s, dir, "bfsinc",
        ringEdges(s, dir), col("src") % 97 =!= 1)
      val st = cachedIncState(s, dir, "kcoreinc")
      val out = GraphOps.incrementalKCore(s, prev, cur, st, kcoreK)
        .localCheckpoint(true) // feeds the liveness count AND the readout
      // fixture liveness, delta-sized: the insert delta must actually
      // pull somebody INTO the core, else the query proves nothing
      require(out.join(st.select("v"), Seq("v"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates k-core growth (no vertex joined)")
      out.orderBy("v")
    }),

    // The delete-bearing twin: v2 drops every out-edge of ring vertices
    // with src % 29 == 11 (~3.4% of raw edges; measured on the fixture:
    // 23 evictions at sf0.01 / 188 at sf0.1, of which 5 / 9 are NOT
    // endpoints of any deleted edge — the eviction cascade provably
    // propagates past the delta). The maintainer re-checks in-core
    // degrees outward from deleted-edge endpoints, the supportCascade
    // wave shape applied to degeneracy. Oracle: the full peel of the v2
    // algebra, unrolled two rounds past the measured fixpoint.
    "q_graph_kcore_incremental_del" -> ((s, dir) => {
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "kcoredel",
        ringEdges(s, dir), ringEdges(s, dir).filter(kcoreDelKeep))
      val st = cachedIncState(s, dir, "kcoredel")
      val out = GraphOps.incrementalKCore(s, prev, cur, st, kcoreK)
        .localCheckpoint(true)
      require(st.join(out.select("v"), Seq("v"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates k-core eviction (nobody left)")
      out.orderBy("v")
    }),

    // The same delete-bearing k-core maintenance with the family's
    // driver gate FORCED off (the dagdel-BSP precedent, r11 VERDICT #2):
    // since the r11 driver-solve the benched production query takes the
    // driver worklist at every test scale, so this twin keeps the
    // >gate candidate-wave/frozen-peel/eviction BSP loops — the 100 TB
    // path — benched and re-oracled on real data every round. Oracle
    // shared VERBATIM with the gated twin.
    "q_graph_kcore_incremental_del_bsp" -> ((s, dir) => {
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "kcoredel",
        ringEdges(s, dir), ringEdges(s, dir).filter(kcoreDelKeep))
      val st = cachedIncState(s, dir, "kcoredel")
      GraphOps.incrementalKCore(s, prev, cur, st, kcoreK,
        driverSolveLimit = 0L).orderBy("v")
    }),

    // k-truss decomposition (k=4): iteratively drop edges in fewer than
    // k−2 = 2 triangles until the surviving edge set is stable — the
    // EDGE-granular cohesion peel (k-core's vertex peel keeps a vertex for
    // raw degree; the truss demands its edges actually close triangles,
    // the community-core signal). Each round recomputes per-edge support
    // among survivors with the same canonical a<b wedge join as
    // q_graph_triangles and keeps support ≥ 2. Scale shape: per round, one
    // symmetric neighbor join keyed on vertex ids + one (a,b) count
    // shuffle — BSP edge peeling, no driver collect; each round's
    // survivor set is materialized once (it feeds both wedge legs AND the
    // next round). Runs on the strip+clique fixture (see trussEdges) so
    // the peel cascades across rounds and converges non-empty.
    "q_graph_ktruss" -> ((s, dir) =>
      GraphOps.ktrussPeel(s, trussEdges(s, dir), trussK, trussRounds)
        .orderBy("a", "b")),

    // INCREMENTAL k-truss maintenance over the INSERT diff — the
    // EDGE-granular sibling of q_graph_kcore_incremental, completing the
    // degeneracy family's maintainers: v1 holds out each block's (0,1)
    // and (0,2) edges, v2 is the complete strip+clique fixture. Inserts
    // only ADD truss members, so [[GraphOps.incrementalKTruss]] grows a
    // triangle-adjacency candidate region through non-truss edges with
    // full-v2 support ≥ k−2 and peels it against the FROZEN truss — work
    // ∝ candidates, never the graph. Oracle: the full peel of the
    // COMPLETE fixture = the base q_graph_ktruss oracle SHARED VERBATIM.
    "q_graph_ktruss_incremental" -> ((s, dir) => {
      val all = trussEdges(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      val (prev, cur, _) = snapshotInsertDiff(s, dir, "ktrussinc",
        all, !trussInsHeld)
      def und(e: DataFrame) = e.select(col("src").as("a"), col("dst").as("b"))
      val st = cachedIncState(s, dir, "ktrussinc")
      val out = GraphOps.incrementalKTruss(s, und(prev), und(cur), st, trussK)
        .localCheckpoint(true)
      require(out.join(st.select(col("a").as("xa"), col("b").as("xb")),
          col("a") === col("xa") && col("b") === col("xb"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates k-truss growth (no edge joined)")
      out.orderBy("a", "b")
    }),

    // The delete-bearing twin: v2 drops each block's (0,1) edge; the
    // eviction cascade re-checks in-truss supports outward from the
    // destroyed triangles' co-edges, the supportCascade wave shape at
    // triangle granularity. Oracle: the full peel of the v2 algebra,
    // unrolled two rounds past the measured fixpoint.
    "q_graph_ktruss_incremental_del" -> ((s, dir) => {
      val all = trussEdges(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "ktrussdel",
        all, all.filter(trussDelKeep))
      def und(e: DataFrame) = e.select(col("src").as("a"), col("dst").as("b"))
      val st = cachedIncState(s, dir, "ktrussdel")
      val out = GraphOps.incrementalKTruss(s, und(prev), und(cur), st, trussK)
        .localCheckpoint(true)
      require(st.join(out.select(col("a").as("xa"), col("b").as("xb")),
          col("a") === col("xa") && col("b") === col("xb"), "left_anti")
          .limit(1).count() > 0,
        "fixture no longer demonstrates k-truss eviction (nothing left)")
      out.orderBy("a", "b")
    }),

    // Forced-BSP twin of the delete-bearing k-truss maintainer — its own
    // benched row (it does NOT ride the kcore twin: the >gate path here
    // is triangle-granular wedge-join waves, a different plan family
    // from kcore's degree waves). Oracle shared VERBATIM with the gated
    // twin.
    "q_graph_ktruss_incremental_del_bsp" -> ((s, dir) => {
      val all = trussEdges(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
      val (prev, cur, _, _) = snapshotDeleteDiff(s, dir, "ktrussdel",
        all, all.filter(trussDelKeep))
      def und(e: DataFrame) = e.select(col("src").as("a"), col("dst").as("b"))
      val st = cachedIncState(s, dir, "ktrussdel")
      GraphOps.incrementalKTruss(s, und(prev), und(cur), st, trussK,
        driverSolveLimit = 0L).orderBy("a", "b")
    }),

    // Label propagation communities (synchronous, deterministic): every
    // vertex starts as its own label; each superstep it adopts the most
    // frequent label among its neighbors, ties broken by MIN label — the
    // frequency-based community algorithm, distinct from q_graph_cc's
    // min-label reachability. Fixed 4 supersteps (not run-to-convergence)
    // so the DuckDB oracle can unroll the same recurrence exactly; each
    // superstep is one edge⋈label join + a (v, lbl) count + one
    // row_number window — all partitioned on v, the BSP shape.
    "q_graph_labelprop" -> ((s, dir) =>
      lpLabelsCached(s, dir, hierEdges(s, dir).localCheckpoint(true))
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("community")),

    // Modularity decomposition of the label-propagation communities —
    // the quality metric community detection is graded by, in EXACT
    // integer arithmetic: with M = directed-edge count (= 2m), community
    // contribution to Q·4m² is M·E_dir(c) − d_c² (E_dir = intra-community
    // directed edges, d_c = summed member degree). No float division
    // anywhere, so the oracle matches bit-for-bit; a positive contribution
    // means the community is denser than the null model expects. Two
    // label joins + two key-parallel aggs over the final assignment.
    "q_graph_modularity" -> ((s, dir) => {
      val e = hierEdges(s, dir).localCheckpoint(true)
      val lab = lpLabelsCached(s, dir, e)
      val intra = e
        .join(lab.select(col("v").as("sv"), col("lbl").as("slbl")), col("src") === col("sv"))
        .join(lab.select(col("v").as("dv"), col("lbl").as("dlbl")), col("dst") === col("dv"))
        .filter(col("slbl") === col("dlbl"))
        .groupBy(col("slbl").as("community")).agg(count(lit(1)).as("e_dir"))
      val degc = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .join(lab, col("src") === col("v"))
        .groupBy(col("lbl").as("community")).agg(sum("deg").as("d_c"))
      val mrow = e.agg(count(lit(1)).as("m_dir"))
      degc.join(intra, Seq("community"), "left").na.fill(0L, Seq("e_dir"))
        .crossJoin(broadcast(mrow))
        .select(col("community"), expr("e_dir div 2").as("e_intra"), col("d_c"),
          (col("m_dir") * col("e_dir") - col("d_c") * col("d_c"))
            .as("q_contrib_scaled"))
        .orderBy("community")
    }),

    // A1–A4 end-to-end: the nation→region hierarchy (30 vertices: regions
    // 0–4, nations 5–29 — inside the codec's 100-vertex reference cap,
    // `secondary_server.c:30`) is serialized to the reference's adjacency
    // text format, parsed back ([[AdjacencyCodec]], A3/A4), written as an
    // initial PARTIAL snapshot (A1 create), then snapshot-REPLACED with
    // the full edge set (A2 modify — load must observe the replacement,
    // not the first write), loaded, and queried with a per-dst in-degree
    // window. The oracle recomputes every edge AND the degree straight
    // from `nation`, so any corruption in format → parse → create →
    // modify → load flips the compare.
    "q_graph_store_roundtrip" -> ((s, dir) => {
      val edges = t(s, dir, "nation")
        .select((col("n_nationkey") + 5).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      // one fixed path per process: repeated invocations overwrite
      // instead of leaking a fresh temp dir per run
      val base = java.nio.file.Paths.get(ProcessCache.path("store", dir))
      java.nio.file.Files.createDirectories(base)
      val txt = base.resolve("G30.txt")
      java.nio.file.Files.writeString(txt, AdjacencyCodec.format(edges, 30))
      val parsed = AdjacencyCodec.read(s, txt.toString)
      val store = base.resolve("edges.parquet").toString
      GraphStore.create(parsed.limit(10), store)
      GraphStore.modify(parsed, store)
      GraphStore.load(s, store)
        .select(col("src"), col("dst"),
          count(lit(1)).over(Window.partitionBy("dst")).as("dst_in_degree"))
        .orderBy("src", "dst")
    }),

    // Commit-log graph store with TIME TRAVEL ([[VersionedGraphStore]]):
    // snapshot 1 = a deterministic partial edge set, snapshot 2 = the full
    // set (the A2 modify, now as an appended commit instead of an
    // overwrite). The query then reads snapshot 1 BY ID after snapshot 2
    // committed — the read a snapshot-overwrite store cannot serve — plus
    // the latest, and emits per-snapshot stats. The oracle recomputes both
    // edge sets straight from `nation`, so a commit that leaked into the
    // wrong snapshot, a manifest pointing at stale data, or a time-travel
    // read observing the replacement all flip the compare. (Concurrent
    //-writer atomicity is exercised in GraphSpec — it needs threads, not
    // SQL.)
    "q_graph_store_timetravel" -> ((s, dir) => {
      val edges = t(s, dir, "nation")
        .select((col("n_nationkey") + 5).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
      val base = ProcessCache.path("vstore", dir)
      // table state is RUN state: rebuilt from scratch each invocation so
      // the returned snapshot ids are deterministic (1 then 2)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val v1 = VersionedGraphStore.commit(edges.filter(col("src") <= 15), base)
      val v2 = VersionedGraphStore.commit(edges, base)
      def stats(df: DataFrame, v: Long): DataFrame =
        df.agg(count(lit(1)).as("n_edges"), sum("src").as("src_sum"),
            sum("dst").as("dst_sum"))
          .select(lit(v).as("snapshot"), col("n_edges"), col("src_sum"), col("dst_sum"))
      stats(VersionedGraphStore.loadAt(s, base, v1), v1)
        .unionByName(stats(VersionedGraphStore.load(s, base), v2))
        .orderBy("snapshot")
    }),

    // Snapshot CDC over the commit-log store: the version diff a
    // downstream incremental consumer computes instead of re-reading the
    // whole table — edges classified inserted/deleted/unchanged between
    // snapshot 1 and the latest via one full-outer key join (the
    // q_snapshot_diff shape applied to two TIME-TRAVEL reads of the same
    // store). v1 carries a synthetic (99,99) edge absent from v2 so the
    // DELETED class is non-empty — all three classes are real rows. The
    // oracle recomputes both versions straight from `nation`.
    "q_graph_store_diff" -> ((s, dir) => {
      import s.implicits._
      val edges = t(s, dir, "nation")
        .select((col("n_nationkey") + 5).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
      val base = ProcessCache.path("vstorediff", dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val v1 = VersionedGraphStore.commit(
        edges.filter(col("src") <= 15).unionByName(Seq((99L, 99L)).toDF("src", "dst")), base)
      VersionedGraphStore.commit(edges, base)
      val a = VersionedGraphStore.loadAt(s, base, v1)
        .select(col("src").as("asrc"), col("dst").as("adst"))
      val b = VersionedGraphStore.load(s, base)
        .select(col("src").as("bsrc"), col("dst").as("bdst"))
      a.join(b, col("asrc") === col("bsrc") && col("adst") === col("bdst"), "full_outer")
        .select(coalesce(col("asrc"), col("bsrc")).as("src"),
          when(col("asrc").isNull, "inserted")
            .when(col("bsrc").isNull, "deleted")
            .otherwise("unchanged").as("change"))
        .groupBy("change")
        .agg(count(lit(1)).as("n_edges"), sum("src").as("src_sum"))
        .orderBy("change")
    })
  )

  /** q_graph_mis/-_bsp oracle: the identical min-priority rounds REPLAYED
    * as a fixed [[GraphOps.MisRoundCap]]-deep CTE chain over the
    * undirected ring graph — s_k = active vertices whose priority is a
    * strict minimum among active neighbors, a_k = a_{k-1} minus s_k's
    * closed neighborhood. Rounds past convergence are empty no-ops; the
    * Spark side require()s convergence within the same cap, so the unroll
    * can never truncate a real round. */
  /** Symmetrized self-loop-free edge CTE pair (`eraw`, `e`) over a raw
    * directed edge SELECT — the shared shape of every symmetry-breaking
    * oracle's graph; `extraWhere` lets the delete-fixture spellings drop
    * a band inside the same builder. */
  private def undSqlOf(raw: String, extraWhere: String = ""): String =
    s"""eraw AS MATERIALIZED ($raw),
       e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw)
         WHERE src <> dst$extraWhere)"""

  /** Undirected self-loop-free ring graph as MATERIALIZED DuckDB CTEs —
    * shared by the MIS and coloring oracles. */
  private lazy val ringUndSql: String = undSqlOf(prRingESql)

  /** Unrolled k-core peel over any CTE chain defining `e` = the DISTINCT
    * self-loop-free SYMMETRIC edge rows (the [[undSqlOf]] shape): d_i =
    * degrees among round-i survivors, a_i = {v : d_i(v) ≥ k}. Every
    * survivor CTE is MATERIALIZED — a_i feeds two IN-subqueries per
    * round, and DuckDB's default inlining expands multiply-referenced
    * chains exponentially (the MIS/coloring lesson). Single-sourced
    * across the base query and both incremental maintainers. */
  private def kcoreOracleOver(ctes: String, rounds: Int): String = {
    val steps = (2 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT s.src AS v, COUNT(*) AS deg
           FROM e s
           WHERE s.src IN (SELECT v FROM a${i - 1})
             AND s.dst IN (SELECT v FROM a${i - 1})
           GROUP BY s.src HAVING COUNT(*) >= $kcoreK),
         a$i AS MATERIALIZED (SELECT v FROM d$i)"""
    }.mkString(",\n")
    // Convergence sentinel (r12, the msfOracleOver discipline): the
    // published d$rounds degrees are exact ONLY if the final round was a
    // no-op (supports are counted within the previous round's survivors).
    // If the last round still removed vertices, emit an impossible
    // (-1, -1) row so a too-short unroll at a new scale fails the compare
    // loudly AND self-diagnoses — at sf1 the old 8-round unroll had
    // exactly zero no-op slack and published 21 one-round-stale degrees.
    s"""WITH $ctes,
       d1 AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM e
            GROUP BY src HAVING COUNT(*) >= $kcoreK),
       a1 AS MATERIALIZED (SELECT v FROM d1),
       $steps,
       residual AS (SELECT (SELECT COUNT(*) FROM a$rounds) AS cn,
                           (SELECT COUNT(*) FROM a${rounds - 1}) AS cp)
       SELECT v, deg FROM d$rounds
       UNION ALL SELECT CAST(-1 AS BIGINT) AS v, CAST(-1 AS BIGINT) AS deg
         FROM residual WHERE cn <> cp
       ORDER BY v"""
  }
  private lazy val kcoreOracleSql: String =
    kcoreOracleOver(ringUndSql, kcoreRounds)
  /** Unrolled k-truss peel over the strip+clique fixture with a raw-edge
    * survivor predicate applied to t0 — d_i/s_i/t_i = the identical edge
    * peel recurrence, every survivor CTE MATERIALIZED (each feeds both
    * wedge legs of the next round). Single-sourced across the base query
    * and both incremental maintainers. */
  private def ktrussOracleOver(keepWhere: String, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""y$i AS MATERIALIZED (SELECT a AS v, b AS w FROM t${i - 1}
           UNION ALL SELECT b, a FROM t${i - 1}),
         s$i AS MATERIALIZED (SELECT u.a, u.b, COUNT(*) AS support
           FROM t${i - 1} u
           JOIN y$i x ON x.v = u.a
           JOIN y$i y ON y.v = u.b AND y.w = x.w
           GROUP BY u.a, u.b HAVING COUNT(*) >= ${trussK - 2}),
         t$i AS (SELECT a, b FROM s$i)"""
    }.mkString(",\n")
    s"""WITH v AS (SELECT CAST(c_custkey AS BIGINT) AS v FROM customer),
       mx AS (SELECT MAX(v) AS m FROM v),
       strip AS (SELECT v AS a, v + 1 AS b FROM v, mx WHERE v + 1 <= m
                 UNION ALL SELECT v, v + 2 FROM v, mx WHERE v + 2 <= m),
       mem AS (SELECT v, v // 97 AS blk FROM v WHERE v % 97 < 5),
       clique AS (SELECT m1.v AS a, m2.v AS b FROM mem m1 JOIN mem m2
                  ON m1.blk = m2.blk AND m1.v < m2.v),
       t0 AS MATERIALIZED (SELECT DISTINCT a, b FROM
         (SELECT * FROM strip UNION ALL SELECT * FROM clique)
         WHERE $keepWhere),
       $steps,
       residual AS (SELECT (SELECT COUNT(*) FROM t$rounds) AS cn,
                           (SELECT COUNT(*) FROM t${rounds - 1}) AS cp)
       SELECT a, b, CAST(support AS BIGINT) AS support FROM s$rounds
       UNION ALL SELECT CAST(-1 AS BIGINT) AS a, CAST(-1 AS BIGINT) AS b,
         CAST(-1 AS BIGINT) AS support FROM residual WHERE cn <> cp
       ORDER BY a, b"""
  }
  private lazy val ktrussOracleSql: String =
    ktrussOracleOver("TRUE", trussRounds)
  private lazy val ktrussDelOracleSql: String = ktrussOracleOver(
    s"""NOT ((a // 97) % 2 = 0 AND a % 97 = 0 AND b % 97 = 1)
       AND NOT ((a // 97) % 2 = 0 AND a % 97 = 2 AND b % 97 = 4)""",
    trussDelRounds)

  /** The v2 algebra's increasing-id DAG re-layered from scratch — shared
    * by the delete-bearing DAG maintainer and its forced-BSP twin. */
  private lazy val dagDelOracleSql: String =
    s"""WITH RECURSIVE $bfsDelV2Sql,
       e AS (SELECT src, dst FROM v2 WHERE src < dst),
       walk(v, d) AS (
         SELECT DISTINCT src, 0 FROM e WHERE src NOT IN (SELECT dst FROM e)
         UNION
         SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 100)
       SELECT v, CAST(MAX(d) AS BIGINT) AS layer FROM walk GROUP BY v ORDER BY v"""

  /** Borůvka replay over a raw directed edge CTE — each round: per-
    * component lexicographic-min outgoing edge (ROW_NUMBER), then the
    * min-label contraction closure. Single-sourced across q_graph_msf
    * (round-tagged) and both incremental maintainers (round-less — the
    * maintainer's round path differs over its candidate subset; the
    * lexicographic MSF is unique as a SET). */
  private def msfOracleOver(rawSql: String, rounds: Int,
      withRound: Boolean): String = {
    def round(i: Int, labels: String) =
      s"""x$i AS MATERIALIZED (SELECT ew.a, ew.b, ew.w, la.comp AS ca, lb.comp AS cb
            FROM ew JOIN $labels la ON la.v = ew.a
                    JOIN $labels lb ON lb.v = ew.b
            WHERE la.comp <> lb.comp),
          i$i AS (SELECT ca AS comp, w, a, b, ca, cb FROM x$i
                  UNION ALL SELECT cb AS comp, w, a, b, ca, cb FROM x$i),
          c$i AS MATERIALIZED (SELECT DISTINCT w, a, b, ca, cb FROM (
                    SELECT comp, w, a, b, ca, cb,
                      ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
                    FROM i$i) WHERE rn = 1),
          g$i AS MATERIALIZED (SELECT ca AS x, cb AS y FROM c$i UNION SELECT cb, ca FROM c$i),
          r$i AS (SELECT x, x AS root FROM (SELECT DISTINCT x FROM g$i)
                  UNION SELECT g$i.y, r$i.root FROM r$i JOIN g$i ON g$i.x = r$i.x),
          m$i AS MATERIALIZED (SELECT x, MIN(root) AS nc FROM r$i GROUP BY x),
          l$i AS MATERIALIZED (SELECT l${i - 1}.v, COALESCE(m$i.nc, l${i - 1}.comp) AS comp
                  FROM l${i - 1} LEFT JOIN m$i ON m$i.x = l${i - 1}.comp)"""
    val steps = (1 to rounds).map(i => round(i, s"l${i - 1}")).mkString(",\n")
    // Convergence self-check for the round-less (incremental) spelling
    // (r11 advice low): the unroll depth was measured at sf0.01; at a
    // scale needing more contraction rounds the oracle would silently be
    // short of the converged forest. If any edge still crosses two
    // components under the FINAL labels, emit an impossible (-1,-1,-1)
    // row — the compare then fails loudly AND self-diagnoses as
    // "oracle unroll too short", not as an engine bug. (The round-tagged
    // q_graph_msf spelling is the bounded-replay showcase and is
    // deliberately not converged — no sentinel there.)
    val sentinel =
      s""",
        residual AS (SELECT COUNT(*) AS c
           FROM ew JOIN l$rounds la ON la.v = ew.a
                   JOIN l$rounds lb ON lb.v = ew.b
           WHERE la.comp <> lb.comp)"""
    val sel =
      if (withRound) (1 to rounds).map(i =>
        s"SELECT CAST($i AS INT) AS round, a, b, CAST(w AS BIGINT) AS w FROM c$i")
        .mkString("\nUNION ALL\n") + "\nORDER BY round, a, b"
      else (1 to rounds).map(i =>
        s"SELECT a, b, CAST(w AS BIGINT) AS w FROM c$i")
        .mkString("\nUNION ALL\n") +
        s"""
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS a, CAST(-1 AS BIGINT) AS b,
          CAST(-1 AS BIGINT) AS w FROM residual WHERE c > 0
        ORDER BY a, b"""
    s"""WITH RECURSIVE e0 AS ($rawSql),
        ew AS (SELECT a, b, 1 + (a*3 + b) % 7 AS w FROM
          (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
           FROM e0 WHERE src <> dst)),
        l0 AS (SELECT DISTINCT v, v AS comp
               FROM (SELECT a AS v FROM ew UNION ALL SELECT b FROM ew)),
        $steps${if (withRound) "" else sentinel}
        $sel"""
  }

  /** Per-vertex degree / canonical-triangle count / exact-integer lcc
    * over a raw directed edge CTE — single-sourced across the base
    * q_graph_lcc and both incremental maintainers. */
  private def lccOracleOver(rawSql: String): String =
    s"""WITH eraw AS MATERIALIZED ($rawSql),
       und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
               GREATEST(src, dst) AS b FROM eraw WHERE src <> dst),
       deg AS (SELECT v, COUNT(*) AS deg FROM
                 (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
               GROUP BY v),
       tri AS (SELECT x.a, x.b, y.b AS c
               FROM und x JOIN und y ON x.b = y.a
                    JOIN und z ON z.a = x.a AND z.b = y.b),
       pv AS (SELECT v, COUNT(*) AS tri FROM
                (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                 UNION ALL SELECT c FROM tri)
              GROUP BY v)
       SELECT deg.v, deg.deg, COALESCE(pv.tri, 0) AS tri,
         CASE WHEN deg.deg >= 2
              THEN CAST(COALESCE(pv.tri, 0) * 2000000 // (deg.deg * (deg.deg - 1)) AS BIGINT)
              ELSE 0 END AS lcc_e6
       FROM deg LEFT JOIN pv ON pv.v = deg.v
       ORDER BY deg.v"""
  private lazy val lccOracleSql: String = lccOracleOver(prRingESql)
  private lazy val lccDelOracleSql: String = lccOracleOver(
    s"""SELECT src, dst FROM ($prRingESql) raw0
       WHERE src % $kcoreDelMod <> $kcoreDelRes""")

  /** The delete fixture's v2: the SAME raw-edge filter as
    * [[kcoreDelKeep]], applied before symmetrization. */
  private lazy val kcoreDelOracleSql: String = kcoreOracleOver(
    undSqlOf(s"""SELECT src, dst FROM ($prRingESql) raw0
                 WHERE src % $kcoreDelMod <> $kcoreDelRes"""),
    kcoreDelRounds)

  /** The hub fixture ([[hubEdges]]) as the same CTE pair: ring rules
    * plus the 250-spoke star on vertex 0. */
  private lazy val hubRawSql: String =
    s"""$prRingESql
       UNION ALL SELECT CAST(0 AS BIGINT), CAST(c_custkey AS BIGINT)
       FROM customer WHERE c_custkey BETWEEN 1 AND $hubSpokeCap"""
  private lazy val hubUndSql: String = undSqlOf(hubRawSql)

  private val prRingESql =
    """SELECT CAST(c_custkey AS BIGINT) AS src, CAST((c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS BIGINT) AS dst FROM customer
       UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
       UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer"""

  /** Shared warm-start PageRank oracle: 10 unrolled cold iterations over
    * e1, warm init on e2's vertex set (COALESCE to the cold 1.0 for
    * unseen vertices), 3 unrolled iterations over e2 — exactly the
    * recurrence [[GraphOps.pageRankWarmStart]] runs; every literal cast
    * to DOUBLE as in q_graph_pagerank. `prelude` must define CTEs e1
    * (previous snapshot) and e2 (new snapshot). */
  private def warmStartPrOracle(prelude: String): String = {
    def step(out: String, in: String, e: String, verts: String,
        deg: String) =
      s"""$out AS (
           SELECT t.v, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
             * COALESCE(SUM(p.pr / dg.d), CAST(0 AS DOUBLE)) AS pr
           FROM $verts t
           LEFT JOIN $e ON $e.dst = t.v
           LEFT JOIN $in p ON p.v = $e.src
           LEFT JOIN $deg dg ON dg.v = $e.src
           GROUP BY t.v)"""
    // vertex CTEs named vs1/vs2 — a prelude may define an EDGE CTE "v2"
    // (the shared bfsDelV2Sql does), and DuckDB rejects duplicate names
    val cold = (1 to 10).map(i =>
      step(s"p$i", s"p${i - 1}", "e1", "vs1", "d1")).mkString(",\n")
    val warm = (1 to 3).map(i =>
      step(s"w$i", s"w${i - 1}", "e2", "vs2", "d2")).mkString(",\n")
    s"""WITH $prelude,
        vs1 AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e1 UNION ALL SELECT dst FROM e1)),
        d1 AS (SELECT src AS v, COUNT(*) AS d FROM e1 GROUP BY src),
        p0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM vs1),
        $cold,
        vs2 AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e2 UNION ALL SELECT dst FROM e2)),
        d2 AS (SELECT src AS v, COUNT(*) AS d FROM e2 GROUP BY src),
        w0 AS (SELECT vs2.v, COALESCE(p10.pr, CAST(1.0 AS DOUBLE)) AS pr
               FROM vs2 LEFT JOIN p10 ON p10.v = vs2.v),
        $warm
        SELECT v, ROUND(pr, 4) AS pr FROM w3 ORDER BY v"""
  }

  /** The bfsdel fixture's v2 edge algebra (ring minus the src%13==5 band
    * + the two shortcut inserts) as the DuckDB CTE pair `e0, v2` —
    * single-sourced across the five delete-fixture oracles so a tweak to
    * [[bfsDelV2]] changes exactly one SQL constant. */
  private lazy val bfsDelV2Sql: String =
    s"""e0 AS MATERIALIZED ($prRingESql),
       v2 AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src % 13 <> 5
         UNION ALL SELECT CAST(1 AS BIGINT),
           CAST(2*(SELECT COUNT(*) FROM customer)//3 AS BIGINT)
         UNION ALL SELECT CAST(2 AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer)//3 AS BIGINT))"""

  /** Shared warm-start HITS oracle (r12): 5 unrolled cold RAW iterations
    * over e1 with ONE final max-normalization — the stored state — then
    * the hub vector spliced onto e2's vertex universe (unseen vertices
    * 1.0), 2 RAW iterations over e2, and the final per-family divide:
    * exactly the recurrence [[GraphOps.hits]] runs from `warmFrom`.
    * Every block MATERIALIZED (each feeds the next half-step; the final
    * frames feed the MAX scalar + the divide). `prelude` must define
    * CTEs e1 (previous snapshot) and e2 (new snapshot). */
  private def warmStartHitsOracle(prelude: String): String = {
    val cold = (1 to 5).map { i =>
      s"""ca$i AS MATERIALIZED (
           SELECT t.v, COALESCE(SUM(h.hub), CAST(0 AS DOUBLE)) AS auth
           FROM verts1 t LEFT JOIN e1 ON e1.dst = t.v
                         LEFT JOIN ch${i - 1} h ON h.v = e1.src
           GROUP BY t.v),
         ch$i AS MATERIALIZED (
           SELECT t.v, COALESCE(SUM(a.auth), CAST(0 AS DOUBLE)) AS hub
           FROM verts1 t LEFT JOIN e1 ON e1.src = t.v
                         LEFT JOIN ca$i a ON a.v = e1.dst
           GROUP BY t.v)"""
    }.mkString(",\n")
    val warm = (1 to 2).map { i =>
      s"""wa$i AS MATERIALIZED (
           SELECT t.v, COALESCE(SUM(h.hub), CAST(0 AS DOUBLE)) AS auth
           FROM verts2 t LEFT JOIN e2 ON e2.dst = t.v
                         LEFT JOIN wh${i - 1} h ON h.v = e2.src
           GROUP BY t.v),
         wh$i AS MATERIALIZED (
           SELECT t.v, COALESCE(SUM(a.auth), CAST(0 AS DOUBLE)) AS hub
           FROM verts2 t LEFT JOIN e2 ON e2.src = t.v
                         LEFT JOIN wa$i a ON a.v = e2.dst
           GROUP BY t.v)"""
    }.mkString(",\n")
    s"""WITH $prelude,
        verts1 AS MATERIALIZED (SELECT DISTINCT v FROM
          (SELECT src AS v FROM e1 UNION ALL SELECT dst FROM e1)),
        verts2 AS MATERIALIZED (SELECT DISTINCT v FROM
          (SELECT src AS v FROM e2 UNION ALL SELECT dst FROM e2)),
        ch0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS hub FROM verts1),
        $cold,
        hw AS MATERIALIZED (SELECT v, hub / (SELECT MAX(hub) FROM ch5) AS hub FROM ch5),
        wh0 AS MATERIALIZED (
          SELECT t.v, COALESCE(hw.hub, CAST(1.0 AS DOUBLE)) AS hub
          FROM verts2 t LEFT JOIN hw ON hw.v = t.v),
        $warm
        SELECT wa2.v,
          ROUND(wa2.auth / (SELECT MAX(auth) FROM wa2), 4) AS auth,
          ROUND(wh2.hub / (SELECT MAX(hub) FROM wh2), 4) AS hub
        FROM wa2 JOIN wh2 ON wa2.v = wh2.v ORDER BY wa2.v"""
  }

  /** The fixed LCG priority both symmetry-breaking oracles replay. */
  private def lcgPriSql(x: String) = s"(($x * 1103515245 + 12345) % 2147483648)"

  /** v2 edge CTE of the symmetry-breaking DELETE fixtures: the ring minus
    * every edge whose BOTH endpoints sit in the top priority-value decile
    * — the exact inverse of the misinc/colinc insert fixture (same
    * [[lowBandHeldEdge]] band, applied as a removal). */
  private def minusLowBandWhere: String = {
    val hi = 2147483648L / 10L * 9L
    s"""
           AND NOT (${lcgPriSql("src")} > $hi AND ${lcgPriSql("dst")} > $hi)"""
  }
  private lazy val ringUndMinusLowBandSql: String =
    undSqlOf(prRingESql, minusLowBandWhere)
  /** Hub-fixture twin — the [[hubEdges]] graph minus the same band. */
  private lazy val hubUndMinusLowBandSql: String =
    undSqlOf(hubRawSql, minusLowBandWhere)

  private lazy val misOracleSql: String = misOracle(withRound = true)
  /** Membership-only spelling for the incremental-maintenance query
    * (round numbers are not maintained across deltas — see
    * [[GraphOps.incrementalMaximalIndependentSet]]). */
  private lazy val misMembersOracleSql: String = misOracle(withRound = false)
  /** Delete-fixture spellings: the same round replays over the v2 edge
    * algebra (ring minus the low-priority band). */
  private lazy val misMembersDelOracleSql: String =
    misOracle(withRound = false, edgeCte = ringUndMinusLowBandSql)
  private lazy val coloringMembersDelOracleSql: String =
    coloringOracle(withRound = false, edgeCte = ringUndMinusLowBandSql)
  private def misOracle(withRound: Boolean,
      edgeCte: String = ringUndSql): String = {
    val cap = GraphOps.MisRoundCap
    def p(x: String) = lcgPriSql(x)
    // every CTE is MATERIALIZED: a_k references a_{k-1} three times, so
    // DuckDB's default inlining would expand the chain EXPONENTIALLY
    // (3^cap copies of the scan — the "too many open files" failure mode)
    val rounds = (1 to cap).map { k =>
      s"""s$k AS MATERIALIZED (SELECT a.v FROM a${k - 1} a LEFT JOIN (
             SELECT e.src AS v, MIN(${p("e.dst")}) AS mp
             FROM e JOIN a${k - 1} d ON d.v = e.dst
                    JOIN a${k - 1} m ON m.v = e.src
             GROUP BY e.src) nb ON nb.v = a.v
           WHERE ${p("a.v")} < COALESCE(nb.mp, 9223372036854775807)),
         a$k AS MATERIALIZED (SELECT v FROM a${k - 1}
           WHERE v NOT IN (SELECT v FROM s$k)
             AND v NOT IN (SELECT e.dst FROM e JOIN s$k s ON s.v = e.src))"""
    }.mkString(",\n")
    val misUnion = (1 to cap).map(k => s"SELECT v, $k AS r FROM s$k")
      .mkString(" UNION ALL ")
    val sel = if (withRound) "SELECT v, CAST(r AS INT) AS round" else "SELECT v"
    s"""WITH $edgeCte,
       a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       $rounds
       $sel FROM ($misUnion) ORDER BY v"""
  }

  /** q_graph_coloring/-_bsp oracle: the identical Jones–Plassmann rounds
    * replayed to a fixed [[GraphOps.ColoringRoundCap]] unroll — r_k =
    * uncolored vertices with no uncolored higher-priority neighbor, their
    * color the mex over hp-neighbor colors via the {0} ∪ {c+1} candidate
    * trick. Same MATERIALIZED discipline as the MIS oracle. */
  /** Replay of the SPECULATIVE (Gebremedhin–Manne) coloring rounds: per
    * round every uncolored vertex takes the mex over COMMITTED neighbor
    * colors ({0} ∪ {c+1} candidate anti-join — the coloringOracle mex
    * spelling), then of each adjacent equal-TENTATIVE-color pair the
    * higher-LCG-priority endpoint uncolors. Rounds past convergence are
    * empty no-ops, matching the operator's fixed cap. */
  private lazy val specColoringOracleSql: String = specColoringOracle(ringUndSql)
  /** Hub-fixture spelling — identical replay over the hub edge algebra. */
  private lazy val specColoringHubOracleSql: String = specColoringOracle(hubUndSql)
  private def specColoringOracle(edgeCte: String): String = {
    val cap = GraphOps.SpecColoringRoundCap
    val rounds = (1 to cap).map { k =>
      val tentative = if (k == 1)
        // round 1 is a hashed GUESS (pri % 8) — with no committed colors
        // every mex is 0 and every edge conflicts (see the operator)
        s"""t1 AS MATERIALIZED (SELECT v,
             CAST(${lcgPriSql("v")} % 8 AS INT) AS color FROM u0)"""
      else
        s"""nc$k AS MATERIALIZED (SELECT e.src AS v, c.color
             FROM e JOIN u${k - 1} u ON u.v = e.src JOIN c${k - 1} c ON c.v = e.dst),
           t$k AS MATERIALIZED (SELECT cd.v, MIN(cd.c) AS color FROM (
               SELECT v, 0 AS c FROM u${k - 1}
               UNION ALL SELECT v, color + 1 FROM nc$k) cd
             WHERE NOT EXISTS (SELECT 1 FROM nc$k h
               WHERE h.v = cd.v AND h.color = cd.c)
             GROUP BY cd.v)"""
      s"""$tentative,
         l$k AS MATERIALIZED (SELECT DISTINCT e.src AS v
           FROM e JOIN t$k a ON a.v = e.src JOIN t$k b ON b.v = e.dst
           WHERE a.color = b.color
             AND ${lcgPriSql("e.src")} > ${lcgPriSql("e.dst")}),
         m$k AS MATERIALIZED (SELECT v, color FROM t$k
           WHERE v NOT IN (SELECT v FROM l$k)),
         c$k AS MATERIALIZED (SELECT v, color FROM c${k - 1}
           UNION ALL SELECT v, color FROM m$k),
         u$k AS MATERIALIZED (SELECT v FROM l$k)"""
    }.mkString(",\n")
    val un = (1 to cap).map(k => s"SELECT v, color, $k AS r FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH $edgeCte,
       c0 AS (SELECT CAST(0 AS BIGINT) AS v, 0 AS color WHERE 1 = 0),
       u0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       $rounds
       SELECT v, color, CAST(r AS INT) AS round FROM ($un) ORDER BY v"""
  }

  private lazy val coloringOracleSql: String = coloringOracle(withRound = true)
  /** (v, color)-only spelling for the incremental-maintenance query. */
  private lazy val coloringMembersOracleSql: String = coloringOracle(withRound = false)
  private def coloringOracle(withRound: Boolean,
      edgeCte: String = ringUndSql): String = {
    val cap = GraphOps.ColoringRoundCap
    val rounds = (1 to cap).map { k =>
      s"""r$k AS MATERIALIZED (SELECT u.v FROM u${k - 1} u WHERE NOT EXISTS (
             SELECT 1 FROM hp JOIN u${k - 1} w ON w.v = hp.dst
             WHERE hp.src = u.v)),
         hc$k AS MATERIALIZED (SELECT hp.src AS v, c.color
           FROM hp JOIN r$k r ON r.v = hp.src JOIN c${k - 1} c ON c.v = hp.dst),
         m$k AS MATERIALIZED (SELECT cd.v, MIN(cd.c) AS color FROM (
             SELECT v, 0 AS c FROM r$k
             UNION ALL SELECT v, color + 1 FROM hc$k) cd
           WHERE NOT EXISTS (SELECT 1 FROM hc$k h
             WHERE h.v = cd.v AND h.color = cd.c)
           GROUP BY cd.v),
         c$k AS MATERIALIZED (SELECT v, color FROM c${k - 1}
           UNION ALL SELECT v, color FROM m$k),
         u$k AS MATERIALIZED (SELECT v FROM u${k - 1}
           WHERE v NOT IN (SELECT v FROM r$k))"""
    }.mkString(",\n")
    val un = (1 to cap).map(k => s"SELECT v, color, $k AS r FROM m$k")
      .mkString(" UNION ALL ")
    val sel = if (withRound) "SELECT v, color, CAST(r AS INT) AS round"
      else "SELECT v, color"
    s"""WITH $edgeCte,
       hp AS MATERIALIZED (SELECT src, dst FROM e
         WHERE ${lcgPriSql("dst")} < ${lcgPriSql("src")}),
       c0 AS (SELECT CAST(0 AS BIGINT) AS v, 0 AS color WHERE 1 = 0),
       u0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       $rounds
       $sel FROM ($un) ORDER BY v"""
  }

  def oracles: Map[String, String] = Map(
    "q_graph_bfs" ->
      (ringWalkCte + """
         SELECT v, CAST(level AS INT) AS level FROM lv ORDER BY v"""),
    "q_graph_bfs_pregel" ->
      (ringWalkCte + """
         SELECT v, CAST(level AS INT) AS level FROM lv ORDER BY v"""),
    "q_graph_khop" ->
      (ringWalkCte + """
         SELECT CAST(level AS INT) AS level, COUNT(*) AS n_vertices
         FROM lv GROUP BY level ORDER BY level"""),
    // Incremental maintenance must equal the full traversal of the NEW
    // snapshot — the oracle is the complete graph's recursive CTE and
    // knows nothing about the delta construction.
    "q_graph_bfs_incremental" ->
      (ringWalkCte + """
         SELECT v, CAST(level AS INT) AS level FROM lv ORDER BY v"""),
    // The v2 edge algebra walked from scratch: the delete band removed,
    // the two shortcut inserts added — a maintainer that kept a stale
    // level, missed a raise, or emitted a disconnected vertex fails.
    "q_graph_bfs_incremental_del" ->
      s"""WITH RECURSIVE $bfsDelV2Sql,
         walk(v, lvl) AS (
           SELECT CAST(0 AS BIGINT), 0
           UNION
           SELECT v2.dst, w.lvl+1 FROM walk w JOIN v2 ON v2.src = w.v
           WHERE w.lvl < 40),
         lv AS (SELECT v, MIN(lvl) AS level FROM walk GROUP BY v)
         SELECT v, CAST(level AS INT) AS level FROM lv ORDER BY v""",
    // Closed-form closeness of the COMPLETE hierarchy graph: seed r
    // reaches itself (d0), its nations (d1), their customers (d2).
    "q_graph_closeness_incremental" ->
      """WITH nr AS (SELECT CAST(n_regionkey AS BIGINT) AS r, COUNT(*) AS nn
             FROM nation GROUP BY 1),
         cr AS (SELECT CAST(n_regionkey AS BIGINT) AS r, COUNT(*) AS nc
             FROM customer JOIN nation ON n_nationkey = c_nationkey GROUP BY 1),
         base AS (SELECT CAST(r_regionkey AS BIGINT) AS seed,
             COALESCE(nn, 0) AS nn, COALESCE(nc, 0) AS nc
           FROM region LEFT JOIN nr ON nr.r = r_regionkey
                       LEFT JOIN cr ON cr.r = r_regionkey)
         SELECT seed, CAST(1 + nn + nc AS BIGINT) AS n_reached,
           CAST(nn + 2*nc AS BIGINT) AS total_dist,
           CAST((nn + nc) * 1000000 // (nn + 2*nc) AS BIGINT) AS closeness_e6
         FROM base ORDER BY seed""",
    // Closed-form closeness of the HELD graph (the delete fixture's v2):
    // region 0–1 customers with c_custkey % 11 = 0 lost their only edges
    // and vanish from those seeds' reach; regions 2–4 are untouched.
    "q_graph_closeness_incremental_del" ->
      """WITH nr AS (SELECT CAST(n_regionkey AS BIGINT) AS r, COUNT(*) AS nn
             FROM nation GROUP BY 1),
         cr AS (SELECT CAST(n_regionkey AS BIGINT) AS r, COUNT(*) AS nc
             FROM customer JOIN nation ON n_nationkey = c_nationkey
             WHERE NOT (c_custkey % 11 = 0 AND n_regionkey <= 1)
             GROUP BY 1),
         base AS (SELECT CAST(r_regionkey AS BIGINT) AS seed,
             COALESCE(nn, 0) AS nn, COALESCE(nc, 0) AS nc
           FROM region LEFT JOIN nr ON nr.r = r_regionkey
                       LEFT JOIN cr ON cr.r = r_regionkey)
         SELECT seed, CAST(1 + nn + nc AS BIGINT) AS n_reached,
           CAST(nn + 2*nc AS BIGINT) AS total_dist,
           CAST((nn + nc) * 1000000 // (nn + 2*nc) AS BIGINT) AS closeness_e6
         FROM base ORDER BY seed""",
    // Full 5-seed Brandes over the COMPLETE hierarchy graph, closed-form:
    // the depth-2 trees (region -> its nations -> their customers) make
    // every σ = 1, δ(nation) = its customer count, δ = 0 elsewhere (each
    // seed's own row excluded; other components unreachable). Knows
    // nothing about the delta construction or the affected-seed split.
    "q_graph_betweenness_incremental" ->
      """WITH cust AS (SELECT CAST(c_custkey + 100 AS BIGINT) AS v,
               CAST(c_nationkey + 10 AS BIGINT) AS nv FROM customer),
         bcn AS (SELECT nv, COUNT(*) AS c FROM cust GROUP BY nv),
         uni AS (SELECT CAST(r_regionkey AS BIGINT) AS v FROM region
                 UNION ALL SELECT CAST(n_nationkey + 10 AS BIGINT) FROM nation
                 UNION ALL SELECT v FROM cust)
         SELECT u.v, ROUND(CAST(COALESCE(b.c, 0) AS DOUBLE), 6) AS bc
         FROM uni u LEFT JOIN bcn b ON b.nv = u.v
         ORDER BY u.v""",
    // Full 5-seed Brandes over the HELD graph (the delete fixture's v2):
    // the vanished region 0–1 customers leave both the δ sums and the
    // output universe.
    "q_graph_betweenness_incremental_del" ->
      """WITH cust AS (SELECT CAST(c_custkey + 100 AS BIGINT) AS v,
               CAST(c_nationkey + 10 AS BIGINT) AS nv
             FROM customer JOIN nation ON n_nationkey = c_nationkey
             WHERE NOT (c_custkey % 11 = 0 AND n_regionkey <= 1)),
         bcn AS (SELECT nv, COUNT(*) AS c FROM cust GROUP BY nv),
         uni AS (SELECT CAST(r_regionkey AS BIGINT) AS v FROM region
                 UNION ALL SELECT CAST(n_nationkey + 10 AS BIGINT) FROM nation
                 UNION ALL SELECT v FROM cust)
         SELECT u.v, ROUND(CAST(COALESCE(b.c, 0) AS DOUBLE), 6) AS bc
         FROM uni u LEFT JOIN bcn b ON b.nv = u.v
         ORDER BY u.v""",
    "q_graph_dfs_leaves" ->
      (ringWalkCte + """,
       par AS (
         SELECT e.dst, MIN(e.src) AS parent
         FROM e JOIN lv a ON a.v = e.src JOIN lv b ON b.v = e.dst AND b.level = a.level + 1
         GROUP BY e.dst)
       SELECT v, CAST(level AS INT) AS level FROM lv
       WHERE v NOT IN (SELECT parent FROM par) ORDER BY v"""),
    "q_graph_pagerank" -> {
      // 10 unrolled iterations (recursive CTEs can't aggregate in the
      // recursive term) of the exact recurrence the Spark loop runs.
      val ringE =
        """SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer"""
      // all literals cast to DOUBLE — DuckDB would otherwise propagate
      // DECIMAL arithmetic where Spark computes in doubles
      val steps = (1 to 10).map { i =>
        s"""pr$i AS (
             SELECT t.v, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * COALESCE(SUM(p.pr / dg.d), CAST(0 AS DOUBLE)) AS pr
             FROM verts t
             LEFT JOIN e ON e.dst = t.v
             LEFT JOIN pr${i - 1} p ON p.v = e.src
             LEFT JOIN deg dg ON dg.v = e.src
             GROUP BY t.v)"""
      }.mkString(",\n")
      s"""WITH e AS ($ringE),
          verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY src),
          pr0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM verts),
          $steps
          SELECT v, ROUND(pr, 4) AS pr FROM pr10 ORDER BY v"""
    },
    // The identical unrolled recurrence over the ENCODED disjoint union —
    // the oracle reproduces the key-space encoding, so a bug that let
    // rank mass cross graphs would fail the compare.
    "q_graph_multi_pagerank" -> {
      val gs = multiGraphParams
        .map { case (g, m2, a2) => s"($g,$m2,$a2)" }.mkString(",")
      val steps = (1 to 10).map { i =>
        s"""pr$i AS (
             SELECT t.v, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * COALESCE(SUM(p.pr / dg.d), CAST(0 AS DOUBLE)) AS pr
             FROM verts t
             LEFT JOIN e ON e.dst = t.v
             LEFT JOIN pr${i - 1} p ON p.v = e.src
             LEFT JOIN deg dg ON dg.v = e.src
             GROUP BY t.v)"""
      }.mkString(",\n")
      s"""WITH gs(gid, m2, a2) AS (SELECT * FROM (VALUES $gs)),
          e AS (
            SELECT CAST(gs.gid AS BIGINT)*$multiGraphOffset + c_custkey AS src,
              CAST(gs.gid AS BIGINT)*$multiGraphOffset + (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst
            FROM customer, gs
            UNION ALL
            SELECT CAST(gs.gid AS BIGINT)*$multiGraphOffset + c_custkey,
              CAST(gs.gid AS BIGINT)*$multiGraphOffset + (c_custkey*gs.m2+gs.a2)%(SELECT COUNT(*) FROM customer)
            FROM customer, gs),
          verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY src),
          pr0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM verts),
          $steps
          SELECT v // $multiGraphOffset AS graph, v % $multiGraphOffset AS v, ROUND(pr, 4) AS pr
          FROM pr10 ORDER BY graph, v"""
    },
    "q_graph_pagerank_incremental" -> warmStartPrOracle(
      // e2 = the full ring, e1 = the held-out previous snapshot
      s"""e2 AS ($prRingESql),
          e1 AS (SELECT src, dst FROM e2 WHERE src % 97 <> 1)"""),
    // Warm-start HITS twins (r12) — same fixtures as the PageRank pair
    "q_graph_hits_incremental" -> warmStartHitsOracle(
      s"""e2 AS MATERIALIZED ($prRingESql),
          e1 AS MATERIALIZED (SELECT src, dst FROM e2 WHERE src % 97 <> 1)"""),
    "q_graph_hits_incremental_del" -> warmStartHitsOracle(
      s"""$bfsDelV2Sql,
          e1 AS (SELECT src, dst FROM e0),
          e2 AS (SELECT src, dst FROM v2)"""),
    // Warm start is DIFF-AGNOSTIC — resuming the power iteration on the
    // new snapshot needs no per-edge delta reasoning, so deletes ride the
    // same 10-cold-then-3-warm recurrence: e1 = the full ring (the stored
    // ranks), e2 = the delete-bearing v2 algebra.
    "q_graph_pagerank_incremental_del" -> warmStartPrOracle(
      s"""$bfsDelV2Sql,
          e1 AS (SELECT src, dst FROM e0),
          e2 AS (SELECT src, dst FROM v2)"""),
    "q_graph_pagerank_weighted" -> {
      // Same unrolled recurrence as q_graph_pagerank with weighted mass:
      // contribution = pr·w/Σw(src); every literal cast to DOUBLE so
      // DuckDB computes in doubles exactly like the Spark loop.
      val ringE =
        """SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer"""
      val steps = (1 to 10).map { i =>
        s"""pr$i AS (
             SELECT t.v, CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
               * COALESCE(SUM(p.pr * CAST(e.w AS DOUBLE) / dg.d), CAST(0 AS DOUBLE)) AS pr
             FROM verts t
             LEFT JOIN e ON e.dst = t.v
             LEFT JOIN pr${i - 1} p ON p.v = e.src
             LEFT JOIN deg dg ON dg.v = e.src
             GROUP BY t.v)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM ($ringE)),
          verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          deg AS (SELECT src AS v, CAST(SUM(w) AS BIGINT) AS d FROM e GROUP BY src),
          pr0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS pr FROM verts),
          $steps
          SELECT v, ROUND(pr, 4) AS pr FROM pr10 ORDER BY v"""
    },
    "q_graph_ppr" -> {
      // Same unrolled recurrence as q_graph_pagerank with the teleport
      // vector concentrated at seed 0: pr0 = 1[v=0], step adds 0.15·1[v=0].
      val ringE =
        """SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer"""
      val steps = (1 to 10).map { i =>
        s"""pr$i AS (
             SELECT t.v, CASE WHEN t.v = 0 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
               + CAST(0.85 AS DOUBLE)
               * COALESCE(SUM(p.pr / dg.d), CAST(0 AS DOUBLE)) AS pr
             FROM verts t
             LEFT JOIN e ON e.dst = t.v
             LEFT JOIN pr${i - 1} p ON p.v = e.src
             LEFT JOIN deg dg ON dg.v = e.src
             GROUP BY t.v)"""
      }.mkString(",\n")
      s"""WITH e AS ($ringE),
          verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY src),
          pr0 AS (SELECT v, CASE WHEN v = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS pr FROM verts),
          $steps
          SELECT v, ROUND(pr, 4) AS pr FROM pr10 WHERE ROUND(pr, 4) >= 0.0001 ORDER BY v"""
    },
    // The complete DAG's layers — the oracle knows nothing about the
    // v1/delta split, so a wrong max-relaxation fails the compare.
    "q_graph_dag_layers_incremental" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer)
           WHERE src < dst),
         walk(v, d) AS (
           SELECT DISTINCT src, 0 FROM e WHERE src NOT IN (SELECT dst FROM e)
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 100)
         SELECT v, CAST(MAX(d) AS BIGINT) AS layer FROM walk GROUP BY v ORDER BY v""",
    // The v2 algebra's increasing-id DAG re-layered from scratch.
    "q_graph_dag_layers_incremental_del" -> dagDelOracleSql,
    // SHARED VERBATIM with the gated twin: the oracle knows nothing
    // about the driver-vs-BSP cascade gate, so the two paths are pinned
    // to one truth at bench scale, not just in GraphSpec's fixture.
    "q_graph_dag_layers_incremental_del_bsp" -> dagDelOracleSql,
    "q_graph_dag_layers" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer)
           WHERE src < dst),
         walk(v, d) AS (
           SELECT DISTINCT src, 0 FROM e WHERE src NOT IN (SELECT dst FROM e)
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 100)
         SELECT v, CAST(MAX(d) AS BIGINT) AS layer FROM walk GROUP BY v ORDER BY v""",
    // Per-graph components recomputed directly — the oracle knows nothing
    // about the id encoding, so a cross-graph component merge (an encoding
    // bug) fails the compare.
    "q_graph_multi_cc" ->
      """WITH RECURSIVE gs(gid) AS (SELECT * FROM (VALUES (0),(1),(2),(3))),
         e0 AS (
           SELECT gs.gid, CAST(n_nationkey+10 AS BIGINT) AS src,
             CAST((n_regionkey+gs.gid)%5 AS BIGINT) AS dst FROM nation, gs
           UNION ALL
           SELECT gs.gid, CAST(c_custkey+100 AS BIGINT), CAST(c_nationkey+10 AS BIGINT)
           FROM customer, gs WHERE c_custkey < 2000),
         e AS (SELECT gid, src, dst FROM e0 UNION ALL SELECT gid, dst, src FROM e0),
         reach(gid, v, root) AS (
           SELECT gid, src, src FROM e
           UNION
           SELECT e.gid, e.dst, r.root FROM reach r
           JOIN e ON e.gid = r.gid AND e.src = r.v),
         comp AS (SELECT gid, v, MIN(root) AS comp FROM reach GROUP BY gid, v)
         SELECT CAST(gid AS BIGINT) AS graph, comp, COUNT(*) AS n_members
         FROM comp GROUP BY gid, comp ORDER BY graph, comp""",
    "q_graph_multi" -> {
      val gs = multiGraphParams
        .map { case (g, m2, a2) => s"($g,$m2,$a2)" }.mkString(",")
      s"""WITH RECURSIVE gs(gid, m2, a2) AS (SELECT * FROM (VALUES $gs)),
         e AS (
           SELECT gs.gid, c_custkey AS src,
             (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst
           FROM customer, gs
           UNION ALL
           SELECT gs.gid, c_custkey,
             (c_custkey*gs.m2+gs.a2)%(SELECT COUNT(*) FROM customer)
           FROM customer, gs),
         walk(gid, v, lvl) AS (
           SELECT gid, CAST(0 AS BIGINT), 0 FROM gs
           UNION
           SELECT e.gid, e.dst, w.lvl+1 FROM walk w
           JOIN e ON e.gid = w.gid AND e.src = w.v WHERE w.lvl < 40)
         SELECT gid AS graph, v, CAST(MIN(lvl) AS INT) AS level
         FROM walk GROUP BY gid, v ORDER BY graph, v"""
    },
    "q_graph_dag_layers_bsp" ->
      """WITH RECURSIVE e AS (
           SELECT src, dst FROM (
             SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
             UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer)
           WHERE src < dst),
         walk(v, d) AS (
           SELECT DISTINCT src, 0 FROM e WHERE src NOT IN (SELECT dst FROM e)
           UNION
           SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 100)
         SELECT v, CAST(MAX(d) AS BIGINT) AS layer FROM walk GROUP BY v ORDER BY v""",
    "q_graph_hits" -> {
      // 5 unrolled RAW HITS iterations (auth sum from the previous hubs,
      // hub sum from the NEW auths — no per-step divide), then ONE final
      // max-normalization per family: normalization commutes with the
      // linear half-steps, so this is the exact recurrence the Spark loop
      // runs after the r7 deferred-normalization change.
      val ringE =
        """SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer"""
      // every block MATERIALIZED: each is referenced by the next half-step
      // (and a5/h5 twice — the MAX scalar + the divide), so inlining
      // doubles the evaluated plan per half-step by iteration 5
      val steps = (1 to 5).map { i =>
        s"""a$i AS MATERIALIZED (
             SELECT t.v, COALESCE(SUM(h.hub), CAST(0 AS DOUBLE)) AS auth
             FROM verts t LEFT JOIN e ON e.dst = t.v LEFT JOIN h${i - 1} h ON h.v = e.src
             GROUP BY t.v),
           h$i AS MATERIALIZED (
             SELECT t.v, COALESCE(SUM(a.auth), CAST(0 AS DOUBLE)) AS hub
             FROM verts t LEFT JOIN e ON e.src = t.v LEFT JOIN a$i a ON a.v = e.dst
             GROUP BY t.v)"""
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($ringE),
          verts AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          h0 AS (SELECT v, CAST(1.0 AS DOUBLE) AS hub FROM verts),
          $steps
          SELECT a5.v,
            ROUND(a5.auth / (SELECT MAX(auth) FROM a5), 4) AS auth,
            ROUND(h5.hub / (SELECT MAX(hub) FROM h5), 4) AS hub
          FROM a5 JOIN h5 ON a5.v = h5.v ORDER BY a5.v"""
    },
    "q_graph_jaccard" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                 FROM e WHERE src <> dst),
         nbr AS (SELECT a AS v, b AS w FROM und UNION SELECT b AS v, a AS w FROM und),
         deg AS (SELECT v, COUNT(*) AS d FROM nbr GROUP BY v),
         inter AS (SELECT u.a, u.b, COUNT(*) AS c
                   FROM und u JOIN nbr x ON x.v = u.a JOIN nbr y ON y.v = u.b AND y.w = x.w
                   GROUP BY u.a, u.b)
         SELECT u.a, u.b,
           CAST(COALESCE(i.c, 0) * 1000000 // (da.d + db.d - COALESCE(i.c, 0)) AS BIGINT)
             AS jaccard_e6
         FROM und u
         LEFT JOIN inter i ON i.a = u.a AND i.b = u.b
         JOIN deg da ON da.v = u.a
         JOIN deg db ON db.v = u.b
         ORDER BY u.a, u.b""",
    // Same 5-moment reduce; DuckDB's HUGEINT sums are cast down only
    // after the exact integer arithmetic, and the sqrt operands are cast
    // to DOUBLE before multiplying (a HUGEINT product would sqrt
    // differently than the double product Spark computes).
    "q_graph_assortativity" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                 FROM e WHERE src <> dst),
         deg AS (SELECT v, COUNT(*) AS deg FROM
                   (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
                 GROUP BY v),
         sym AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
         p AS (SELECT dj.deg AS dj, dk.deg AS dk
               FROM sym JOIN deg dj ON dj.v = sym.x JOIN deg dk ON dk.v = sym.y),
         agg AS (SELECT COUNT(*) AS m, SUM(dj*dk) AS sjk, SUM(dj) AS sj,
                   SUM(dk) AS sk, SUM(dj*dj) AS sjj, SUM(dk*dk) AS skk FROM p)
         SELECT CAST(m AS BIGINT) AS m, CAST(sjk AS BIGINT) AS sjk,
           CAST(sj AS BIGINT) AS sj,
           CAST(m*sjk - sj*sk AS BIGINT) AS num,
           CAST(m*sjj - sj*sj AS BIGINT) AS den_j,
           CAST(m*skk - sk*sk AS BIGINT) AS den_k,
           ROUND(CAST(m*sjk - sj*sk AS BIGINT) /
             SQRT(CAST(m*sjj - sj*sj AS DOUBLE) * CAST(m*skk - sk*sk AS DOUBLE)), 6)
             AS r_e6
         FROM agg""",
    "q_graph_triangles" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                 FROM e WHERE src <> dst)
         SELECT COUNT(*) AS n_triangles
         FROM und x JOIN und y ON x.b = y.a JOIN und z ON z.a = x.a AND z.b = y.b""",
    // v2's triangles counted from scratch — the maintainer's two-sided
    // (+ins / −del) counter algebra must land on the same number.
    "q_graph_triangles_incremental_del" ->
      s"""WITH $bfsDelV2Sql,
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                 FROM v2 WHERE src <> dst)
         SELECT COUNT(*) AS n_triangles
         FROM und x JOIN und y ON x.b = y.a JOIN und z ON z.a = x.a AND z.b = y.b""",
    // Two Borůvka rounds replayed exactly: per-component min outgoing
    // edge via ROW_NUMBER over (w, a, b), contraction via a min-label
    // reachability closure over each round's chosen set.
    "q_graph_msf" -> msfOracleOver(prRingESql, 2, withRound = true),
    // The complete ring's Borůvka replay with the round column DROPPED:
    // the maintainer's per-round choices follow a different path over
    // the candidate subset, but the lexicographic-(w,a,b) MSF is UNIQUE,
    // so the forest SET must match exactly. Unrolled to the measured
    // convergence (the BASE query's 2 rounds are the bounded-unroll
    // showcase, NOT the full forest: 1440 edges at round 2, 1490 at 3,
    // 1498 converged) plus margin — an empty round contributes no rows.
    // Unroll 8 (was 5): the sf1 extension fired the convergence sentinel
    // — at 150k vertices the candidate contraction needs 6 rounds, the
    // exact under-unroll scenario the r11 advice predicted. The sentinel
    // stays: rounds past convergence contribute zero edges, and a future
    // scale needing >8 fails loudly and self-diagnosed.
    "q_graph_msf_incremental" -> msfOracleOver(prRingESql, 8,
      withRound = false),
    // The v2 algebra's forest (ring minus the src % 29 == 11 out-edges),
    // round-less for the same reason.
    "q_graph_msf_incremental_del" -> msfOracleOver(
      s"""SELECT src, dst FROM ($prRingESql) raw0
         WHERE src % $kcoreDelMod <> $kcoreDelRes""", 8, withRound = false),
    // Forced-BSP twins: oracle shared VERBATIM with the gated twins.
    "q_graph_msf_incremental_bsp" -> msfOracleOver(prRingESql, 8,
      withRound = false),
    "q_graph_msf_incremental_del_bsp" -> msfOracleOver(
      s"""SELECT src, dst FROM ($prRingESql) raw0
         WHERE src % $kcoreDelMod <> $kcoreDelRes""", 8, withRound = false),
    // Incremental maintenance must equal the full enumeration of the NEW
    // snapshot — the oracle is q_graph_triangles' complete-graph wedge
    // count and knows nothing about the delta construction.
    "q_graph_triangles_incremental" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                 FROM e WHERE src <> dst)
         SELECT COUNT(*) AS n_triangles
         FROM und x JOIN und y ON x.b = y.a JOIN und z ON z.a = x.a AND z.b = y.b""",
    "q_graph_lcc" -> lccOracleSql,
    // The insert maintainer's v2 IS the complete ring — the base oracle,
    // SHARED VERBATIM (the oracle knows nothing about the state/delta
    // split, so a missed third-corner triangle or a stale reused count
    // fails the hash compare).
    "q_graph_lcc_incremental" -> lccOracleSql,
    // The delete twin recomputes over the v2 algebra (ring minus the
    // src % 29 == 11 out-edges — the kcoredel store's v2).
    "q_graph_lcc_incremental_del" -> lccDelOracleSql,
    "q_graph_degrees" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         o AS (SELECT deg, COUNT(*) AS n_vertices, 'out' AS kind
               FROM (SELECT src, COUNT(*) AS deg FROM e GROUP BY src) GROUP BY deg),
         i AS (SELECT deg, COUNT(*) AS n_vertices, 'in' AS kind
               FROM (SELECT dst, COUNT(*) AS deg FROM e GROUP BY dst) GROUP BY deg)
         SELECT deg, n_vertices, kind FROM (SELECT * FROM o UNION ALL SELECT * FROM i)
         ORDER BY kind, deg""",
    "q_graph_sssp" ->
      """WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         we AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e),
         walk(v, d) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           UNION
           SELECT we.dst, w.d + we.w FROM walk w JOIN we ON we.src = w.v
           WHERE w.d + we.w <= 60),
         best AS (SELECT v, MIN(d) AS dist FROM walk GROUP BY v)
         SELECT v, dist FROM best ORDER BY v""",
    // Incremental maintenance must equal the full solve of the NEW
    // snapshot — the oracle is q_graph_sssp's complete-graph walk and
    // knows nothing about the delta construction.
    "q_graph_sssp_incremental" ->
      """WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         we AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e),
         walk(v, d) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           UNION
           SELECT we.dst, w.d + we.w FROM walk w JOIN we ON we.src = w.v
           WHERE w.d + we.w <= 60),
         best AS (SELECT v, MIN(d) AS dist FROM walk GROUP BY v)
         SELECT v, dist FROM best ORDER BY v""",
    // The v2 edge algebra's weighted walk from scratch (max true dist 33
    // at sf0.1 — the ≤ 60 cap has headroom even with the delete raises).
    "q_graph_sssp_incremental_del" ->
      s"""WITH RECURSIVE $bfsDelV2Sql,
         we AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM v2),
         walk(v, d) AS (
           SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           UNION
           SELECT we.dst, w.d + we.w FROM walk w JOIN we ON we.src = w.v
           WHERE w.d + we.w <= 60),
         best AS (SELECT v, MIN(d) AS dist FROM walk GROUP BY v)
         SELECT v, dist FROM best ORDER BY v""",
    // The identical peel, unrolled: d_i = degrees among round-i
    // survivors, a_i = {v : d_i(v) >= k}; round 1 runs over all vertices.
    // Single-sourced builder across the base query and both maintainers.
    "q_graph_kcore" -> kcoreOracleSql,
    // The insert maintainer's v2 IS the complete ring — the base oracle,
    // SHARED VERBATIM (the oracle knows nothing about the state/delta
    // split, so a wrong candidate closure fails the hash compare).
    "q_graph_kcore_incremental" -> kcoreOracleSql,
    // The delete twin replays the same unroll over the v2 algebra (ring
    // minus the src % 29 == 11 out-edges), two rounds past the measured
    // fixpoint.
    "q_graph_kcore_incremental_del" -> kcoreDelOracleSql,
    // forced-BSP twin: same snapshot, same answer — oracle shared verbatim
    "q_graph_kcore_incremental_del_bsp" -> kcoreDelOracleSql,
    // The identical 4-round edge peel, unrolled: s_i = per-edge triangle
    // support among round-(i−1) survivors, t_i = {edges : support >= k-2}.
    // Survivor CTEs are MATERIALIZED — each feeds both wedge legs of the
    // next round.
    "q_graph_ktruss" -> ktrussOracleSql,
    // The insert maintainer's v2 IS the complete fixture — the base
    // oracle, SHARED VERBATIM (the oracle knows nothing about the
    // state/delta split, so a wrong triangle-candidate closure or a
    // stale reused support fails the hash compare).
    "q_graph_ktruss_incremental" -> ktrussOracleSql,
    // The delete twin replays the same unroll over the v2 algebra (the
    // fixture minus the per-block (0,1) clique/strip edges), two rounds
    // past the measured fixpoint.
    "q_graph_ktruss_incremental_del" -> ktrussDelOracleSql,
    // forced-BSP twin: same snapshot, same answer — oracle shared verbatim
    "q_graph_ktruss_incremental_del_bsp" -> ktrussDelOracleSql,
    // The identical 4-step recurrence, unrolled: each block is one
    // neighbor-label count + most-frequent-with-min-tie-break selection.
    "q_graph_labelprop" -> {
      val steps = (1 to lpIters).map { i =>
        s"""c$i AS (SELECT e.dst AS v, l${i - 1}.lbl, COUNT(*) AS c
             FROM e JOIN l${i - 1} ON l${i - 1}.v = e.src GROUP BY e.dst, l${i - 1}.lbl),
           l$i AS (SELECT v, lbl FROM (
             SELECT v, lbl, ROW_NUMBER() OVER (
               PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH e AS ($hierEdgesSql),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
         $steps
         SELECT lbl AS community, COUNT(*) AS n_members,
           MIN(v) AS min_v, MAX(v) AS max_v
         FROM l$lpIters GROUP BY lbl ORDER BY community"""
    },
    // The identical l0..l4 propagation chain, scored: Q·4m² decomposed per
    // community in exact integers (M·E_dir − d_c²).
    "q_graph_modularity" -> {
      val steps = (1 to lpIters).map { i =>
        s"""c$i AS (SELECT e.dst AS v, l${i - 1}.lbl, COUNT(*) AS c
             FROM e JOIN l${i - 1} ON l${i - 1}.v = e.src GROUP BY e.dst, l${i - 1}.lbl),
           l$i AS (SELECT v, lbl FROM (
             SELECT v, lbl, ROW_NUMBER() OVER (
               PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($hierEdgesSql),
         l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
         $steps,
         lab AS MATERIALIZED (SELECT v, lbl FROM l$lpIters),
         m AS (SELECT COUNT(*) AS m_dir FROM e),
         intra AS (SELECT ls.lbl AS community, COUNT(*) AS e_dir
                   FROM e JOIN lab ls ON ls.v = e.src JOIN lab ld ON ld.v = e.dst
                   WHERE ls.lbl = ld.lbl GROUP BY ls.lbl),
         degc AS (SELECT lab.lbl AS community, CAST(SUM(d.deg) AS BIGINT) AS d_c
                  FROM (SELECT src, COUNT(*) AS deg FROM e GROUP BY src) d
                  JOIN lab ON lab.v = d.src GROUP BY lab.lbl)
         SELECT degc.community,
           CAST(COALESCE(intra.e_dir, 0) // 2 AS BIGINT) AS e_intra,
           degc.d_c,
           CAST((SELECT m_dir FROM m) * COALESCE(intra.e_dir, 0)
                - degc.d_c * degc.d_c AS BIGINT) AS q_contrib_scaled
         FROM degc LEFT JOIN intra ON intra.community = degc.community
         ORDER BY degc.community"""
    },
    // Both Brandes sweeps unrolled over lv (the shared BFS-level CTE):
    // sg_l = path counts at level l (sum of predecessor counts), dl_l =
    // dependencies at level l (σ-weighted 1+δ of level-l+1 successors).
    "q_graph_betweenness" -> {
      val cap = 16
      val sgs = (1 to cap).map { l =>
        s"""sg$l AS (SELECT lv.v, CAST(SUM(p.sigma) AS BIGINT) AS sigma
             FROM lv JOIN ed ON ed.dst = lv.v JOIN sg${l - 1} p ON p.v = ed.src
             WHERE lv.level = $l GROUP BY lv.v)"""
      }.mkString(",\n")
      val dls = ((cap - 1) to 0 by -1).map { l =>
        s"""dl$l AS (SELECT lv.v,
             SUM(CAST(sx.sigma AS DOUBLE) / CAST(sw.sigma AS DOUBLE)
                 * (1 + COALESCE(d.delta, 0))) AS delta
             FROM lv JOIN ed ON ed.src = lv.v
                  JOIN lv wl ON wl.v = ed.dst AND wl.level = ${l + 1}
                  JOIN sgall sx ON sx.v = lv.v
                  JOIN sgall sw ON sw.v = ed.dst
                  LEFT JOIN dl${l + 1} d ON d.v = ed.dst
             WHERE lv.level = $l GROUP BY lv.v)"""
      }.mkString(",\n")
      val sgallUnion = (0 to cap).map(l => s"SELECT * FROM sg$l").mkString(" UNION ALL ")
      val dallUnion = (0 until cap).map(l => s"SELECT * FROM dl$l").mkString(" UNION ALL ")
      // 32+ unrolled blocks referencing ed/lv: without MATERIALIZED DuckDB
      // inlines each reference down to the parquet scan and runs out of
      // file handles ("Too many open files") — materialize the shared
      // frames once, exactly like the Spark side's localCheckpoints.
      ringWalkCte.replace("lv AS (", "lv AS MATERIALIZED (") + s""",
         ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
         sg0 AS (SELECT CAST(0 AS BIGINT) AS v, CAST(1 AS BIGINT) AS sigma),
         $sgs,
         sgall AS MATERIALIZED ($sgallUnion),
         dl$cap AS (SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS DOUBLE) AS delta
                    WHERE FALSE),
         $dls,
         dall AS ($dallUnion)
         SELECT lv.v, CAST(lv.level AS INT) AS level, sg.sigma,
           ROUND(COALESCE(d.delta, 0), 4) AS dep
         FROM lv JOIN sgall sg ON sg.v = lv.v
         LEFT JOIN dall d ON d.v = lv.v
         ORDER BY lv.v"""
    },
    // The single-source betweenness oracle with a seed dimension threaded
    // through every block: lv/sg/dl all key (seed, v), the final agg sums
    // δ over seeds excluding each seed's own row. Same 16-level unroll cap
    // (diameter 8–12; levels past the real depth are empty no-ops).
    "q_graph_betweenness_multi" -> {
      val cap = 16
      val seedsSql = closenessSeeds.mkString(", ")
      val sgs = (1 to cap).map { l =>
        s"""sg$l AS (SELECT lv.seed, lv.v, CAST(SUM(p.sigma) AS BIGINT) AS sigma
             FROM lv JOIN ed ON ed.dst = lv.v
                  JOIN sg${l - 1} p ON p.seed = lv.seed AND p.v = ed.src
             WHERE lv.level = $l GROUP BY lv.seed, lv.v)"""
      }.mkString(",\n")
      val dls = ((cap - 1) to 0 by -1).map { l =>
        s"""dl$l AS (SELECT lv.seed, lv.v,
             SUM(CAST(sx.sigma AS DOUBLE) / CAST(sw.sigma AS DOUBLE)
                 * (1 + COALESCE(d.delta, 0))) AS delta
             FROM lv JOIN ed ON ed.src = lv.v
                  JOIN lv wl ON wl.seed = lv.seed AND wl.v = ed.dst AND wl.level = ${l + 1}
                  JOIN sgall sx ON sx.seed = lv.seed AND sx.v = lv.v
                  JOIN sgall sw ON sw.seed = lv.seed AND sw.v = ed.dst
                  LEFT JOIN dl${l + 1} d ON d.seed = lv.seed AND d.v = ed.dst
             WHERE lv.level = $l GROUP BY lv.seed, lv.v)"""
      }.mkString(",\n")
      val sgallUnion = (0 to cap).map(l => s"SELECT * FROM sg$l").mkString(" UNION ALL ")
      val dallUnion = (0 until cap).map(l => s"SELECT * FROM dl$l").mkString(" UNION ALL ")
      s"""WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         walk(seed, v, lvl) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT UNNEST([$seedsSql]) AS s)
           UNION
           SELECT w.seed, e.dst, w.lvl+1 FROM walk w JOIN e ON e.src = w.v WHERE w.lvl < 40),
         lv AS MATERIALIZED (SELECT seed, v, MIN(lvl) AS level FROM walk GROUP BY seed, v),
         ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
         sg0 AS (SELECT CAST(s AS BIGINT) AS seed, CAST(s AS BIGINT) AS v,
                   CAST(1 AS BIGINT) AS sigma
                 FROM (SELECT UNNEST([$seedsSql]) AS s)),
         $sgs,
         sgall AS MATERIALIZED ($sgallUnion),
         dl$cap AS (SELECT CAST(NULL AS BIGINT) AS seed, CAST(NULL AS BIGINT) AS v,
                      CAST(NULL AS DOUBLE) AS delta WHERE FALSE),
         $dls,
         dall AS ($dallUnion),
         verts AS (SELECT DISTINCT v FROM lv),
         agg AS (SELECT v, SUM(delta) AS bc FROM dall WHERE v <> seed GROUP BY v)
         SELECT verts.v, ROUND(COALESCE(agg.bc, 0), 4) AS bc
         FROM verts LEFT JOIN agg ON agg.v = verts.v
         ORDER BY verts.v"""
    },
    // Multi-seed walk: same ring CTE seeded from the whole sample; the
    // UNION-dedup recursion and MIN(lvl) per (seed, v) mirror the Spark
    // loop's (seed, v)-keyed seen set.
    "q_graph_closeness" -> {
      val seedsSql = closenessSeeds.mkString(", ")
      s"""WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         walk(seed, v, lvl) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT UNNEST([$seedsSql]) AS s)
           UNION
           SELECT w.seed, e.dst, w.lvl+1 FROM walk w JOIN e ON e.src = w.v WHERE w.lvl < 40),
         lv AS (SELECT seed, v, MIN(lvl) AS level FROM walk GROUP BY seed, v)
         SELECT seed, COUNT(*) AS n_reached, CAST(SUM(level) AS BIGINT) AS total_dist,
           CAST(((COUNT(*) - 1) * 1000000) // CAST(SUM(level) AS BIGINT) AS BIGINT)
             AS closeness_e6
         FROM lv GROUP BY seed ORDER BY seed"""
    },
    // Identical multi-seed walk; per-term integer micro-unit reciprocal
    // before the SUM, mirroring the Spark side's exact arithmetic.
    "q_graph_harmonic" -> {
      val seedsSql = closenessSeeds.mkString(", ")
      s"""WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         walk(seed, v, lvl) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT UNNEST([$seedsSql]) AS s)
           UNION
           SELECT w.seed, e.dst, w.lvl+1 FROM walk w JOIN e ON e.src = w.v WHERE w.lvl < 40),
         lv AS (SELECT seed, v, MIN(lvl) AS level FROM walk GROUP BY seed, v)
         SELECT seed, CAST(SUM(1000000 // level) AS BIGINT) AS harmonic_e6,
           COUNT(*) AS n_reached
         FROM lv WHERE level > 0 GROUP BY seed ORDER BY seed"""
    },
    // Identical multi-seed walk; ecc = per-seed MAX level, diam_lb = the
    // sample max cross-joined back.
    "q_graph_ecc" -> {
      val seedsSql = closenessSeeds.mkString(", ")
      s"""WITH RECURSIVE e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         walk(seed, v, lvl) AS (
           SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0
           FROM (SELECT UNNEST([$seedsSql]) AS s)
           UNION
           SELECT w.seed, e.dst, w.lvl+1 FROM walk w JOIN e ON e.src = w.v WHERE w.lvl < 40),
         lv AS (SELECT seed, v, MIN(lvl) AS level FROM walk GROUP BY seed, v),
         ec AS (SELECT seed, CAST(MAX(level) AS BIGINT) AS ecc,
                  COUNT(*) AS n_reached FROM lv GROUP BY seed)
         SELECT seed, ecc, n_reached,
           (SELECT MAX(ecc) FROM ec) AS diam_lb
         FROM ec ORDER BY seed"""
    },
    // Same distinct non-loop edge set; mutual = semi-join on the reverse.
    "q_graph_reciprocity" ->
      """WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
         m AS (SELECT COUNT(*) AS n_mutual FROM de a
               WHERE EXISTS (SELECT 1 FROM de b
                             WHERE b.src = a.dst AND b.dst = a.src)),
         t AS (SELECT COUNT(*) AS n_edges FROM de)
         SELECT n_mutual, n_edges,
           n_mutual * 1000000 // n_edges AS reciprocity_e6
         FROM m CROSS JOIN t""",
    // The identical 4-step hash-argmin walk, unrolled; the hash input
    // string (seed-step-src-dst) is single-sourced with the Spark side's
    // concat_ws spelling.
    "q_graph_walks" -> {
      val seedsSql = closenessSeeds.mkString(", ")
      def hashOf(st: Int) = graft.functions.PortableHash.sql(
        s"concat_ws('-', seed, $st, e.src, e.dst)")
      val steps = (1 to walkSteps).map { st =>
        s"""w$st AS (SELECT seed, $st AS step, dst AS v FROM (
             SELECT w.seed, e.dst,
               ROW_NUMBER() OVER (PARTITION BY w.seed
                 ORDER BY ${hashOf(st)}, e.dst) AS rn
             FROM w${st - 1} w JOIN de e ON e.src = w.v)
           WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH e AS (
           SELECT c_custkey AS src, (c_custkey*2+1)%(SELECT COUNT(*) FROM customer) AS dst FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*5+7)%(SELECT COUNT(*) FROM customer) FROM customer
           UNION ALL
           SELECT c_custkey, (c_custkey*16+3)%(SELECT COUNT(*) FROM customer) FROM customer),
         de AS (SELECT DISTINCT src, dst FROM e),
         w0 AS (SELECT CAST(s AS BIGINT) AS seed, 0 AS step, CAST(s AS BIGINT) AS v
                FROM (SELECT UNNEST([$seedsSql]) AS s)),
         $steps
         SELECT seed, step, v FROM (
           SELECT * FROM w0 ${(1 to walkSteps).map(i => s"UNION ALL SELECT * FROM w$i").mkString(" ")})
         ORDER BY seed, step"""
    },
    "q_graph_cc_bsp" -> ccOracleSql,
    "q_graph_mis" -> misOracleSql,
    "q_graph_mis_bsp" -> misOracleSql,
    "q_graph_mis_incremental" -> misMembersOracleSql,
    // the fallback twins answer the same question on the same snapshot —
    // the oracle (full new-graph replay) is shared verbatim
    "q_graph_mis_incremental_fallback" -> misMembersOracleSql,
    "q_graph_coloring_incremental_fallback" -> coloringMembersOracleSql,
    "q_graph_mis_incremental_del" -> misMembersDelOracleSql,
    "q_graph_coloring_incremental_del" -> coloringMembersDelOracleSql,
    "q_graph_coloring" -> coloringOracleSql,
    "q_graph_coloring_bsp" -> coloringOracleSql,
    "q_graph_coloring_spec" -> specColoringOracleSql,
    "q_graph_coloring_incremental" -> coloringMembersOracleSql,
    // hub-fixture family: identical round replays over the hub algebra
    "q_graph_coloring_hub" -> coloringOracle(withRound = true,
      edgeCte = hubUndSql),
    "q_graph_coloring_spec_hub" -> specColoringHubOracleSql,
    "q_graph_coloring_hub_incremental" -> coloringOracle(withRound = false,
      edgeCte = hubUndSql),
    "q_graph_coloring_hub_incremental_del" -> coloringOracle(
      withRound = false, edgeCte = hubUndMinusLowBandSql),
    // Both sweeps replayed: lv is the seed-0 walk, far the deterministic
    // deepest-level min-id choice, walk2 the re-sweep from it.
    "q_graph_diameter" ->
      (ringWalkCte + """,
         far AS (SELECT MIN(v) AS fv FROM lv
                 WHERE level = (SELECT MAX(level) FROM lv)),
         walk2(v, lvl) AS (
           SELECT (SELECT fv FROM far), 0
           UNION
           SELECT e.dst, w.lvl+1 FROM walk2 w JOIN e ON e.src = w.v
           WHERE w.lvl < 40),
         lv2 AS (SELECT v, MIN(lvl) AS level FROM walk2 GROUP BY v)
         SELECT CAST(0 AS BIGINT) AS start_v,
           CAST((SELECT MAX(level) FROM lv) AS INT) AS ecc_start,
           (SELECT fv FROM far) AS far_v,
           CAST((SELECT MAX(level) FROM lv2) AS INT) AS diameter_lb"""),
    "q_graph_cc" -> ccOracleSql,
    // The FULL graph's components — the oracle knows nothing about the
    // v1/delta split, so a wrong incremental merge fails the compare.
    "q_graph_cc_incremental" -> ccOracleSql,
    // The full recompute over the DELETE-bearing v2 snapshot — the oracle
    // replays the fixture's edge algebra directly (drop region 4's
    // nation↔region edges, add the two merge inserts) and re-derives
    // every component from scratch; a maintainer that failed to split,
    // vanish the isolated node, or glue an insert fails the compare.
    "q_graph_cc_incremental_del" ->
      s"""WITH RECURSIVE e AS ($hierEdgesSql),
         mn4 AS (SELECT CAST(MIN(n_nationkey+10) AS BIGINT) AS v
                 FROM nation WHERE n_regionkey = 4),
         v2 AS MATERIALIZED (
           SELECT src, dst FROM e
           WHERE NOT (src = 4 AND dst BETWEEN 10 AND 99)
             AND NOT (dst = 4 AND src BETWEEN 10 AND 99)
           UNION ALL SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT)
           UNION ALL SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
           UNION ALL SELECT v, CAST(3 AS BIGINT) FROM mn4
           UNION ALL SELECT CAST(3 AS BIGINT), v FROM mn4),
         reach(v, root) AS (
           SELECT src, src FROM v2 WHERE src < 100
           UNION
           SELECT v2.dst, r.root FROM reach r JOIN v2 ON v2.src = r.v),
         comp AS (SELECT v, MIN(root) AS comp FROM reach GROUP BY v)
         SELECT comp, COUNT(*) AS n_members, MIN(v) AS min_v, MAX(v) AS max_v
         FROM comp GROUP BY comp ORDER BY comp""",
    "q_graph_store_roundtrip" ->
      """SELECT CAST(n_nationkey + 5 AS BIGINT) AS src,
                CAST(n_regionkey AS BIGINT) AS dst,
                COUNT(*) OVER (PARTITION BY n_regionkey) AS dst_in_degree
         FROM nation ORDER BY src, dst""",
    // Both snapshots recomputed straight from `nation`: snapshot 1 is the
    // src <= 15 subset, snapshot 2 the full set.
    "q_graph_store_timetravel" ->
      """WITH e AS (SELECT CAST(n_nationkey + 5 AS BIGINT) AS src,
                    CAST(n_regionkey AS BIGINT) AS dst FROM nation)
         SELECT CAST(1 AS BIGINT) AS snapshot, COUNT(*) AS n_edges,
           CAST(SUM(src) AS BIGINT) AS src_sum, CAST(SUM(dst) AS BIGINT) AS dst_sum
         FROM e WHERE src <= 15
         UNION ALL
         SELECT CAST(2 AS BIGINT), COUNT(*),
           CAST(SUM(src) AS BIGINT), CAST(SUM(dst) AS BIGINT) FROM e
         ORDER BY snapshot""",
    // Both versions recomputed from `nation`; the synthetic (99,99) edge
    // exists only in v1, so all three change classes carry real rows.
    "q_graph_store_diff" ->
      """WITH e AS (SELECT CAST(n_nationkey + 5 AS BIGINT) AS src,
                    CAST(n_regionkey AS BIGINT) AS dst FROM nation),
         v1 AS (SELECT src, dst FROM e WHERE src <= 15
                UNION ALL SELECT 99, 99),
         v2 AS (SELECT src, dst FROM e),
         d AS (SELECT COALESCE(v1.src, v2.src) AS src,
                 CASE WHEN v1.src IS NULL THEN 'inserted'
                      WHEN v2.src IS NULL THEN 'deleted'
                      ELSE 'unchanged' END AS change
               FROM v1 FULL OUTER JOIN v2
                 ON v1.src = v2.src AND v1.dst = v2.dst)
         SELECT change, COUNT(*) AS n_edges, CAST(SUM(src) AS BIGINT) AS src_sum
         FROM d GROUP BY change ORDER BY change""",
    // Honest SCC oracle: full transitive closure, mutual-reachability
    // pairs, scc id = max mutually-reachable vertex (self included — a
    // vertex off any cycle is its own component). The closure is the
    // reason for the vertex cap; `rr` is MATERIALIZED because the mutual
    // self-join references the recursive result twice.
    "q_graph_scc" ->
      s"""WITH RECURSIVE
         verts AS (SELECT CAST(c_custkey AS BIGINT) AS c FROM customer
                   WHERE c_custkey < LEAST((SELECT COUNT(*) FROM customer), $sccVertexCap)),
         vn AS (SELECT COUNT(*) AS n FROM verts),
         e AS (
           SELECT c AS src, (c // 8) * 8
               + ((c % 8) + 1) % LEAST(8, (SELECT n FROM vn) - (c // 8) * 8) AS dst
           FROM verts
           UNION ALL
           SELECT c, c + 11 FROM verts
           WHERE c + 11 < (SELECT n FROM vn) AND (c // 8) < ((c + 11) // 8)),
         reach(a, b) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
         rr AS MATERIALIZED (SELECT a, b FROM reach),
         mutual AS (SELECT r1.a AS v, r1.b AS w
                    FROM rr r1 JOIN rr r2 ON r2.a = r1.b AND r2.b = r1.a),
         scc AS (SELECT verts.c AS v,
             GREATEST(verts.c, COALESCE(MAX(m.w), verts.c)) AS scc
           FROM verts LEFT JOIN mutual m ON m.v = verts.c GROUP BY verts.c)
         SELECT scc, COUNT(*) AS n_members, MIN(v) AS min_v
         FROM scc GROUP BY scc ORDER BY scc"""
  )
}
