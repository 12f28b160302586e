package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{ProcessCache, QueryModule, Tables}

/** Relational core: scan→filter→project, equi/semi/anti/theta/range/as-of
  * joins, hash aggregation, distinct, rollup/cube/grouping-sets, sorts,
  * top-k, set ops, pivot.
  *
  * The reference (Sabr-eX/GraphDatabase) has NO relational operators — this
  * is the mandated Part-B surface (SURVEY.md §2 Part B). The closest
  * reference behavior is the full-matrix scan at
  * `Assignment2/secondary_server.c:537-559` (scan) and the `wc -w` external
  * aggregation at `Assignment1/server.c:179-252`.
  *
  * Scale posture: every query is declarative DataFrame API, so Catalyst
  * pushes filters/projections into the parquet scan; small dims
  * (region/nation/buckets) are explicitly `broadcast()`; large joins shuffle
  * on their keys and AQE (on by default in Spark 4) handles skew/coalesce.
  * Output determinism: every query ends in an explicit orderBy with a
  * unique tie-break, and float aggregates are rounded so oracle comparison
  * is engine-stable.
  */
object Relational extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // Raw scan for queries whose first operator already shuffles on its own
  // key (groupBy/distinct/window) or broadcast-probes — the small-file
  // fan-out shuffle in Tables() is pure overhead for those.
  private def tr(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.raw(s, dir, name)

  /** Once-per-process staged partitioned copy of events for q_join_dpp
    * ([[graft.ProcessCache.once]]: re-writing per call would bill the
    * layout job to the query's measured time on every run). */
  private def stageDppTable(s: SparkSession, dir: String): String =
    ProcessCache.once("dpp", dir) { out =>
      Tables.raw(s, dir, "events")
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
    }

  /** Exact interpolated percentiles per group, replicating Spark's
    * `percentile()` semantics bit-for-bit WITHOUT its
    * ObjectHashAggregate: the built-in Percentile aggregate builds an
    * OpenHashMap per partial, ships the serialized maps through the
    * shuffle, and sorts the merged map single-threaded per group — at
    * sf0.1 that was ~2 s of the q_agg_stats / q_agg_approx_pct times,
    * and at 100 TB an unbounded in-memory map per group (OOM, no spill).
    * This spelling is the q_agg_wmedian discipline: hash-aggregate
    * (group, value) counts (map-side combine), ONE spillable
    * sort+window over the value dictionary for the running count, then
    * conditional-min lookups — every stage whole-stage-codegen, every
    * buffer spillable.
    *
    * Arithmetic is Spark's own (PercentileBase.getPercentile, verified
    * against the 4.1.2 bytecode): position = (N−1).toDouble × p;
    * lower = floor(position), higher = ceil(position); lowerKey = the
    * value covering 0-based sorted index `lower` (= min value whose
    * running count ≥ lower+1), higherKey likewise; result = lowerKey
    * when higher == lower or the keys coincide, else
    * (higher − position)·lowerKey + (position − lower)·higherKey — the
    * identical double expression, so results are bit-identical to the
    * built-in (oracle-verified at sf0.01/sf0.1).
    *
    * Returns one row per group: (`g`, names…), null-valued inputs
    * ignored like the built-in. */
  private def exactPercentiles(df: DataFrame, g: String, x: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val byVal = df.filter(col(x).isNotNull)
      .groupBy(col(g), col(x).as("pv")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy(g).orderBy("pv")))
      .withColumn("tot", sum("cnt").over(Window.partitionBy(g)))
    def pos(p: Double) = (col("tot") - 1).cast("double") * lit(p)
    val lookups = ps.flatMap { case (nm, p) =>
      Seq(
        min(when(col("cum") >= floor(pos(p)) + 1, col("pv"))).as(s"${nm}_lk"),
        min(when(col("cum") >= ceil(pos(p)) + 1, col("pv"))).as(s"${nm}_hk"))
    } :+ max("tot").as("tot")
    val outs = ps.map { case (nm, p) =>
      val position = pos(p)
      val lo = floor(position)
      val hi = ceil(position)
      when(hi === lo || col(s"${nm}_lk") === col(s"${nm}_hk"), col(s"${nm}_lk"))
        .otherwise((hi.cast("double") - position) * col(s"${nm}_lk") +
          (position - lo.cast("double")) * col(s"${nm}_hk")).as(nm)
    }
    byVal.groupBy(g).agg(lookups.head, lookups.tail: _*)
      .select(col(g) +: outs: _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: scan→filter→hash agg (partial+final
    // map-side combine comes free from Catalyst).
    "q_pricing_summary" -> ((s, dir) => {
      tr(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Predicate variety: IN, LIKE, BETWEEN, >=, IS NOT NULL — all pushed to
    // the parquet scan (verify via PushedFilters in explain).
    "q_filter_predicates" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(
          col("o_orderstatus").isin("O", "F") &&
          (col("o_orderpriority").like("1%") || col("o_orderpriority").like("2%")) &&
          col("o_totalprice").between(1000.0, 300000.0) &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_custkey").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("tp"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    // Star-schema join: both dims broadcast (no shuffle of the fact side
    // beyond the final agg).
    "q_join_bcast" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum("c_acctbal"), 2).as("total_bal"))
        .orderBy("r_name", "n_name")
    }),

    // Large-side shuffle join (orders ⋈ lineitem on orderkey) + distinct agg.
    "q_join_shuffle" -> ((s, dir) => {
      val o = tr(s, dir, "orders")
      val l = tr(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          countDistinct("o_orderkey").as("n_orders"),
          count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Left-semi: customers with ≥1 urgent big order.
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // Left-anti: customers with no event activity (event user_ids only cover
    // a prefix of the custkey space, so this is non-empty).
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val e = t(s, dir, "events")
      c.join(e, c("c_custkey") === e("user_id"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_silent"))
        .orderBy("c_nationkey")
    }),

    // Full outer join: per-nation customer vs supplier rollups, keeping
    // nations that have only one side (null-filled on the other).
    "q_join_full" -> ((s, dir) => {
      val c = tr(s, dir, "customer").filter(col("c_acctbal") > 9000.0)
        .groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = tr(s, dir, "supplier").filter(col("s_acctbal") > 4000.0)
        .groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    // Cross join (bounded: two tiny dims) — the explicit cartesian product.
    "q_join_cross" -> ((s, dir) => {
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      val seg = tr(s, dir, "customer").select("c_mktsegment").distinct()
      r.crossJoin(seg)
        .select(col("r_regionkey"), col("r_name"), col("c_mktsegment"))
        .orderBy("r_regionkey", "c_mktsegment")
    }),

    // Theta join: equi key (nation) + non-equi residual (acctbal ordering).
    "q_join_theta" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      sup.join(c, sup("s_nationkey") === c("c_nationkey") && sup("s_acctbal") < c("c_acctbal"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_richer"),
          round(sum(c("c_acctbal") - sup("s_acctbal")), 2).as("gap_sum"))
        .orderBy("s_suppkey")
    }),

    // Range join against a broadcast bucket dim (BroadcastNestedLoopJoin).
    "q_join_range" -> ((s, dir) => {
      import s.implicits._
      val buckets = Seq(
        (0.0, 10.0, "b0"), (10.0, 20.0, "b1"), (20.0, 30.0, "b2"),
        (30.0, 40.0, "b3"), (40.0, 50.5, "b4")).toDF("lo", "hi", "bucket")
      tr(s, dir, "lineitem")
        .join(broadcast(buckets), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("bucket")
        // exact integer cents, not ROUND(SUM(double)): at sf1 the 6M-row
        // double sum diverged from DuckDB's by one ulp exactly on a
        // .005 rounding boundary (the r11 sf1 compare's one catch) —
        // summation ORDER is engine-specific, cents are not
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("total_cents"))
        .orderBy("bucket")
    }),

    // Large×large interval join with NO equi key — the shape that planners
    // naively execute as a nested-loop cross product. Banded rewrite: each
    // point carries its frame-width band floor(p/W); each interval explodes
    // to the bands it spans (bounded fan-out: interval width == W ⇒ ≤ 2
    // bands); the join becomes a plain EQUI join on band (shuffleable,
    // AQE-skew-splittable) with the exact range predicate as a residual
    // filter. A (point, interval) pair matches in exactly one band (the
    // point's), so no post-dedup is needed. Same trick as the banded RANGE
    // window, applied to joins.
    "q_join_interval" -> ((s, dir) => {
      val W = 1000.0
      val ivs = tr(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice").as("lo"),
          (col("o_totalprice") + W).as("hi"))
        .withColumn("band", explode(sequence(
          floor(col("lo") / W).cast("long"), floor(col("hi") / W).cast("long"))))
      val pts = tr(s, dir, "lineitem")
        .select(col("l_extendedprice").as("p"))
        .withColumn("band", floor(col("p") / W).cast("long"))
      pts.join(ivs, Seq("band"))
        .filter(col("p") >= col("lo") && col("p") < col("hi"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_in_range"), round(sum("p"), 2).as("price_sum"))
        .orderBy("o_orderkey")
    }),

    // As-of join: for each event, the latest order of that customer at or
    // before the event time. Key-equi join + per-event row_number, which is
    // the shuffle-friendly as-of formulation (no sort-merge interleave op in
    // Spark; DuckDB expresses the same with ASOF JOIN).
    // As-of join in the MERGE spelling (r13): the join+window version
    // fanned out every event against ALL of its user's earlier orders
    // (Σ_user events×orders rows — quadratic per user, and at 100 TB one
    // power user is a straggler task). Instead both sides union into one
    // per-user timeline sorted by (ts, side, o_orderkey) with orders
    // BEFORE events at equal ts (the <= inclusivity) and larger
    // o_orderkey later at equal date (the DESC tie-break), and each
    // event reads its as-of order via a running last(_, ignoreNulls) —
    // O(E+O) rows, ONE user-keyed exchange, no fanout. Events with no
    // prior order drop (the inner-join contract). Same oracle verbatim.
    "q_join_asof" -> ((s, dir) => {
      val e = t(s, dir, "events").select("event_id", "user_id", "ts")
      // NULL o_orderdate would sort nulls-first and become an eligible
      // as-of match for EVERY later event; the join spelling's predicate
      // (o_orderdate <= ts) dropped such rows, so drop them here too.
      val o = t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
        .filter(col("o_orderdate").isNotNull)
      val oRows = o.select(col("o_custkey").as("user_id"),
        col("o_orderdate").cast("timestamp").as("mts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("o_orderkey"), col("o_orderdate"))
      val eRows = e.select(col("user_id"), col("ts").as("mts"), lit(1).as("side"),
        col("event_id"), lit(null).cast(o.schema("o_orderkey").dataType).as("o_orderkey"),
        lit(null).cast(o.schema("o_orderdate").dataType).as("o_orderdate"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("mts"), col("side"), col("o_orderkey").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      oRows.unionByName(eRows)
        .withColumn("ok", last("o_orderkey", ignoreNulls = true).over(w))
        .withColumn("od", last("o_orderdate", ignoreNulls = true).over(w))
        .filter(col("side") === 1 && col("ok").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("ok").as("o_orderkey"), col("od").as("o_orderdate"))
        .orderBy("event_id")
    }),

    // Top-k: Catalyst rewrites orderBy+limit to TakeOrderedAndProject (no
    // global sort of the full table).
    "q_topk" -> ((s, dir) => {
      tr(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
    }),

    // Set ops: INTERSECT / EXCEPT / UNION(distinct) with tags.
    "q_setops" -> ((s, dir) => {
      val o = tr(s, dir, "orders")
      def yr(y: Int): DataFrame =
        o.filter(year(col("o_orderdate")) === y).select("o_custkey").distinct()
      val both = yr(1995).intersect(yr(1996)).withColumn("tag", lit("both"))
      val only95 = yr(1995).except(yr(1996)).withColumn("tag", lit("only_1995"))
      val either = yr(1995).union(yr(1996)).distinct().withColumn("tag", lit("either"))
      both.union(only95).union(either).orderBy("tag", "o_custkey")
    }),

    // Multiset set-ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    // cardinalities (lineitem has many lines per (orderkey, suppkey)).
    "q_setops_all" -> ((s, dir) => {
      val l = tr(s, dir, "lineitem")
      def keys(flag: String): DataFrame =
        l.filter(col("l_returnflag") === flag).select("l_suppkey")
      val ia = keys("A").intersectAll(keys("R")).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("intersect_all"))
      val ea = keys("A").exceptAll(keys("R")).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n")).withColumn("tag", lit("except_all"))
      ia.union(ea).orderBy("tag", "l_suppkey")
    }),

    "q_rollup" -> ((s, dir) => {
      tr(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    "q_grouping_sets" -> ((s, dir) =>
      graft.SqlViews.withViews(s, "orders_gs" -> tr(s, dir, "orders")) { v =>
        s.sql(s"""
          SELECT o_orderstatus, o_orderpriority, count(*) AS n
          FROM ${v("orders_gs")}
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
      }),

    "q_agg_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct("l_partkey").as("nd_part"),
          countDistinct("l_suppkey").as("nd_supp"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // Approximate distinct (HLL++). The sketch value itself is
    // engine-specific, so the oracled contract is: the exact count (which
    // DuckDB recomputes) plus `apx_ok` = the sketch landed within its
    // advertised error bound. HLL registers are max-merged, so the sketch
    // is deterministic and partitioning-independent — the bound can't
    // flicker between runs.
    "q_agg_approx_distinct" -> ((s, dir) => {
      // The sketch and the exact count run as SEPARATE aggregations: a
      // mixed distinct/non-distinct agg makes Catalyst evaluate the
      // partial HLL in the (group, distinct-key) pre-aggregate — one 4 KB
      // register buffer PER DISTINCT (flag, partkey) PAIR (~200k buffers
      // at sf0.1, ~800 MB of partial state through the shuffle; measured
      // 3.6 s + 0.3 s GC). Split, the HLL partial is per (group ×
      // partition) — a handful of buffers — and the register max-merge is
      // partition-order-independent, so the estimate is bit-identical.
      val li = t(s, dir, "lineitem")
      val apx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct("l_partkey", 0.02).as("apx"))
      li.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("nd_part"))
        // LEFT join (r14 ADVICE): a group whose sketch input is all-null,
        // or a null group key, keeps its row with null sketch values —
        // the old single-aggregation behavior. Inner ≡ left on this data
        // (both frames aggregate the same table by the same key).
        .join(broadcast(apx), Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), col("nd_part"),
          (abs(col("apx") - col("nd_part")) <=
            col("nd_part").cast("double") * 0.05).as("apx_ok"))
        .orderBy("l_returnflag")
    }),

    // Approximate percentiles (the 100 TB path for q_agg_stats' exact
    // percentiles). Same oracled self-check contract as
    // q_agg_approx_distinct: exact percentiles (DuckDB-recomputable) +
    // `apx_ok` = the sketch is within 1% relative error of exact (the
    // rank-error bound at accuracy=10000 is far tighter).
    "q_agg_approx_pct" -> ((s, dir) => {
      // exact reference percentiles via the sort+window spelling
      // ([[exactPercentiles]] — same values as the old percentile()
      // aggregate, without its per-group in-memory map); the SKETCH side
      // stays the approx_percentile aggregate under test
      val li = t(s, dir, "lineitem")
      val ex = exactPercentiles(li, "l_returnflag", "l_extendedprice",
        Seq("ex_med" -> 0.5, "ex_p90" -> 0.9))
      li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").as("pcts"))
        // LEFT join — the r14-ADVICE null-group semantics (see
        // q_agg_approx_distinct); inner ≡ left on this data
        .join(broadcast(ex), Seq("l_returnflag"), "left")
        .select(col("l_returnflag"),
          round(col("ex_med"), 4).as("median_price"),
          round(col("ex_p90"), 4).as("p90_price"),
          (abs(element_at(col("pcts"), 1) - col("ex_med")) / col("ex_med") <= 0.01 &&
           abs(element_at(col("pcts"), 2) - col("ex_p90")) / col("ex_p90") <= 0.01).as("apx_ok"))
        .orderBy("l_returnflag")
    }),

    // Statistical aggregates: stddev/variance, exact percentiles (the scale
    // path is approx_percentile — see q_agg_approx_distinct for the sketch
    // posture), correlation and covariance.
    "q_agg_stats" -> ((s, dir) => {
      // exact percentiles via [[exactPercentiles]] (bit-identical to the
      // old percentile() aggregate, minus its ObjectHashAggregate map);
      // the declarative aggregates stay in one codegen hash-agg pass and
      // the 3-row percentile frame broadcast-joins back
      val li = t(s, dir, "lineitem")
      val pct = exactPercentiles(li, "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      li.groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          // `+ 0.0` normalizes IEEE -0.0 → +0.0 (DuckDB rounds tiny negative
          // covariances to -0.0, which hash-differs from Spark's 0.0).
          (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("qty_price_corr"),
          (round(covar_samp(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("disc_tax_cov"),
          round(min("l_extendedprice"), 2).as("min_price"),
          round(max("l_extendedprice"), 2).as("max_price"))
        // LEFT join — the r14-ADVICE null-group semantics (see
        // q_agg_approx_distinct); inner ≡ left on this data
        .join(broadcast(pct), Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), col("sd_price"),
          round(col("p50"), 4).as("median_price"),
          round(col("p90"), 4).as("p90_price"),
          col("qty_price_corr"), col("disc_tax_cov"),
          col("min_price"), col("max_price"))
        .orderBy("l_returnflag")
    }),

    // Deterministic mode: most frequent value per group with an explicit
    // min-value tie-break (engines' built-in mode() breaks ties
    // arbitrarily, which can never hash-match) — count + rank-1.
    "q_agg_mode" -> ((s, dir) => {
      val counts = tr(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("n").desc, col("l_quantity"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_returnflag"),
          round(col("l_quantity"), 2).as("mode_qty"), col("n").as("mode_n"))
        .orderBy("l_returnflag")
    }),

    // Exact weighted median per group (price weighted by quantity) — the
    // exact counterpart of q_agg_approx_pct. Scale shape: pre-aggregate
    // weights by (group, value) FIRST (hash agg, map-side combine — the
    // 600k-row scan compacts to |distinct values| rows), then one window
    // pass over the compact frame computes the running weight, and the
    // median is the least value whose running weight reaches half the
    // total. The default RANGE window frame makes the running sum
    // deterministic under value ties on both engines. At 100 TB the window
    // sees only the value dictionary, not the rows; low group cardinality
    // makes the window partition wide, but it is |dictionary|-sized, not
    // |table|-sized.
    "q_agg_wmedian" -> ((s, dir) => {
      val byVal = tr(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("rf", "cents").agg(sum("qty").as("w"))
      byVal
        .withColumn("cw", sum("w").over(
          Window.partitionBy("rf").orderBy("cents")))
        .withColumn("tot", sum("w").over(Window.partitionBy("rf")))
        .filter(col("cw") * 2 >= col("tot"))
        .groupBy("rf")
        .agg(min("cents").as("wmedian_cents"), max("tot").as("total_weight"))
        .orderBy("rf")
    }),

    // Salted skew join as an oracled query: lineitem (probe, suppkey-
    // skew-prone at scale) ⋈ supplier, salted 8 ways — the hot-key
    // countermeasure when the build side is replicable. Result must equal
    // the plain join (which is exactly what the oracle computes).
    "q_join_salted" -> ((s, dir) => {
      val l = tr(s, dir, "lineitem")
        .select(col("l_suppkey").as("k"), col("l_extendedprice"))
      val sup = tr(s, dir, "supplier")
        .select(col("s_suppkey").as("k"), col("s_nationkey"))
      graft.plans.SkewJoin.saltedJoin(l, sup, "k", 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_extendedprice"), 2).as("total"))
        .orderBy("s_nationkey")
    }),

    // Deterministic hash sampling — the reproducible alternative to
    // df.sample() (whose output depends on partitioning): keep rows whose
    // portable key hash lands in the first 5 of 100 residue classes. The
    // same rows are selected on any engine, any partitioning, any run —
    // the property a 100 TB pipeline needs for resumable sampled jobs.
    "q_sample_hash" -> ((s, dir) => {
      val h = graft.functions.PortableHash.hash60(col("o_orderkey").cast("string"))
      tr(s, dir, "orders")
        .filter(h % 100 < 5)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_sampled"),
          round(sum("o_totalprice"), 2).as("sampled_total"))
        .orderBy("o_orderpriority")
    }),

    // Equi-width histogram: fixed-width buckets keep the plan a single
    // hash aggregation (no sort, no percentile state) — the scalable
    // first look at a distribution.
    "q_agg_histogram" -> ((s, dir) => {
      tr(s, dir, "lineitem")
        .withColumn("bucket", floor(col("l_extendedprice") / 5000).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("l_extendedprice"), 2).as("avg_price"))
        .orderBy("bucket")
    }),

    // Pivot: event_type counts per user, fixed column set for a stable schema.
    "q_pivot_events" -> ((s, dir) => {
      tr(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    }),

    // Unpivot (melt): three lineitem measures stacked into (measure, value)
    // rows — `stack` is a Generate-planned projection (no shuffle, no
    // self-union scan ×3), then one hash agg.
    "q_unpivot" -> ((s, dir) => {
      tr(s, dir, "lineitem")
        .select(expr(
          """stack(3,
               'discount', CAST(l_discount AS DOUBLE),
               'extendedprice', CAST(l_extendedprice AS DOUBLE),
               'quantity', CAST(l_quantity AS DOUBLE))
             AS (measure, value)"""))
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("measure")
    }),

    // Bucketed co-located join: both sides written bucketBy(8) on the join
    // key, so the sort-merge join reads pre-partitioned buckets — ZERO
    // Exchange in the executed plan (asserted in ScaleSpec's bucketing
    // test; here the broadcast threshold is disabled during the in-query
    // materialization so the bucket-to-bucket SMJ path actually executes).
    // At 100 TB this is the canonical repeated-join layout: bucket once,
    // join shuffle-free forever.
    "q_join_bucketed" -> ((s, dir) => {
      // Per-CALL unique tag (the SqlViews discipline): concurrent callers
      // in one JVM must not collide on catalog names or bucket dirs; the
      // tables and files are dropped as soon as the join is materialized.
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      val base = ProcessCache.path("bucketed", tag)
      val (to, tc) = (s"graft_bo_$tag", s"graft_bc_$tag")
      def writeBucketed(df: DataFrame, tbl: String, key: String): Unit =
        df.write.option("path", s"$base/$tbl")
          .bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val joined = try {
        writeBucketed(tr(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"), to, "o_custkey")
        writeBucketed(tr(s, dir, "customer")
          .select("c_custkey", "c_mktsegment"), tc, "c_custkey")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.table(to).join(s.table(tc), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
          .localCheckpoint(true) // materialize INSIDE the no-broadcast window
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        Seq(to, tc).foreach(tbl => s.sql(s"DROP TABLE IF EXISTS $tbl"))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
      joined.orderBy("c_mktsegment")
    }),

    // Snapshot diff (CDC reconciliation): classify every primary key across
    // two table versions as insert / delete / update / unchanged — the
    // change-capture job incremental pipelines run between loads. Both
    // snapshots derive deterministically from orders (B inserts the
    // keys ≡0 mod 4, drops ≡1 mod 4, and bumps ≡2 mod 10 by +1.0 — an
    // EXACT IEEE op, so the update comparison is engine-stable with no
    // rounding in play). Shape: one full-outer sort-merge join on the pk,
    // classification is a projection, then a 4-group agg. At 100 TB both
    // snapshots are bucketed on the pk and the join runs exchange-free —
    // the cost is two scans, not a shuffle.
    "q_snapshot_diff" -> ((s, dir) => {
      val o = tr(s, dir, "orders")
      val snapA = o.filter(col("o_orderkey") % 4 =!= 0)
        .select(col("o_orderkey").as("ka"), col("o_totalprice").as("va"))
      val snapB = o.filter(col("o_orderkey") % 4 =!= 1)
        .select(col("o_orderkey").as("kb"),
          when(col("o_orderkey") % 10 === 2, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("vb"))
      snapA.join(snapB, col("ka") === col("kb"), "full_outer")
        .select(
          when(col("ka").isNull, "insert")
            .when(col("kb").isNull, "delete")
            .when(col("va") =!= col("vb"), "update")
            .otherwise("unchanged").as("change_type"),
          coalesce(col("ka"), col("kb")).as("k"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"), sum("k").as("key_sum"))
        .orderBy("change_type")
    }),

    // Bitmap presence aggregate — the bitmap-index trick: each group ORs a
    // one-hot 64-bit mask (customer bucket = custkey mod 62), so "which
    // buckets are present" needs ONE long of mergeable state per group
    // instead of a distinct set. bit_count reads the distinct-bucket count
    // straight off the mask. At 100 TB this is the fixed-width alternative
    // to COUNT(DISTINCT) when the domain is bucketable — map-side partials
    // OR together losslessly. High-value-order slice keeps the mask sparse
    // enough to be informative (not all-ones).
    "q_agg_bitmap" -> ((s, dir) =>
      tr(s, dir, "orders")
        .filter(col("o_totalprice") >= 450000.0)
        .groupBy("o_orderpriority")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 62 AS INT)))")
            .as("bitmap"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), col("bitmap"),
          expr("bit_count(bitmap)").as("n_buckets"), col("n_orders"))
        .orderBy("o_orderpriority")),

    // Skyline (Pareto frontier): parts where no other part is cheaper AND
    // bigger (minimize p_retailprice, maximize p_size, one strict). The
    // scale-safe formulation compresses ties first — max size per distinct
    // price (a key-parallel agg that shrinks |table| to |price domain|) —
    // then one running-max window over the compressed domain keeps prices
    // whose size beats every strictly-cheaper price, and a join fans the
    // surviving (price, size) pairs back to part keys. The naive
    // formulation is a quadratic NOT-EXISTS self-join — which is exactly
    // what the DuckDB oracle runs, so the two independent algorithms
    // check each other. The global window runs over the compressed
    // domain, not the table (same discipline as q_win_range's bands).
    "q_skyline" -> ((s, dir) => {
      val p = tr(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val cand = p.groupBy("p_retailprice").agg(max("p_size").as("msize"))
      val w = Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = cand.withColumn("prevmax", max("msize").over(w))
        .filter(col("prevmax").isNull || col("msize") > col("prevmax"))
        .select(col("p_retailprice").as("sprice"), col("msize"))
      p.join(sky, col("p_retailprice") === col("sprice") &&
          col("p_size") === col("msize"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_partkey")
    }),

    // Hive-partitioned layout write + partition-pruned read — the
    // partitionBy companion to q_layout_zorder: events land partitioned by
    // event_type, and the read-back predicate prunes at the LISTING level
    // (PartitionFilters — non-matching directories are never opened, the
    // difference between scanning 2/7 of the data and all of it at 100 TB;
    // ScaleSpec asserts the filter sits in PartitionFilters, not the row
    // scan). The rollup proves the round-trip lost nothing.
    "q_layout_partitioned" -> ((s, dir) => {
      val out = ProcessCache.path("partlayout", dir)
      Tables.raw(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      Tables.parquet(s, out)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("val_sum"))
        .orderBy("event_type")
    }),

    // Dynamic partition pruning — the star-schema scan killer at 100 TB:
    // the fact table is partition-laid-out on the join key, the dim side
    // carries a filter whose surviving keys are NOT statically knowable
    // (mean-value threshold in exact integer cents — data-dependent, so
    // static partition pruning can't fire), and Catalyst injects the
    // dim's surviving keys as a runtime partition filter into the fact
    // scan: non-qualifying partition DIRECTORIES are never opened.
    // ScaleSpec asserts `dynamicpruning` in the fact scan's partition
    // filters. The integer-cents mean keeps the dim filter engine-exact
    // (avg(double) at a threshold would be summation-order-dependent).
    "q_join_dpp" -> ((s, dir) => {
      val out = stageDppTable(s, dir)
      val dim = Tables.raw(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("sum(CAST(FLOOR(value * 100) AS BIGINT)) div count(1)")
          .as("mean_cents"))
        .filter(col("mean_cents") > 5000)
        .select("event_type")
      Tables.parquet(s, out).join(dim, Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("event_type")
    }),

    // Z-order layout (multi-dimensional clustering): rank-quantize two
    // dimensions to 8 bits each, interleave the bits into one Morton code,
    // and range-bucket on it — rows in a bucket are close in BOTH dims at
    // once, so parquet zone maps (min/max) prune scans on either
    // predicate. This is the layout job behind "OPTIMIZE ZORDER BY": at
    // 100 TB it is one repartitionByRange(z) write whose quantiles come
    // from range-partitioner sampling; here the quantization is an exact
    // ntile (unique tie-break) so the DuckDB oracle replicates the layout
    // bit-for-bit. The query reports per-bucket count + min/max of both
    // quantized dims — exactly the zone-map the layout would produce
    // (ScaleSpec asserts the locality property: per-bucket spans are a
    // small fraction of the domain in both dims).
    "q_layout_zorder" -> ((s, dir) => {
      val wx = Window.orderBy("o_custkey", "o_orderkey")
      val wy = Window.orderBy("o_orderdate", "o_orderkey")
      val quantized = tr(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .withColumn("xq", (ntile(256).over(wx) - 1).cast("long"))
        .withColumn("yq", (ntile(256).over(wy) - 1).cast("long"))
      // 8-bit × 8-bit Morton interleave, one folded integer expression
      // (codegen keeps it a single projection).
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("xq"), i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(col("yq"), i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
      quantized.select(col("xq"), col("yq"), z.as("zv"))
        .groupBy(shiftright(col("zv"), 10).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("xq").as("min_x"), max("xq").as("max_x"),
          min("yq").as("min_y"), max("yq").as("max_y"))
        .orderBy("zbucket")
    }),

    // Small-file compaction planning — the OPTIMIZE job's first half: a
    // file manifest (simulated as per-shipmonth row counts — the shape a
    // table format's metadata layer hands you) is greedily bin-packed
    // into compaction groups of ~targetRows by prefix-sum assignment:
    // bin = (running rows before this file) div target. The running sum
    // is one window over the MANIFEST, which is metadata-scale even at
    // 100 TB (a million files = a million rows — the data itself is
    // never read to plan). Prefix assignment is capacity-approximate
    // (a file can straddle its bin boundary) but embarrassingly
    // parallel and deterministic, where true first-fit is inherently
    // sequential. Output: per-bin file/row totals and month span — the
    // compaction work list.
    "q_layout_compaction" -> ((s, dir) => {
      val target = 100000L
      val manifest = tr(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate").cast("timestamp"))
          .as("file_month"))
        .agg(count(lit(1)).as("n_rows"))
      val w = Window.orderBy("file_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      manifest
        .withColumn("cum", sum("n_rows").over(w))
        .withColumn("bin", expr(s"(cum - n_rows) div $target"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("n_rows").as("n_rows"),
          min("file_month").as("from_month"), max("file_month").as("to_month"))
        .orderBy("bin")
    }),

    // Runtime bloom-filter join pruning: the selective dim predicate is
    // turned into a bloom filter that prunes the fact side BEFORE its
    // shuffle (`bloom_filter_might_contain` on the lineitem leg, asserted
    // in ScaleSpec). At 100 TB this is the difference between shuffling
    // the whole fact table and shuffling the ~matching rows; local fixture
    // sizes are below the injection thresholds, so the thresholds are
    // scoped down inside the query (same try/finally conf discipline as
    // q_join_bucketed) — on a real cluster the defaults fire on their own.
    "q_join_bloom" -> ((s, dir) => {
      val out = withBloomConfs(s) {
        bloomJoinFrame(s, dir).localCheckpoint(true) // materialize INSIDE the window
      }
      out.orderBy("o_orderpriority")
    })
  )

  /** The q_join_bloom plan, pre-materialization (shared with the ScaleSpec
    * plan assertion): selective orders predicate, shuffle join into
    * lineitem. */
  private[graft] def bloomJoinFrame(s: SparkSession, dir: String): DataFrame = {
    val sel = tr(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey", "o_orderpriority")
    tr(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast("double")), 2).as("qty"))
  }

  /** Force the shuffle-join + runtime-bloom-filter path at local fixture
    * sizes; restores every conf. */
  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T = {
    val scoped = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1")
    val prev = scoped.map { case (k, _) => k -> s.conf.get(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  def oracles: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity),2) AS sum_qty,
         ROUND(SUM(l_extendedprice),2) AS sum_base_price,
         ROUND(SUM(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         ROUND(AVG(l_quantity),4) AS avg_qty,
         ROUND(AVG(l_discount),4) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_filter_predicates" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice,2) AS tp, o_orderpriority
         FROM orders
         WHERE o_orderstatus IN ('O','F')
           AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
           AND o_totalprice BETWEEN 1000.0 AND 300000.0
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_custkey IS NOT NULL
         ORDER BY o_orderkey""",
    "q_join_bcast" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal),2) AS total_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_join_shuffle" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders,
         COUNT(*) AS n_lines,
         ROUND(SUM(l_extendedprice*(1.0-l_discount)),2) AS revenue
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_semi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_orderpriority = '1-URGENT' AND o_totalprice > 200000.0)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_anti" ->
      """SELECT c_nationkey, COUNT(*) AS n_silent FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_join_full" ->
      """SELECT COALESCE(nk_c, nk_s) AS nationkey,
         COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk_c, COUNT(*) AS n_cust
               FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS nk_s, COUNT(*) AS n_supp
               FROM supplier WHERE s_acctbal > 4000.0 GROUP BY 1) s
           ON nk_c = nk_s
         ORDER BY nationkey""",
    "q_join_cross" ->
      """SELECT r_regionkey, r_name, c_mktsegment
         FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
         ORDER BY r_regionkey, c_mktsegment""",
    "q_join_theta" ->
      """SELECT s_suppkey, COUNT(*) AS n_richer,
         ROUND(SUM(c_acctbal - s_acctbal),2) AS gap_sum
         FROM supplier JOIN customer
           ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
         GROUP BY s_suppkey ORDER BY s_suppkey""",
    "q_join_range" ->
      """SELECT bucket, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem JOIN (VALUES (0.0,10.0,'b0'),(10.0,20.0,'b1'),(20.0,30.0,'b2'),
           (30.0,40.0,'b3'),(40.0,50.5,'b4')) b(lo,hi,bucket)
           ON l_quantity >= lo AND l_quantity < hi
         GROUP BY bucket ORDER BY bucket""",
    // The oracle states the PLAIN interval join — the banded rewrite must
    // reproduce it exactly.
    "q_join_interval" ->
      """SELECT o_orderkey, COUNT(*) AS n_in_range,
         ROUND(SUM(l_extendedprice), 2) AS price_sum
         FROM orders JOIN lineitem
           ON l_extendedprice >= o_totalprice
          AND l_extendedprice < o_totalprice + 1000
         WHERE o_orderkey < 2000
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q_join_asof" ->
      """SELECT event_id, user_id, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
         FROM (SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
               FROM events e JOIN orders o
                 ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, ROUND(o_totalprice,2) AS price
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_setops" ->
      """SELECT o_custkey, 'both' AS tag FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
           INTERSECT
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
         UNION ALL
         SELECT o_custkey, 'only_1995' AS tag FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
           EXCEPT
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
         UNION ALL
         SELECT o_custkey, 'either' AS tag FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995
           UNION
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
         ORDER BY tag, o_custkey""",
    "q_setops_all" ->
      """SELECT l_suppkey, COUNT(*) AS n, 'intersect_all' AS tag FROM (
           SELECT l_suppkey FROM lineitem WHERE l_returnflag='A'
           INTERSECT ALL
           SELECT l_suppkey FROM lineitem WHERE l_returnflag='R') GROUP BY l_suppkey
         UNION ALL
         SELECT l_suppkey, COUNT(*) AS n, 'except_all' AS tag FROM (
           SELECT l_suppkey FROM lineitem WHERE l_returnflag='A'
           EXCEPT ALL
           SELECT l_suppkey FROM lineitem WHERE l_returnflag='R') GROUP BY l_suppkey
         ORDER BY tag, l_suppkey""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity),2) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice),2) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
         COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part, TRUE AS apx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_approx_pct" ->
      """SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
         ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         TRUE AS apx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_stats" ->
      """SELECT l_returnflag,
         ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
         ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
         ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         ROUND(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
         ROUND(covar_samp(l_discount, l_tax), 6) + 0.0 AS disc_tax_cov,
         ROUND(MIN(l_extendedprice), 2) AS min_price,
         ROUND(MAX(l_extendedprice), 2) AS max_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_mode" ->
      """SELECT l_returnflag, ROUND(l_quantity, 2) AS mode_qty, n AS mode_n
         FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS n,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY COUNT(*) DESC, l_quantity) AS rn
               FROM lineitem GROUP BY l_returnflag, l_quantity)
         WHERE rn = 1 ORDER BY l_returnflag""",
    // Same pre-aggregate-then-running-weight recurrence; DuckDB's default
    // RANGE frame gives tied values the block-end cumulative weight exactly
    // like Spark's.
    "q_agg_wmedian" ->
      """WITH byval AS (
           SELECT l_returnflag AS rf,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT rf, cents,
             SUM(w) OVER (PARTITION BY rf ORDER BY cents) AS cw,
             SUM(w) OVER (PARTITION BY rf) AS tot
           FROM byval)
         SELECT rf, CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
           CAST(MAX(tot) AS BIGINT) AS total_weight
         FROM c WHERE cw * 2 >= tot GROUP BY rf ORDER BY rf""",
    "q_join_salted" ->
      """SELECT s_nationkey, COUNT(*) AS n_lines,
         ROUND(SUM(l_extendedprice), 2) AS total
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",
    "q_sample_hash" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_sampled,
         ROUND(SUM(o_totalprice), 2) AS sampled_total
         FROM orders
         WHERE ${graft.functions.PortableHash.sql("CAST(o_orderkey AS VARCHAR)")} % 100 < 5
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_agg_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 5000) AS INT) AS bucket,
         COUNT(*) AS n, ROUND(AVG(l_extendedprice), 2) AS avg_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_pivot_events" ->
      """SELECT user_id,
         COUNT(*) FILTER (WHERE event_type='click') AS click,
         COUNT(*) FILTER (WHERE event_type='view') AS view,
         COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
         COUNT(*) FILTER (WHERE event_type='signup') AS signup,
         COUNT(*) FILTER (WHERE event_type='error') AS error
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_unpivot" ->
      """SELECT measure, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
         FROM (SELECT 'discount' AS measure, CAST(l_discount AS DOUBLE) AS value FROM lineitem
               UNION ALL SELECT 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
               UNION ALL SELECT 'quantity', CAST(l_quantity AS DOUBLE) FROM lineitem)
         GROUP BY measure ORDER BY measure""",
    "q_join_bucketed" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey AS ka, o_totalprice AS va
           FROM orders WHERE o_orderkey % 4 <> 0),
         b AS (SELECT o_orderkey AS kb,
             CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS vb
           FROM orders WHERE o_orderkey % 4 <> 1),
         d AS (SELECT ka, kb, va, vb FROM a FULL OUTER JOIN b ON ka = kb)
         SELECT CASE WHEN ka IS NULL THEN 'insert'
                     WHEN kb IS NULL THEN 'delete'
                     WHEN va <> vb THEN 'update'
                     ELSE 'unchanged' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COALESCE(ka, kb)) AS BIGINT) AS key_sum
         FROM d GROUP BY 1 ORDER BY 1""",
    "q_layout_partitioned" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY event_type ORDER BY event_type""",
    "q_agg_bitmap" ->
      """SELECT o_orderpriority,
           bit_or(1::BIGINT << CAST(o_custkey % 62 AS INT)) AS bitmap,
           CAST(bit_count(bit_or(1::BIGINT << CAST(o_custkey % 62 AS INT))) AS INT)
             AS n_buckets,
           COUNT(*) AS n_orders
         FROM orders WHERE o_totalprice >= 450000
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Deliberately the NAIVE dominance formulation — an independent
    // algorithm from the Spark side's compress+running-max plan.
    "q_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         ORDER BY p.p_partkey""",
    // Same rank-quantize + 8×8-bit Morton interleave, the bit-fold
    // unrolled as a list-comprehension sum.
    "q_layout_zorder" ->
      """WITH b AS (SELECT
           CAST(NTILE(256) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT) AS xq,
           CAST(NTILE(256) OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS yq
         FROM orders),
         z AS (SELECT xq, yq,
           CAST(list_sum([((xq >> i) & 1) * (1::BIGINT << (2*i))
                   + ((yq >> i) & 1) * (1::BIGINT << (2*i+1)) for i in range(0, 8)]) AS BIGINT) AS zv
         FROM b)
         SELECT zv >> 10 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(xq) AS min_x, MAX(xq) AS max_x,
           MIN(yq) AS min_y, MAX(yq) AS max_y
         FROM z GROUP BY 1 ORDER BY 1""",
    // Same integer-cents mean threshold; the fact side re-derives from
    // the raw table (the partitioned copy is identical content).
    "q_join_dpp" ->
      """WITH dim AS (SELECT event_type FROM (
             SELECT event_type,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                 // COUNT(*) AS mean_cents
             FROM events GROUP BY event_type)
           WHERE mean_cents > 5000)
         SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM events e JOIN dim USING (event_type)
         GROUP BY e.event_type ORDER BY e.event_type""",
    // Same prefix-sum bin assignment over the same monthly manifest.
    "q_layout_compaction" ->
      """WITH m AS (SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP))
             AS file_month, COUNT(*) AS n_rows
           FROM lineitem GROUP BY 1),
         c AS (SELECT *, SUM(n_rows) OVER (ORDER BY file_month
                 ROWS UNBOUNDED PRECEDING) AS cum FROM m)
         SELECT CAST((cum - n_rows) // 100000 AS BIGINT) AS bin,
           COUNT(*) AS n_files, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           MIN(file_month) AS from_month, MAX(file_month) AS to_month
         FROM c GROUP BY 1 ORDER BY bin""",
    // The bloom filter only prunes — results must equal the plain join.
    "q_join_bloom" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
         ROUND(SUM(CAST(l_quantity AS DOUBLE)), 2) AS qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  )
}
