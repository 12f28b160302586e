package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale-smoke data generator (r7 VERDICT #4): no calibrated constant
  * (σ unroll cap, neardup threshold, broadcast gates, AQE skew handling)
  * had ever executed past sf0.1, so plan-shape assertions were the only
  * 10×-scale evidence. This main derives an sf1-shaped dataset from the
  * DRIVER'S sf0.1 tables by key-offset replication — the driver data stays
  * the only source of content; nothing is synthesized from scratch:
  *
  *  - dims (region/nation/supplier/part) copy unchanged, so every FK from
  *    the replicated fact tables stays valid;
  *  - customer/orders/lineitem/events replicate `copies`× with key offsets
  *    that preserve referential integrity (orders follow their copy's
  *    customers, lineitems their copy's orders, events their copy's users);
  *  - documents replicate with a PER-COPY BIJECTIVE vocabulary renaming
  *    (word w → w + copy digit): within a copy EVERY similarity relation —
  *    exact duplicates, planted near-dup clusters, all shingle Jaccards —
  *    is preserved EXACTLY (a bijection on words is a bijection on
  *    bigram shingles), while copies share zero vocabulary, so the
  *    replication fabricates no cross-copy duplicate clusters. (A
  *    copy-wide word PERMUTATION was tried first and measured
  *    catastrophic: hash-sorting every doc's words made RANDOM same-copy
  *    doc pairs 0.44–0.54 bigram-similar — vs 0.02 in the original —
  *    which collapsed the LSH bands into near-quadratic candidate sets
  *    and hung the sf1 pair build; vocabulary renaming has no such
  *    cross-doc coupling.)
  *  - embeddings replicate with a per-copy cyclic rotation of the vector
  *    (norms and coordinate statistics preserved, cross-copy cosines
  *    decorrelated) for the same reason.
  *
  * Usage: `runMain graft.ScaleData [srcDir] [outDir] [copies]`
  * (defaults: /root/testdata/sf0.1 → target/sf1 × 10). The output is a
  * build artifact (target/), regenerated on demand, never committed.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def read(t: String): DataFrame = Tables.parquet(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t: ${Tables.parquet(spark, s"$out/$t.parquet").count()} rows")
    }
    // dims copy unchanged — replicated facts keep referencing them
    Seq("region", "nation", "supplier", "part").foreach(t => write(read(t), t))

    // spans = max(key)+1 per copy so replicated keys never collide
    def span(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0) + 1
    val (cust, ords, li, ev, docs, emb) = (read("customer"), read("orders"),
      read("lineitem"), read("events"), read("documents"), read("embeddings"))
    val (cSpan, oSpan, eSpan, uSpan, dSpan, vSpan) =
      (span(cust, "c_custkey"), span(ords, "o_orderkey"), span(ev, "event_id"),
        span(ev, "user_id"), span(docs, "doc_id"), span(emb, "vec_id"))

    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => per(df, i)).reduce(_.unionByName(_))

    write(replicate(cust)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cSpan))), "customer")
    write(replicate(ords)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cSpan))), "orders")
    write(replicate(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))), "lineitem")
    write(replicate(ev)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * eSpan))
        .withColumn("user_id", col("user_id") + lit(i * uSpan))), "events")
    // documents: copy 0 verbatim; copy i>0 renames the vocabulary
    // bijectively (w → w + copy digit — preserves every within-copy
    // similarity relation, zero cross-copy overlap), then recomputes
    // n_chars from the new text
    write(replicate(docs) { (d, i) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(i * dSpan))
      if (i == 0) shifted
      else shifted
        .withColumn("text", array_join(expr(
          s"transform(split(text, '\\\\s+'), w -> concat(w, '$i'))"), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    // embeddings: copy i>0 rotates the vector left by i*7+1 mod 63
    write(replicate(emb) { (d, i) =>
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(i * vSpan))
      if (i == 0) shifted
      else {
        val k = (i * 7 + 1) % 63 + 1
        shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), slice(embedding, 1, $k))"))
      }
    }, "embeddings")
    spark.stop()
  }
}
