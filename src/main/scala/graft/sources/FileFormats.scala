package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{ProcessCache, QueryModule, Tables}

/** CSV / JSON source+sink surface (B1/B2 beyond parquet), exercised as
  * oracled queries: project a table, write it through the text format,
  * read it back with an explicit schema, aggregate — the result must equal
  * the same aggregate computed straight from parquet (which is exactly what
  * the DuckDB oracle does). Doubles survive the text round-trip exactly
  * (Spark writes the shortest representation that parses back to the same
  * bit pattern).
  *
  * At scale both formats split by line across many files — the read-back
  * parallelizes like any other scan; the point here is the codec + schema
  * plumbing, not the staging write (a production pipeline would land data
  * in columnar form once and keep it there).
  */
object FileFormats extends QueryModule {

  // Per-JVM staging path ([[graft.ProcessCache]]): two concurrent JVMs on
  // the same fixture dir (sbt test while Verify runs) must not overwrite /
  // partially read each other's staging writes.
  private def stage(dir: String, tag: String): String =
    ProcessCache.path("stage", s"${tag}_$dir")

  /** Once-per-process binary payload staging for q_src_binary: 20 files
    * whose bytes are the documents' ASCII text ([[graft.ProcessCache.once]]). */
  private def stageBinaryFiles(s: SparkSession, dir: String): String =
    ProcessCache.once("stage", s"bin_$dir") { out =>
      val p = java.nio.file.Paths.get(out)
      java.nio.file.Files.createDirectories(p)
      Tables.raw(s, dir, "documents").filter(col("doc_id") < 20)
        .select("doc_id", "text").collect()
        .foreach { r =>
          java.nio.file.Files.write(p.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // parquet → CSV (header) → explicit-schema read-back → aggregate.
    "q_src_csv" -> ((s, dir) => {
      val path = stage(dir, "csv")
      Tables.raw(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
      s.read.option("header", "true").schema(schema).csv(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority")
    }),

    // parquet → ORC → read-back → aggregate. ORC is the second columnar
    // container Spark ships natively; unlike the text formats the schema
    // rides in the file footer, so the read-back needs no explicit schema
    // and predicate pushdown/column pruning work the same as parquet. The
    // oracle aggregates the original parquet — the round-trip must be
    // lossless.
    "q_src_orc" -> ((s, dir) => {
      val path = stage(dir, "orc")
      Tables.raw(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").orc(path)
      // exact integer cents, not ROUND(SUM(double)): a double sum is
      // partition-order-dependent and the ORC read-back controls the split
      s.read.orc(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), countDistinct("c_nationkey").as("n_nations"),
          sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("bal_cents"))
        .orderBy("c_mktsegment")
    }),

    // parquet → JSON lines → explicit-schema read-back → aggregate. The
    // props column is a JSON *string inside* the JSON document — quoting
    // must survive the round-trip for the count to match.
    "q_src_json" -> ((s, dir) => {
      val path = stage(dir, "json")
      Tables.raw(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").json(path)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType)))
      s.read.schema(schema).json(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 2).as("val_sum"),
          countDistinct("props").as("nd_props"))
        .orderBy("event_type")
    }),

    // Binary-file ingestion — the multimodal on-ramp: raw payload files
    // read through Spark's `binaryFile` source into (path, length,
    // content) rows, identity-verified against their source of truth by
    // content digest. Staged: 20 payload files whose bytes are the
    // documents' ASCII text (so md5(content) on the Spark side must
    // equal md5(text) computed by the oracle straight from the table —
    // the round-trip proof needs no filesystem access in the oracle).
    // At 100 TB this is how image/audio payloads enter the pipeline: the
    // source splits per file, tasks read only their files, and the
    // length/digest projection never decodes.
    "q_src_binary" -> ((s, dir) => {
      val out = stageBinaryFiles(s, dir)
      s.read.format("binaryFile").load(s"$out/*.bin")
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"), md5(col("content")).as("digest"))
        .orderBy("doc_id")
    }),

    // Custom DataSource V2 ([[AdjacencyV2]]), BOTH halves: the nation-
    // derived 30-vertex graph and an 11-edge path graph are written
    // THROUGH the v2 sink (distributed per-task serialization, two-phase
    // tmp+rename commit; `repartition(graph)` is the one-file-per-graph
    // contract), an N=0 empty graph is staged directly (no edge rows can
    // express it), then the directory reads back as one distributed
    // (graph, src, dst) table — one InputPartition per file, pruning
    // pushed into the reader — and per-graph degree stats aggregate over
    // the v2 scan. The oracle recomputes the data-dependent graph from
    // SQL, so the whole sink→source round-trip is hash-verified.
    "q_src_adjacency" -> ((s, dir) => {
      val path = stage(dir, "adj")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      val g30 = Tables.raw(s, dir, "nation")
        .select(lit("g30.txt").as("graph"),
          (col("n_nationkey") + 5).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst"))
      val g12 = s.range(11).select(lit("g12.txt").as("graph"),
        col("id").as("src"), (col("id") + 1).as("dst"))
      g30.union(g12).repartition(col("graph"))
        .write.format("graft.sources.AdjacencyV2").mode("append").save(path)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path).resolve("g0.txt"), "0\n")
      s.read.format("graft.sources.AdjacencyV2").load(path)
        .groupBy("graph")
        .agg(count(lit(1)).as("n_edges"), countDistinct("src").as("n_src"),
          max("dst").as("max_dst"))
        .orderBy("graph")
    })
  )

  def oracles: Map[String, String] = Map(
    "q_src_csv" ->
      """SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_src_orc" ->
      """SELECT c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT c_nationkey) AS n_nations,
         CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_src_json" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS val_sum,
         COUNT(DISTINCT props) AS nd_props
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Digest identity straight from the source table — the staged bytes
    // ARE the text, so the oracle needs no filesystem access; strlen is
    // DuckDB's BYTE length, matching binaryFile's file size for ASCII.
    "q_src_binary" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
         md5(text) AS digest
         FROM documents WHERE doc_id < 20 ORDER BY doc_id""",
    // g30 recomputed from nation (the data-dependent graph); g12 is the
    // fixed 11-edge path; g0 (N=0) contributes no rows by design.
    "q_src_adjacency" ->
      """WITH g30 AS (SELECT CAST(n_nationkey + 5 AS BIGINT) AS src,
             CAST(n_regionkey AS BIGINT) AS dst FROM nation)
         SELECT * FROM (
           SELECT 'g12.txt' AS graph, CAST(11 AS BIGINT) AS n_edges,
             CAST(11 AS BIGINT) AS n_src, CAST(11 AS BIGINT) AS max_dst
           UNION ALL
           SELECT 'g30.txt', COUNT(*), COUNT(DISTINCT src), MAX(dst) FROM g30)
         ORDER BY graph"""
  )
}
