package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Codec for the reference's adjacency-matrix text format and the
  * graph-store write path.
  *
  * Format (`Assignment2/primary_server.c:132-140` write,
  * `secondary_server.c:544-559` read):
  * {{{
  * N
  * a11 a12 … a1N     // N rows of N whitespace-separated 0/1 ints
  * }}}
  * `a(i)(j) = 1` ⇒ directed edge i→j. Vertices are 0-based internally
  * (1-based only in the reference's client I/O).
  *
  * The matrix format is header-dependent and capped at 100 vertices in the
  * reference (`MAX_VERTICES`, `secondary_server.c:30`), so fixture parsing
  * is a driver-side read — that is the honest design, not a scale
  * compromise: at scale graphs are stored as parquet edge tables
  * ([[GraphStore]]), and this codec exists only to ingest reference
  * fixtures.
  */
object AdjacencyCodec {

  /** Parse a G*.txt file into an edge DataFrame `(src: long, dst: long)`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path).collect()
    val n = lines.headOption.map(_.trim).filter(_.nonEmpty).map(_.toInt).getOrElse(0)
    val edges = for {
      (line, i) <- lines.iterator.drop(1).take(n).zipWithIndex
      (cell, j) <- line.trim.split("\\s+").iterator.zipWithIndex
      if cell == "1"
    } yield (i.toLong, j.toLong)
    edges.toSeq.toDF("src", "dst")
  }

  /** Serialize an edge DataFrame back to the reference text format.
    * Only for ≤`maxVertices` fixtures (the reference's own cap). */
  def format(edges: Seq[(Long, Long)], n: Int): String = {
    val adj = Array.fill(n, n)(0)
    edges.foreach { case (s, d) => adj(s.toInt)(d.toInt) = 1 }
    (n.toString +: adj.map(_.mkString(" ")).toSeq).mkString("", "\n", "\n")
  }
}

/** Graph store — A1 graph-create / A2 graph-modify / A4 graph-sink
  * (`primary_server.c:61-172`). The reference's "modify" is a full
  * overwrite of the file (same code path as create,
  * `primary_server.c:223`), i.e. snapshot-replace semantics — which maps
  * exactly to parquet overwrite and gives snapshot isolation for free
  * (replacing the reference's reader–writer semaphores, A8, which are
  * intentionally dropped: Spark reads immutable snapshots).
  */
object GraphStore {
  /** A1: create = snapshot write of the edge table. */
  def create(edges: DataFrame, path: String): Unit =
    edges.write.mode("overwrite").parquet(path)

  /** A2: modify ≡ create (snapshot replace, by reference semantics). */
  def modify(edges: DataFrame, path: String): Unit = create(edges, path)

  /** A3/A4: load a stored graph. */
  def load(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)
}

/** Commit-log table semantics over the parquet graph store — the
  * multi-writer/time-travel layer [[GraphStore]]'s bare snapshot-overwrite
  * (faithful to the reference's whole-file replace,
  * `primary_server.c:122-143`) doesn't have:
  *
  *  - **Layout**: immutable snapshot directories `snap-<nonce>/` (parquet)
  *    plus a manifest log `_manifests/v<id>.manifest`, each manifest naming
  *    its snapshot directory. A snapshot id is the monotonically increasing
  *    manifest number; nothing is ever rewritten in place.
  *  - **Write = data first, then one atomic publish**: the snapshot
  *    directory is fully written BEFORE any manifest exists (readers can
  *    never observe a half-written table), then the manifest is published
  *    with `Files.createLink` — an atomic create-if-absent, so two writers
  *    racing for the same version id conflict loudly and the loser RETRIES
  *    with the next id (optimistic concurrency). Its already-written
  *    snapshot directory is untouched — only the claim is re-attempted —
  *    extending [[AdjacencyV2]]'s tmp+rename two-phase discipline from
  *    task level to table level.
  *  - **Read = latest committed manifest** (or any prior id: time travel).
  *    Snapshot isolation falls out of immutability: a reader planning
  *    against version v keeps reading v's files even while v+1 commits.
  *
  * At 100 TB the manifest is a pointer file (bytes); commit cost is the
  * data write itself plus one atomic metadata operation, and concurrent
  * writers serialize only on that final link — the standard lakehouse
  * commit-log shape, kept filesystem-native here (no external lock
  * service, matching the local/HDFS semantics Spark assumes).
  */
object VersionedGraphStore {
  private def manifestDir(path: String): java.io.File =
    new java.io.File(path, "_manifests")

  // \d+ (not \d{8}): commit() pads with %08d, but padding is a sort
  // convenience, not a format bound — version 100,000,000 writes 9 digits
  // and must stay visible to versions() (numeric sort already applies).
  private val ManifestRe = "^v(\\d+)\\.manifest$".r

  /** All committed snapshot ids, ascending (empty for a fresh table). */
  def versions(path: String): Seq[Long] = {
    val files = Option(manifestDir(path).list()).getOrElse(Array.empty[String])
    files.collect { case ManifestRe(d) => d.toLong }.sorted.toSeq
  }

  /** Manifest body: first line names the snapshot directory; an optional
    * second line carries caller metadata (e.g. the CDC batchId that
    * produced the version) — published atomically WITH the version claim,
    * so data and metadata can never diverge. */
  private def manifestLines(path: String, version: Long): Seq[String] = {
    val m = new java.io.File(manifestDir(path), f"v$version%08d.manifest")
    require(m.isFile, s"no committed snapshot $version under $path")
    java.nio.file.Files.readString(m.toPath).linesIterator.toSeq
  }

  /** Commit `edges` as a NEW snapshot; returns its id (1 + latest).
    * Safe under concurrent writers: version claims are atomic
    * create-if-absent links, conflicts retry with the next id.
    * `meta`, if given, is stored in the version's manifest (single line;
    * read back via [[metaAt]]/[[latestMeta]]). */
  def commit(edges: DataFrame, path: String, meta: Option[String] = None): Long = {
    import java.nio.file.{Files, FileAlreadyExistsException}
    require(meta.forall(m => !m.contains("\n") && !m.contains("\r")),
      "manifest meta must be a single line")
    val md = manifestDir(path)
    md.mkdirs()
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
    val snap = s"snap-$nonce"
    edges.write.mode("overwrite")
      .parquet(new java.io.File(path, snap).toString)
    val tmp = new java.io.File(md, s".tmp-$nonce").toPath
    Files.writeString(tmp, (snap +: meta.toSeq).mkString("\n"))
    var v = versions(path).lastOption.getOrElse(0L) + 1
    var committed = false
    while (!committed) {
      val target = new java.io.File(md, f"v$v%08d.manifest").toPath
      try { Files.createLink(target, tmp); committed = true }
      catch { case _: FileAlreadyExistsException => v += 1 }
    }
    Files.deleteIfExists(tmp)
    v
  }

  /** In-place snapshot COMPACTION: rewrite `version`'s data files (e.g.
    * to the table's latest schema) while preserving the version id and
    * its committed metadata — the lakehouse "rewrite data files"
    * maintenance job. The new snapshot dir is written first, then the
    * manifest is REPLACED by an atomic rename, so a concurrent reader
    * sees either the old or the new file set, never a mix; the orphaned
    * old dir is left for [[vacuum]]'s unreferenced-dir sweep (grace-
    * period protected against in-flight readers). Returns the orphaned
    * snapshot dir name. */
  def rewriteSnapshot(df: DataFrame, path: String, version: Long): String = {
    val md = manifestDir(path)
    val old = manifestLines(path, version)
    val oldSnap = old.head.trim
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
    val snap = s"snap-$nonce"
    df.write.mode("overwrite").parquet(new java.io.File(path, snap).toString)
    val tmp = new java.io.File(md, s".tmp-$nonce").toPath
    java.nio.file.Files.writeString(tmp, (snap +: old.drop(1)).mkString("\n"))
    // REPLACE_EXISTING alongside ATOMIC_MOVE: replacing an existing
    // target under ATOMIC_MOVE alone is implementation-specific per the
    // Files.move contract (the POSIX provider happens to allow it) —
    // stating both makes the replace-on-rename intent explicit/portable
    java.nio.file.Files.move(tmp,
      new java.io.File(md, f"v$version%08d.manifest").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    oldSnap
  }

  /** Time-travel read of snapshot `version`. */
  def loadAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val snap = manifestLines(path, version).head.trim
    Tables.parquet(spark, new java.io.File(path, snap).toString)
  }

  /** The caller metadata committed with `version`, if any. */
  def metaAt(path: String, version: Long): Option[String] =
    manifestLines(path, version).drop(1).headOption.map(_.trim)

  /** Metadata of the LATEST committed version (None for a fresh table or
    * a meta-less latest commit). */
  def latestMeta(path: String): Option[String] =
    versions(path).lastOption.flatMap(metaAt(path, _))

  /** Read the latest committed snapshot. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(path)
    require(vs.nonEmpty, s"no committed snapshot under $path")
    loadAt(spark, path, vs.last)
  }

  /** Retention vacuum: drop every snapshot older than the newest
    * `keepLast` — manifests first (the commit point: once a version's
    * manifest is gone it is unreadable, so a crash mid-vacuum can only
    * leave unreferenced data directories, never a manifest pointing at
    * deleted data), then any snapshot directory no surviving manifest
    * references (which also collects directories stranded by a writer
    * that failed before publishing). Returns the ids removed.
    *
    * Concurrent-writer safety (r7 ADVICE): a racing commit() writes its
    * snapshot directory BEFORE linking its manifest, so an unreferenced
    * `snap-*` is either garbage or a commit in flight — indistinguishable
    * by reference-counting alone. Unreferenced directories are therefore
    * only collected once older than `graceMs` (mtime threshold, default
    * 1 h): any in-flight writer links its manifest long before that, so
    * vacuum can never delete data a subsequent commit will publish.
    * Pass `graceMs = 0` ONLY when the caller holds exclusive access. */
  def vacuum(path: String, keepLast: Int,
      graceMs: Long = 60L * 60 * 1000): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val vs = versions(path)
    val drop = vs.dropRight(keepLast)
    drop.foreach { v =>
      java.nio.file.Files.deleteIfExists(
        new java.io.File(manifestDir(path), f"v$v%08d.manifest").toPath)
    }
    val live = versions(path).map(v => manifestLines(path, v).head.trim).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-") && !live(f.getName)
        && f.lastModified() < cutoff)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    drop
  }
}
