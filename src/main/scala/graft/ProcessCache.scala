package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Once-per-process tmp state: every fixture-derived file a query stages
  * (replay chunks, partitioned copies, payloads, commit-log stores) or
  * caches (σ sweeps, incremental states, LSH/PPJoin state, Lloyd state)
  * lives at [[path]]`(family, key)`, and every path handed out is deleted
  * when the JVM exits — together with the tmpdir entries whose names
  * extend it (`_a`/`_c`, `_pfx`/`_dfreq`/`_pairs`, `_chunks`, `_ck`
  * siblings). The pid in the name keeps concurrent JVMs on one fixture
  * (sbt test while Verify runs) off each other's files; the family keeps
  * two caches from serving each other's data (the r9 shared-prefix bug).
  *
  * [[once]]`(family, key)(write)` is the memo, keyed by the path:
  *  - at most one successful `write` per path per process, and concurrent
  *    callers of that path wait for it;
  *  - a `write` that throws publishes nothing, and the next caller
  *    retries;
  *  - the path is returned only after its write completes;
  *  - callers of different paths never block each other;
  *  - a `write` may call `once` for another path (a δ state reading its
  *    σ state).
  *
  * Cached results are parquet ([[parquet]]), not cached RDDs: the bench
  * and Verify unpersist every RDD between queries, which would destroy a
  * truncated-lineage localCheckpoint. Writes must be deterministic per
  * (family, key); state a query rebuilds on every run takes a [[path]]
  * only.
  */
object ProcessCache {
  private val pid = ProcessHandle.current().pid()
  private val handedOut = ConcurrentHashMap.newKeySet[String]()

  /** Per-path latch. `computeIfAbsent` only creates it; the write runs
    * under its monitor, outside the map computation, which is what lets a
    * write nest `once` for another path. */
  private final class Slot { @volatile var written = false }
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** `<java.io.tmpdir>/graft_<family>_<pid>_<key with [^A-Za-z0-9] → _>`,
    * registered for deletion at JVM exit. */
  def path(family: String, key: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${family}_${pid}_" +
      key.replaceAll("[^A-Za-z0-9]", "_")
    handedOut.add(p)
    p
  }

  /** Run `write(path)` at most once per process (see the object doc for
    * the contract) and return the path once it is written. */
  def once(family: String, key: String)(write: String => Unit): String = {
    val p = path(family, key)
    val slot = slots.computeIfAbsent(p, _ => new Slot)
    if (!slot.written) slot.synchronized {
      if (!slot.written) { write(p); slot.written = true }
    }
    p
  }

  /** [[once]] that writes `build` as parquet, then reads it back through
    * the [[Tables]] catalog (its schema is inferred on the first read
    * only). */
  def parquet(s: SparkSession, family: String, key: String)(build: => DataFrame): DataFrame =
    Tables.parquet(s, once(family, key)(build.write.mode("overwrite").parquet(_)))

  sys.addShutdownHook {
    handedOut.asScala.toSeq.map(new File(_)).groupBy(_.getParentFile).foreach {
      case (tmp, files) =>
        val names = files.map(_.getName)
        Option(tmp.listFiles).toSeq.flatten
          .filter(f => names.exists(f.getName.startsWith))
          .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
  }
}
