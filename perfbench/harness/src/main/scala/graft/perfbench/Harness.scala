package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

final case class Pin(rows: Long, digests: Set[String])

/** One run, as `run.py` describes it in the JSON file named on the command
  * line. `data` is the generated dataset; `work` is this run's private
  * directory (tmp, spark-local), deleted after the run. */
final case class Config(
    mode: String, workload: String, data: String, work: String, out: String,
    traceOut: String, queries: Seq[String], caches: Seq[String], stage: Boolean,
    scans: Seq[String], pins: Map[String, Pin], seed: Long, seconds: Double,
    trace: Boolean)

object Config {
  def load(path: String): Config = {
    val j = new ObjectMapper().readTree(new File(path))
    def strs(k: String) = j.get(k).elements.asScala.map(_.asText).toSeq
    val pins = j.get("pins").properties.asScala.map { e =>
      e.getKey -> Pin(e.getValue.get("rows").asLong,
        e.getValue.get("digests").elements.asScala.map(_.asText).toSet)
    }.toMap
    Config(j.get("mode").asText, j.get("workload").asText, j.get("data").asText,
      j.get("work").asText, j.get("out").asText, j.get("trace_out").asText,
      strs("queries"), strs("caches"), j.get("stage").asBoolean, strs("scans"), pins,
      j.get("seed").asLong, j.get("seconds").asDouble, j.get("trace").asBoolean)
  }
}

/** A timed interval of the run; `parent` is the span that caused it. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** One execution of one query: construction (`SparkEntry.queries(name)`)
  * then the digest action that runs the whole plan. */
final case class Sample(query: String, phase: String, pass: Int, traced: Boolean,
                        group: String, span: Int, startMs: Double, builtMs: Double,
                        endMs: Double, ok: Boolean, gcMs: Long, persistedRdds: Int,
                        persistedMb: Double, microbatches: Long) {
  def latencyS: Double = (endMs - startMs) / 1e3
}

object Harness {
  private val mapper = new ObjectMapper()
  private val MB = 1024.0 * 1024.0
  /** Spark task threads: the load model is local[4] on a 4-core host. */
  private val Cpus = 4
  /** Whole measured passes per run at least; per-pass metrics are medians
    * over them, so one pass disturbed by the host does not set the result. */
  private val MinPasses = 3
  /** tmpdir prefixes of the process caches the modules' `namedCaches`
    * build. Other graft_* entries (streaming staging, commit-log stores,
    * per-query output) are not process caches and are not counted. */
  private val ProcessCachePrefixes = Seq("graft_sigma_", "graft_deltas_", "graft_lp_",
    "graft_incstate_", "graft_lshpairs_", "graft_lshstate_", "graft_lshingestpairs_",
    "graft_ppjstate_", "graft_kmeans_", "graft_winnow_")

  // epoch-aligned wall clock with nanoTime resolution: spans share a time
  // base with the listener's epoch-millisecond job and stage times
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private def span[T](parent: Int, kind: String, name: String)(body: Int => T): T = {
    val id = spans.synchronized { spans += Span(spans.size, parent, kind, name, nowMs, -1); spans.size - 1 }
    try body(id) finally spans.synchronized { spans(id) = spans(id).copy(endMs = nowMs) }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Fixed pure-JVM work (sort 1M pseudo-random longs, best of 5): a host
    * speed reading at the start and end of a run, to make drift visible. */
  private def cpuProbe(): Double = (1 to 5).map { _ =>
    val r = new scala.util.Random(7)
    val a = Array.fill(1 << 20)(r.nextLong())
    val t0 = System.nanoTime(); java.util.Arrays.sort(a); (System.nanoTime() - t0) / 1e9
  }.min

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** Linear-interpolated percentile, q in [0, 1]. */
  private def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Union length of [start, end] intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus the sum of per-row xxhash64 over every output column:
    * order-insensitive, multiplicity-preserving, and computed by one action
    * that needs every column, so the whole plan runs. Columns are renamed
    * positionally (outputs may repeat a name); maps, which xxhash64 rejects,
    * are hashed through their JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length

  def main(args: Array[String]): Unit = {
    val cfg = Config.load(args(0))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val probeT0 = nowMs
    val probeStart = cpuProbe()
    val probeS = (nowMs - probeT0) / 1e3
    val sessionT0 = nowMs
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(cfg.work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionS = (nowMs - sessionT0) / 1e3
    // everything from JVM start to the session builder, minus the probe
    val preSessionS = (sessionT0 - jvmStartMs) / 1e3 - probeS
    val root = 0
    spans += Span(root, -1, "run", cfg.workload, jvmStartMs, -1)
    spans += Span(spans.size, root, "setup", "session", sessionT0, sessionT0 + sessionS * 1e3)

    val cpu = new CpuCounter
    sc.addSparkListener(cpu)
    val ledger = new Ledger
    if (cfg.trace) sc.addSparkListener(ledger)
    val microbatches = new AtomicLong
    if (cfg.trace) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        microbatches.incrementAndGet(); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val caches: Map[String, (String, (SparkSession, String) => Unit)] =
      Seq("GraphQueries" -> graft.operators.GraphQueries.namedCaches,
        "Dedup" -> graft.operators.Dedup.namedCaches,
        "Similarity" -> graft.operators.Similarity.namedCaches,
        "TextOps" -> graft.operators.TextOps.namedCaches)
        .flatMap { case (m, cs) => cs.map { case (n, f) => n -> (m -> f) } }.toMap
    val unknown = (cfg.caches.filterNot(caches.contains) ++
      cfg.queries.filterNot(graft.SparkEntry.queries.contains))
    require(unknown.isEmpty, s"unknown caches or queries: ${unknown.mkString(", ")}")

    // Same inter-query hygiene as graft.Bench: drop table caches and
    // checkpoint blocks a query leaves behind; collect only under pressure.
    def flush(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val rt = Runtime.getRuntime
      if (rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 4) System.gc()
    }

    var groupSeq = 0
    def withGroup[T](label: String)(body: String => T): T = {
      groupSeq += 1
      val group = s"pb-$groupSeq-$label"
      sc.setJobGroup(group, label, interruptOnCancel = false)
      graft.BenchContext.jobGroup = Some(group -> label)
      try body(group)
      finally { sc.clearJobGroup(); graft.BenchContext.jobGroup = None }
    }

    val samples = ArrayBuffer.empty[Sample]
    val errors = ArrayBuffer.empty[String]
    // every (rows, digest) each query produced: pin mode checks they agree
    val observed = scala.collection.mutable.Map.empty[String, Set[(Long, String)]]
    def runQuery(name: String, dir: String, phase: String, pass: Int,
                 traced: Boolean, parent: Int): Sample = {
      val gc0 = gcMs(); val mb0 = microbatches.get
      val s = span(parent, "query", name) { sid =>
        withGroup(s"$phase$pass-$name") { group =>
          val t0 = nowMs
          var built = Double.NaN
          val ok = try {
            val df = span(sid, "build", name)(_ => graft.SparkEntry.queries(name)(spark, dir))
            built = nowMs
            val (rows, h) = span(sid, "action", name)(_ => digest(df))
            observed(name) = observed.getOrElse(name, Set.empty) + (rows -> h)
            val good = cfg.pins.get(name).exists(p => p.rows == rows && p.digests(h))
            if (!good) errors += s"$name ($phase $pass): digest mismatch rows=$rows digest=$h"
            good
          } catch { case NonFatal(e) =>
            errors += s"$name ($phase $pass): ${e.getClass.getName}: ${e.getMessage}"; false
          }
          val end = nowMs
          if (built.isNaN) built = end
          Sample(name, phase, pass, traced, group, sid, t0, built, end, ok, 0L,
            sc.getPersistentRDDs.size,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB, 0L)
        }
      }
      flush()
      System.err.println(f"[harness] $phase$pass $name ${s.latencyS}%.3f s ok=${s.ok}")
      val done = s.copy(gcMs = gcMs() - gc0, microbatches = microbatches.get - mb0)
      samples += done
      done
    }

    /** The seeded order of one pass: a permutation of the workload's
      * queries, rotated when it would start with the query the previous pass
      * ended on (an immediate re-run measures a hot repeat, not the mix). */
    var lastRun = ""
    def order(pass: Int): Seq[String] = {
      val p = new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(cfg.queries)
      val o = if (p.size > 1 && p.head == lastRun) p.tail :+ p.head else p
      lastRun = o.last
      o
    }

    // ---- set-up: table scans, streaming staging, the workload's process
    // caches (each timed), then one warm-up pass ----
    val dir = cfg.data
    val setupT0 = nowMs
    var scanBytes = 0L
    var scanS, stageS = 0.0
    val cacheS = ArrayBuffer.empty[(String, String, Double)]
    span(root, "setup", "setup") { sid =>
      scanS = cfg.scans.map { t =>
        val a = nowMs
        span(sid, "scan", t)(_ => withGroup(s"scan-$t") { g =>
          graft.Tables(spark, dir, t).write.format("noop").mode("overwrite").save()
          if (cfg.trace) { PerfbenchBridge.drain(sc); scanBytes += ledger.agg(g).input }
        })
        (nowMs - a) / 1e3
      }.sum
      val st0 = nowMs
      if (cfg.stage) span(sid, "staging", "StreamingOps.stageAll")(_ =>
        withGroup("stage")(_ => graft.streaming.StreamingOps.stageAll(spark, dir)))
      stageS = (nowMs - st0) / 1e3
      System.err.println(f"[harness] scans $scanS%.3f s, staging $stageS%.3f s")
      cfg.caches.foreach { c =>
        val (module, build) = caches(c)
        val a = nowMs
        try span(sid, "cache", c)(_ => withGroup(s"cache-$c")(_ => build(spark, dir)))
        catch { case NonFatal(e) =>
          errors += s"cache $c: ${e.getClass.getName}: ${e.getMessage}" }
        System.err.println(f"[harness] cache $c ${(nowMs - a) / 1e3}%.3f s")
        cacheS += ((c, module, (nowMs - a) / 1e3))
      }
      span(sid, "warmup", "warmup") { wid =>
        order(-1).foreach(q => runQuery(q, dir, "warmup", 0, cfg.trace, wid))
      }
    }
    val setupS = preSessionS + sessionS + (nowMs - setupT0) / 1e3

    // ---- measured passes (closed loop, one client thread): whole passes
    // until --seconds have passed, and at least MinPasses. A traced run
    // alternates passes with the ledger attached and detached, so the same
    // run also measures what tracing costs. ----
    if (cfg.mode == "pin") pin(cfg, spark, dir, order(0), observed.toMap, () => flush())
    // task-end events still queued from set-up must not land in pass 0
    PerfbenchBridge.drain(sc)
    if (cfg.trace) sc.removeSparkListener(ledger)
    graft.streaming.StreamingOps.CdcPhases.reset()
    final case class Pass(n: Int, traced: Boolean, wallS: Double, cpuS: Double, gcS: Double)
    val passes = ArrayBuffer.empty[Pass]
    val m0 = nowMs
    def elapsedS = (nowMs - m0) / 1e3
    while (passes.size < MinPasses || elapsedS < cfg.seconds) {
      val n = passes.size
      // which parity is traced follows the seed, so the first measured
      // pass (still warming up) does not always land on the same side
      val traced = cfg.trace && (n + cfg.seed) % 2 == 0
      if (traced) sc.addSparkListener(ledger)
      val (c0, g0, p0) = (cpu.cpuNs.get, gcMs(), nowMs)
      span(root, "pass", s"pass$n") { pid =>
        order(n).foreach(q => runQuery(q, dir, "pass", n, traced, pid))
      }
      val wall = (nowMs - p0) / 1e3
      PerfbenchBridge.drain(sc)
      if (traced) sc.removeSparkListener(ledger)
      passes += Pass(n, traced, wall, (cpu.cpuNs.get - c0) / 1e9, (gcMs() - g0) / 1e3)
    }
    val measureS = passes.map(_.wallS).sum
    spans(root) = spans(root).copy(endMs = nowMs)

    // ---- tmp accounting, then tear-down ----
    val tmpEntries = Option(new File(sys.props("java.io.tmpdir")).listFiles).toSeq.flatten
      .filter(f => ProcessCachePrefixes.exists(f.getName.startsWith))
    val cacheDiskMb = tmpEntries.map(du).sum / MB
    val cdc = mapper.readTree(graft.streaming.StreamingOps.CdcPhases.json)
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / MB
    val rssMb = vmHwmMb()
    spark.stop()
    val probeEnd = cpuProbe()

    // ---- results ----
    val measuredSamples = samples.filter(_.phase == "pass").toSeq
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val correct = failed == 0 && errors.isEmpty
    val goodLat = measuredSamples.filter(_.ok).map(_.latencyS)
    val out = mapper.createObjectNode()
    out.put("correct", correct)
    out.put("attempted", attempted)
    out.put("failed", failed)
    val metrics = out.putObject("metrics")
    def metric(name: String, unit: String, v: Double): Unit = {
      val m = metrics.putObject(name); m.put("value", v); m.put("unit", unit); ()
    }
    val untracedPasses = passes.filterNot(_.traced)
    def qpm(ps: Seq[Pass]): Double = {
      val ns = ps.map(_.n).toSet
      val good = measuredSamples.count(s => ns(s.pass) && s.ok)
      if (ps.isEmpty) 0.0 else good / ps.map(_.wallS).sum * 60.0
    }
    if (!cfg.trace) {
      metric("setup_s", "s", setupS)
      metric("throughput_qpm", "queries/min", median(passes.map(p => qpm(Seq(p))).toSeq))
      metric("query_p50_s", "s", median(goodLat))
      metric("cpu_s", "s", median(passes.map(_.cpuS).toSeq))
      metric("peak_rss_mb", "MB", rssMb)
    } else {
      val layers = Layers.compute(ledger, measuredSamples.filter(_.traced), passes.count(_.traced))
      metric("session.start_s", "s", sessionS)
      metric("jvm.gc_s", "s", median(passes.filter(_.traced).map(_.gcS).toSeq))
      metric("jvm.heap_peak_mb", "MB", heapPeakMb)
      metric("Tables.scan_s", "s", scanS)
      metric("Tables.scan_mb_per_s", "MB/s", if (scanS > 0) scanBytes / MB / scanS else 0.0)
      metric("StreamingOps.stage_s", "s", stageS)
      metric("StreamingOps.microbatches", "count", layers("microbatches"))
      metric("StreamingOps.cdc_merge_s", "s", cdc.get("merge_sec").asDouble / passes.size)
      metric("StreamingOps.cdc_commit_s", "s", cdc.get("commit_sec").asDouble / passes.size)
      metric("ProcessCache.build_s", "s", cacheS.map(_._3).sum)
      metric("GraphQueries.cache_build_s", "s", cacheS.filter(_._2 == "GraphQueries").map(_._3).sum)
      metric("Dedup.cache_build_s", "s", cacheS.filter(_._2 == "Dedup").map(_._3).sum)
      metric("ProcessCache.count", "count", tmpEntries.size.toDouble)
      metric("ProcessCache.disk_mb", "MB", cacheDiskMb)
      Layers.perPass.foreach { case (name, unit, key) => metric(name, unit, layers(key)) }
      metric("trace_overhead", "ratio", {
        val u = qpm(untracedPasses.toSeq); if (u > 0) qpm(passes.filter(_.traced).toSeq) / u else 0.0
      })
    }
    val diag = out.putObject("diagnostics")
    diag.put("workload", cfg.workload)
    diag.put("seed", cfg.seed)
    diag.put("passes", passes.size)
    diag.put("measured_samples", measuredSamples.size)
    diag.put("measured_s", measureS)
    diag.put("fail_ratio", if (attempted > 0) failed.toDouble / attempted else 0.0)
    // the highest percentile with at least ten samples beyond it, if any
    val tail = diag.putObject("query_tail")
    tail.put("samples", goodLat.size)
    if (goodLat.size > 10) {
      val q = (goodLat.size - 10).toDouble / goodLat.size
      tail.put("percentile", q * 100); tail.put("value_s", percentile(goodLat, q))
    }
    tail.put("max_s", if (goodLat.isEmpty) 0.0 else goodLat.max)
    diag.put("cpu_probe_start_s", probeStart)
    diag.put("cpu_probe_end_s", probeEnd)
    val pw = diag.putArray("pass_wall_s"); passes.foreach(p => pw.add(p.wallS))
    diag.put("session_s", preSessionS + sessionS)
    diag.put("scan_s", scanS)
    diag.put("stage_s", stageS)
    val cb = diag.putObject("cache_build_s"); cacheS.foreach(c => cb.put(c._1, c._3))
    val er = diag.putArray("errors"); errors.take(20).foreach(er.add)
    Files.writeString(Paths.get(cfg.out), mapper.writerWithDefaultPrettyPrinter.writeValueAsString(out))

    if (cfg.trace) {
      val t = mapper.createObjectNode()
      t.put("workload", cfg.workload); t.put("seed", cfg.seed)
      t.set[JsonNode]("per_query", Layers.perQuery(ledger, measuredSamples.filter(_.traced)))
      t.set[JsonNode]("spans", Layers.spanTree(spans.toSeq, ledger, samples.toSeq))
      Files.writeString(Paths.get(cfg.traceOut), mapper.writeValueAsString(t))
    }
    sys.exit(if (correct) 0 else 1)
  }

  /** Pin mode: dump each query's output as parquet (for the DuckDB oracle
    * compare in pin.py) and record the digest of the dump as read back, next
    * to a fresh run's digest and every digest the warm-up saw. */
  private def pin(cfg: Config, spark: SparkSession, dir: String, queries: Seq[String],
                  observed: Map[String, Set[(Long, String)]], flush: () => Unit): Unit = {
    val dump = new File(new File(cfg.out).getParentFile, "dump")
    val res = mapper.createObjectNode()
    queries.foreach { q =>
      val e = res.putObject(q)
      try {
        val path = new File(dump, q).getPath
        graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
        flush()
        val (rows, h) = digest(spark.read.parquet(path))
        val fresh = digest(graft.SparkEntry.queries(q)(spark, dir))
        flush()
        e.put("rows", rows); e.put("digest", h)
        val seen = e.putArray("observed")
        (observed.getOrElse(q, Set.empty) + fresh).foreach { case (r, d) =>
          seen.addObject().put("rows", r).put("digest", d) }
      } catch { case NonFatal(x) => e.put("error", x.toString) }
    }
    val oracle = mapper.createObjectNode()
    graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
      .foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(new File(dump, "oracle_sql.json").toPath, mapper.writeValueAsString(oracle))
    Files.writeString(Paths.get(cfg.out), mapper.writerWithDefaultPrettyPrinter.writeValueAsString(res))
    spark.stop()
    sys.exit(0)
  }

  /** Per-layer arithmetic over traced query samples. */
  object Layers {
    /** (metric name, unit, key into the per-sample map) reported per pass. */
    val perPass: Seq[(String, String, String)] = Seq(
      ("SparkEntry.build_s", "s", "build_s"),
      ("SparkEntry.action_s", "s", "action_s"),
      ("SparkEntry.driver_s", "s", "driver_s"),
      ("spark.jobs", "count", "jobs"),
      ("spark.stages", "count", "stages"),
      ("spark.stage_floor_s", "s", "stage_floor_s"),
      ("spark.sched_delay_s", "s", "sched_delay_s"),
      ("spark.persisted_rdds", "count", "persisted_rdds"),
      ("spark.persisted_mb", "MB", "persisted_mb"),
      ("spark.task_cpu_s", "s", "task_cpu_s"),
      ("spark.task_run_s", "s", "task_run_s"),
      ("spark.cpu_util", "ratio", "cpu_util"),
      ("spark.input_mb", "MB", "input_mb"),
      ("spark.shuffle_write_mb", "MB", "shuffle_write_mb"),
      ("spark.shuffle_read_mb", "MB", "shuffle_read_mb"),
      ("spark.spill_mb", "MB", "spill_mb"))

    /** One sample's layer values. Its ratios (stage_floor_s, cpu_util)
      * feed the per-query table; [[compute]] recomputes the workload's
      * ratios from sums instead of averaging these. */
    def of(l: Ledger, s: Sample): Map[String, Double] = {
      val a = l.agg(s.group)
      val jobs = l.jobsOf(s.group)
      val stageIds = jobs.flatMap(_.stageIds).toSet
      val ran = l.stages.keySet.asScala.count { case (id, _) => stageIds(id) }
      val jobWall = covered(jobs.map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) s.endMs else j.endMs.toDouble))), s.startMs, s.endMs) / 1e3
      val wall = s.latencyS
      Map(
        "latency_s" -> wall,
        "build_s" -> (s.builtMs - s.startMs) / 1e3,
        "action_s" -> (s.endMs - s.builtMs) / 1e3,
        "driver_s" -> (wall - jobWall).max(0.0),
        "jobs" -> jobs.size.toDouble,
        "stages" -> ran.toDouble,
        "stage_floor_s" -> (if (ran > 0) jobWall / ran else 0.0),
        "sched_delay_s" -> a.schedMs / 1e3,
        "persisted_rdds" -> s.persistedRdds.toDouble,
        "persisted_mb" -> s.persistedMb,
        "task_cpu_s" -> a.cpuNs / 1e9,
        "task_run_s" -> a.runMs / 1e3,
        "cpu_util" -> (if (wall > 0) a.cpuNs / 1e9 / (wall * Cpus) else 0.0),
        "input_mb" -> a.input / MB,
        "shuffle_write_mb" -> a.shuffleWrite / MB,
        "shuffle_read_mb" -> a.shuffleRead / MB,
        "spill_mb" -> a.spill / MB,
        "gc_s" -> s.gcMs / 1e3,
        "microbatches" -> s.microbatches.toDouble)
    }

    /** Workload-level values: sums over a pass's samples, averaged over the
      * traced passes (ratios recomputed from the sums). */
    def compute(l: Ledger, traced: Seq[Sample], nPasses: Int): Map[String, Double] = {
      val per = traced.map(of(l, _))
      val n = nPasses.max(1).toDouble
      val sums = per.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / n }
      val g = sums.withDefaultValue(0.0)
      g ++ Map(
        "stage_floor_s" -> (if (g("stages") > 0) (g("latency_s") - g("driver_s")) / g("stages") else 0.0),
        "cpu_util" -> (if (g("latency_s") > 0) g("task_cpu_s") / (g("latency_s") * Cpus) else 0.0))
    }

    def perQuery(l: Ledger, traced: Seq[Sample]): ObjectNode = {
      val o = mapper.createObjectNode()
      traced.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, ss) =>
        val per = ss.map(of(l, _))
        val qn = o.putObject(q)
        qn.put("samples", ss.size)
        per.head.keys.toSeq.sorted.foreach(k => qn.put(k, median(per.map(_(k)))))
      }
      o
    }

    /** Every span plus the Spark jobs and stages under each query, with
      * self time (duration minus the part its children cover). */
    def spanTree(spans: Seq[Span], l: Ledger, samples: Seq[Sample]): com.fasterxml.jackson.databind.node.ArrayNode = {
      val all = ArrayBuffer.from(spans)
      val byGroup = samples.map(s => s.group -> s).toMap
      val children = spans.groupBy(_.parent)
      l.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        byGroup.get(j.group).foreach { s =>
          val kids = children.getOrElse(s.span, Nil)
          val parent = kids.find(k => k.kind == "build" && j.startMs < k.endMs)
            .orElse(kids.find(_.kind == "action")).map(_.id).getOrElse(s.span)
          val jid = all.size
          all += Span(jid, parent, "job", s"job${j.id}", j.startMs.toDouble,
            if (j.endMs < 0) s.endMs else j.endMs.toDouble)
          j.stageIds.flatMap(id => l.stages.asScala.collect { case ((i, _), r) if i == id => r })
            .foreach(r => all += Span(all.size, jid, "stage", s"stage${r.id}.${r.attempt} ${r.name}",
              r.submitMs.toDouble, r.doneMs.toDouble))
        }
      }
      val kidsOf = all.toSeq.groupBy(_.parent)
      val arr = mapper.createArrayNode()
      all.foreach { s =>
        val n = arr.addObject()
        n.put("id", s.id); n.put("parent", s.parent); n.put("kind", s.kind); n.put("name", s.name)
        n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
        val self = (s.endMs - s.startMs) -
          covered(kidsOf.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
        n.put("self_ms", self.max(0.0))
      }
      arr
    }
  }
}
