package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. sf0.001 keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Runs `body` and counts the Spark jobs it starts: a listener counts
    * the job starts of a job group of the probe's own, then a fence job in
    * a second group flushes the listener bus — events arrive in order, so
    * once the fence's start is seen every job of the probe has been
    * counted. Broadcast jobs inherit the group and count too. */
  protected def sparkJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-job-count-${System.nanoTime()}"
    val fence = s"$group-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var fenceSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenceSeen = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "job-count probe")
      try body finally sc.clearJobGroup()
    } finally {
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
      sc.removeSparkListener(listener)
    }
    assert(fenceSeen, "listener fence never arrived")
    (out, jobs.get)
  }
}

/** Reference Levenshtein DP, shared by the fuzzy-join brute-force
  * cross-checks in ScaleSpec and EventQualitySpec. */
object TestLev {
  def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
