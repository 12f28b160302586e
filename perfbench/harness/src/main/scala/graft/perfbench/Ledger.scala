package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Untraced runs' only listener: total executor CPU of every finished task. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
}

/** Task metrics summed over one job group (one query sample, cache build,
  * scan, ...). Times in ns (CPU) or ms (Spark's own units), sizes in bytes. */
final class GroupAgg {
  var cpuNs = 0L
  var runMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
                        stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, name: String, submitMs: Long,
                          doneMs: Long)

/** The traced run's listener. Spark puts the job group the harness sets
  * (`spark.jobGroup.id`) on every job and stage it submits, and graft copies
  * it onto streaming microbatch threads through `BenchContext.jobGroup`, so
  * each job, stage and task lands on the query span that caused it. */
final class Ledger extends SparkListener {
  private val groupKey = "spark.jobGroup.id"
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val aggs = new ConcurrentHashMap[String, GroupAgg]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(groupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(e.jobId, groupOf(e.properties), e.time, -1L, e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageGroup.put(e.stageInfo.stageId, groupOf(e.properties)); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()), StageRec(i.stageId, i.attemptNumber(),
      i.name, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new GroupAgg)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        // the Spark UI's scheduler delay: task wall minus the parts spent
        // deserializing, running and serializing the result
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  def agg(group: String): GroupAgg = Option(aggs.get(group)).getOrElse(new GroupAgg)

  def jobsOf(group: String): Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.startMs)
  }
}
