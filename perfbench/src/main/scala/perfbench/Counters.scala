package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

final case class Job(id: Int, desc: String, start: Long) {
  @volatile var end: Long = -1L
}

/** A submitted stage attempt's sums of task metrics, with the job
  * description it ran under and its submission time. */
final class StageAgg(val desc: String, val submitted: Long) {
  var tasks, retries, busyMs, cpuNs, shuffleRead, shuffleWrite, spill,
    input, output, result = 0L
}

final case class Batch(op: Int, inputRows: Long, durations: Map[String, Long],
                       stateRows: Long, stateBytes: Long)

/** Spark work counted from outside the program: one SparkListener that
  * keeps each job's description and interval, and per submitted stage
  * the description it ran under and sums of its task metrics. Jobs and
  * stages are attributed to operations afterwards by `attribute`.
  * Stages are keyed by submission, not by a job's stage list: a job
  * that reuses an earlier shuffle (a cached frame, a memo base) lists
  * that stage but skips it, and only the job that ran it is charged. */
final class SparkCounters extends SparkListener {

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()

  private def description(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.job.description")).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, description(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()), new StageAgg(description(e.properties),
      i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { a =>
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo.attemptNumber > 0) a.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          a.busyMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
          a.result += m.resultSize
        }
      }
    }

  /** Counters of the jobs and stage attempts that belong to an
    * operation: those whose description is `key`, else (stream
    * micro-batches and other work the program labels itself) those
    * that started inside the operation's interval [startMs, endMs]. */
  def attribute(key: String, startMs: Long, endMs: Long): Map[String, Double] = {
    def mine(desc: String, t: Long): Boolean =
      desc == key || ((desc == null || !desc.startsWith(Ops.KeyPrefix)) &&
        t >= startMs && t <= endMs)
    val myJobs = jobs.values.asScala.filter(j => mine(j.desc, j.start)).toSeq
    val aggs = stages.values.asScala.filter(a => mine(a.desc, a.submitted)).toSeq
    def sum(f: StageAgg => Long): Double = aggs.map(a => a.synchronized(f(a))).sum.toDouble
    // job-busy union inside the operation's interval; the rest is time
    // the driver spent between jobs
    val ivs = myJobs.map(j => (math.max(j.start, startMs),
      math.min(if (j.end < 0) endMs else j.end, endMs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Map(
      "jobs" -> myJobs.size.toDouble,
      "stages" -> aggs.size.toDouble,
      "tasks" -> sum(_.tasks),
      "task_retries" -> sum(_.retries),
      "task_busy_s" -> sum(_.busyMs) / 1e3,
      "task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "shuffle_read_bytes" -> sum(_.shuffleRead),
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill),
      "input_bytes" -> sum(_.input),
      "output_bytes" -> sum(_.output),
      "result_bytes" -> sum(_.result),
      "driver_gap_s" -> math.max(0L, (endMs - startMs) - covered) / 1e3)
  }
}

/** Micro-batch progress of every streaming query, tagged with the
  * operation that was running when it arrived (the bus is drained at
  * each operation's end, so no batch is tagged with the next one).
  * A SparkListener, not a StreamingQueryListener: the program runs its
  * streams in cloned sessions, whose per-session listener lists the
  * harness cannot reach, while progress events of every session pass
  * through the shared bus. */
final class StreamCounters extends SparkListener {
  @volatile var currentOp: Int = -1
  val batches = mutable.ArrayBuffer[Batch]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case qp: StreamingQueryListener.QueryProgressEvent =>
      val p = qp.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      batches.synchronized {
        batches += Batch(currentOp, p.numInputRows, d,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    case _ =>
  }
}

/** MemoPool reports each memo build on stderr as
  * `[memo] built <name> for <dir> in <ms> ms payer=<job description>`.
  * This stream passes stderr through and keeps those lines, so build
  * counts and build time are charged to the operation that paid. */
final class MemoLog(under: java.io.OutputStream) extends java.io.OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  val builds = mutable.ArrayBuffer[(String, String, Long)]() // payer, name, ms
  private val Built = raw"\[memo\] built (\S+) for .* in (\d+) ms payer=(.*)".r

  override def write(b: Int): Unit = synchronized {
    under.write(b)
    if (b == '\n') {
      line.toString("UTF-8") match {
        case Built(name, ms, payer) => builds += ((payer.trim, name, ms.toLong))
        case _ =>
      }
      line.reset()
    } else line.write(b)
  }
  override def flush(): Unit = under.flush()
}
