package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: `name` at a layer boundary, with its parent
  * span. Times are epoch milliseconds. */
case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, runId: String) {
  def ms: Long = end - start
}

/** Per-job facts gathered by [[JobClock]]. */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  var end = -1L
  var tasks = 0L
  var taskMs = 0L
  var schedWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var recordsRead = 0L
  var failedTasks = 0L
}

/** SparkListener turning job/stage/task events into [[JobRec]]s, keyed
  * by the job description the caller set. Events arrive on the listener
  * bus thread; [[drain]] waits for a fence job so every earlier event has
  * been seen. */
final class JobClock extends SparkListener {
  private val stageJob    = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobs        = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, if (d == null) "" else d, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j == null) return
    val info = e.taskInfo
    j.tasks += 1
    j.taskMs += info.duration
    j.schedWaitMs += math.max(0L, info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime))
    if (info.failed || info.killed) j.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }

  /** Every finished job since the last drain, after a fence job. */
  def drain(spark: org.apache.spark.sql.SparkSession): Seq[JobRec] = {
    val sc = spark.sparkContext
    sc.setJobDescription(JobClock.Fence)
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!jobs.values().toArray.exists { case j: JobRec => j.desc == JobClock.Fence && j.end > 0 } &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    import scala.jdk.CollectionConverters._
    val done = jobs.values().asScala.filter(_.end > 0).toSeq.sortBy(_.start)
    done.foreach(j => jobs.remove(j.id))
    done.filterNot(_.desc == JobClock.Fence)
  }
}

object JobClock {
  val Fence = "perfbench fence"

  /** Phase of a job description: `cdc <commit> <phase>` from the
    * pipeline, `perfbench <phase>` from this benchmark. */
  def phaseOf(desc: String): Option[(String, String)] = desc.split(' ') match {
    case Array("cdc", commit, p) =>
      Some(commit -> p.replace("stage-errors", "stage_errors").replace(":", "_"))
    case Array("perfbench", p) => Some("" -> p)
    case _ => None
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Overlap between the unions of two interval sets. */
  def overlapMs(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    unionMs(a) + unionMs(b) - unionMs(a ++ b)
}

/** Trigger progress of the streaming query: per micro-batch
  * `triggerExecution` and `addBatch` durations. */
final class TriggerClock extends StreamingQueryListener {
  case class Trigger(batchId: Long, startMs: Long, triggerMs: Long, addBatchMs: Long)
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (p.numInputRows > 0)
      triggers.add(Trigger(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)))
  }
  /** Wait until `n` triggers are recorded, then take them. */
  def take(n: Int): Seq[Trigger] = {
    val deadline = System.currentTimeMillis() + 30000
    while (triggers.size < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    import scala.jdk.CollectionConverters._
    val out = triggers.asScala.toSeq.sortBy(_.batchId)
    triggers.clear()
    out
  }
}

/** In-memory spans for one run, written out at the end. */
final class Spans(runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, start: Long, end: Long): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, start, end, runId)
    id
  }
  def close(id: Int, end: Long): Unit = synchronized { buf(id) = buf(id).copy(end = end) }
  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per span name: duration minus the part of it covered by
    * child spans. */
  def selfMsByName: Map[String, Long] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(x => x.ms - JobClock.unionMs(
        kids.getOrElse(x.id, Nil).map(k => (math.max(k.start, x.start), math.min(k.end, x.end)))
          .filter(iv => iv._2 > iv._1))).sum
    }
  }

  def writeJsonl(p: java.nio.file.Path): Unit = {
    val lines = all.map(x =>
      s"""{"id":${x.id},"parent":${x.parent},"name":"${x.name}","start":${x.start},"end":${x.end},"run":"${x.runId}"}""")
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
