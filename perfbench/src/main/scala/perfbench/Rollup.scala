package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Interval arithmetic shared by the roll-ups. Times are epoch ms. */
object Intervals {
  /** Total length covered by the union of `[start, end)` intervals, each
    * clipped to `[lo, hi)`. Records that never finished (end <= 0) or
    * have no extent are skipped, so an unfinished job cannot subtract a
    * negative duration and overlapping jobs are not counted twice. */
  def unionLength(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.iterator
      .filter { case (s, e) => e > 0 && e > s }
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}

/** Engine-side roll-up of one traced run, fed by Spark's listener bus.
  *
  * Every job carries the benchmark's `perfbench.tag` local property
  * (`<pass>|<lane>|<phase>`), so jobs, their stages and their tasks are
  * attributed to the lane and phase that launched them; SQL executions
  * are attributed through their jobs. Only completed records enter a
  * roll-up: a job or execution without an end event is ignored. */
final class Rollup extends SparkListener {
  final class JobRec(val id: Int, val start: Long, val tag: String,
      val execId: Long) { @volatile var end: Long = 0L }
  final class ExecRec(val id: Long, val start: Long) {
    @volatile var end: Long = 0L
  }
  final class TaskAgg {
    var tasks, taskMs, cpuNs, gcMs, scanRows, scanBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var stages = 0L
    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      scanRows += o.scanRows; scanBytes += o.scanBytes
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      fetchWaitMs += o.fetchWaitMs; spill += o.spill; stages += o.stages
    }
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, TaskAgg]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storageBytes = 0L
  @volatile private var storagePeak = 0L

  private def agg(tag: String): TaskAgg = aggs.computeIfAbsent(tag, _ => new TaskAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty(Rollup.TagKey))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, tag, exec))
    e.stageIds.foreach(stageTag.put(_, tag))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (info.completionTime.isDefined && info.failureReason.isEmpty) {
      val a = agg(stageTag.getOrDefault(info.stageId, ""))
      a.synchronized { a.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null && e.taskInfo.finishTime > 0) {
      val a = agg(stageTag.getOrDefault(e.stageId, ""))
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.scanRows += m.inputMetrics.recordsRead
        a.scanBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = info.memSize + info.diskSize
      val prev = Option(blocks.get(info.blockId.name)).map(_.longValue).getOrElse(0L)
      if (size > 0) blocks.put(info.blockId.name, size) else blocks.remove(info.blockId.name)
      storageBytes += size - prev
      if (storageBytes > storagePeak) storagePeak = storageBytes
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new ExecRec(s.executionId, s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.end = s.time)
    case _ => ()
  }

  /** Storage held by RDD blocks now, and the peak since the last call. */
  def takeStoragePeak(): Long = synchronized {
    val p = storagePeak; storagePeak = storageBytes; p
  }

  def completedJobs(pred: String => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.end > 0 && pred(j.tag)).toSeq

  def taskAgg(pred: String => Boolean): TaskAgg = {
    val out = new TaskAgg
    aggs.asScala.foreach { case (t, a) => if (pred(t)) a.synchronized(out.add(a)) }
    out
  }

  /** Completed SQL executions whose jobs all carry a matching tag, with
    * the start of their first completed job. */
  def completedExecs(pred: String => Boolean): Seq[(ExecRec, Long)] = {
    val byExec = jobs.values.asScala.filter(_.execId >= 0).groupBy(_.execId)
    byExec.iterator.flatMap { case (id, js) =>
      Option(execs.get(id)).filter(x => x.end > 0 && js.forall(j => pred(j.tag)))
        .map(x => (x, js.map(_.start).min))
    }.toSeq
  }
}

object Rollup {
  val TagKey = "perfbench.tag"
}
