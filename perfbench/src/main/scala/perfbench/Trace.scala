package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Filesystem counters of the traced run: operations from
  * [[CountingLocalFileSystem]], bytes from Hadoop's statistics for the
  * `file` scheme (summed over every statistics object registered for it).
  */
final case class FsCounters(readOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: FsCounters): FsCounters =
    FsCounters(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: FsCounters): FsCounters =
    FsCounters(readOps + o.readOps, writeOps + o.writeOps,
      bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}

object FsCounters {
  val Zero: FsCounters = FsCounters(0, 0, 0, 0)

  @annotation.nowarn("cat=deprecation")
  def snap(): FsCounters = {
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounters(
      CountingLocalFileSystem.reads.get,
      CountingLocalFileSystem.writes.get,
      all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}

/** One finished Spark job: its interval, the layer owning its call site,
  * and the task-level totals of its stages.
  */
final case class JobRec(
    startMs: Long, endMs: Long, layer: String, file: String,
    stages: Int, tasks: Long, taskCpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, outputBytes: Long)

/** Maps a job's call site (the stack of the action that ran it) to the
  * source file of its innermost application frame, and that file to the
  * repository module that owns it. The module map is read from the source
  * tree, so files added later land in their module without a change here.
  */
final class LayerMap(srcRoot: java.io.File) {
  private val byFile: Map[String, String] = {
    val base = new java.io.File(srcRoot, "graft")
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(base).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = base.toPath.relativize(f.toPath).toString
      val pkg = if (rel.contains("/")) rel.takeWhile(_ != '/') else "graft"
      val layer =
        if (f.getName == "Wire.scala") "wire"
        else if (Set("server", "store", "ops", "queries")(pkg)) pkg
        else "other"
      f.getName -> layer
    }.toMap
  }

  private val Frame = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  /** The innermost application frame of a long-form call site. */
  def fileOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.linesIterator)
      .filterNot(l => l.startsWith("org.apache.spark.") || l.startsWith("scala."))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))).headOption.getOrElse("")

  def layerOf(file: String): String =
    byFile.getOrElse(file, if (file.endsWith(".scala") && !file.startsWith("<")) "harness" else "other")
}

/** Spark-side tracer: a `SparkListener` for jobs, stages and tasks and a
  * `QueryExecutionListener` for Catalyst phase times. Registered only in
  * the traced run, and recording only while switched on, so one run can
  * interleave traced and untraced executions of the same operation;
  * `take` collects everything recorded since its last call.
  */
final class SparkTrace(spark: SparkSession, layers: LayerMap) {
  private final class Acc {
    var cpuNs, sw, sr, spill, in, out, tasks = 0L
  }
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val planningNs = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var on = false

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on => execSite.put(s.executionId, s.details)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      // A SQL job belongs to the action that started its execution: jobs
      // that adaptive execution or broadcasts launch from pool threads
      // carry the execution id but a pool thread's stack. Other jobs carry
      // their own call site in their result stage's details.
      val cs = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId).details)
      jobStart.put(e.jobId, (e.time, cs))
      jobStages.put(e.jobId, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (on && m != null) {
        val a = stageAcc.computeIfAbsent(e.stageId, _ => new Acc)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.sw += m.shuffleWriteMetrics.bytesWritten
          a.sr += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.in += m.inputMetrics.bytesRead
          a.out += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      val (t0, cs) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, null))
      val stageIds = Option(jobStages.remove(e.jobId)).getOrElse(Nil)
      // Skipped stages never ran a task; only stages with task totals count.
      val accs = stageIds.flatMap(s => Option(stageAcc.remove(s)))
      val file = layers.fileOf(cs)
      jobs.add(JobRec(t0, e.time, layers.layerOf(file), file,
        accs.size, accs.map(_.tasks).sum, accs.map(_.cpuNs).sum,
        accs.map(_.sw).sum, accs.map(_.sr).sum, accs.map(_.spill).sum,
        accs.map(_.in).sum, accs.map(_.out).sum))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) planningNs.addAndGet(qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Switches recording; waits first until every event posted so far has
    * been delivered, so each event is judged by the state it was posted in.
    */
  def record(enabled: Boolean): Unit = {
    drain()
    on = enabled
  }

  /** Runs `f` with recording on; returns its result and what it recorded. */
  def traced[T](f: => T): (T, Seq[JobRec], Double) = {
    record(true)
    val v = f
    record(false)
    val (js, planMs) = take()
    (v, js, planMs)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Everything recorded since the last call: the finished jobs and the
    * Catalyst phase time of the actions that completed.
    */
  def take(): (Seq[JobRec], Double) = {
    drain()
    val out = Seq.newBuilder[JobRec]
    var j = jobs.poll()
    while (j != null) { out += j; j = jobs.poll() }
    (out.result(), planningNs.getAndSet(0L) / 1e6)
  }
}

object SparkTrace {

  /** Length of the union of the jobs' intervals, in seconds. Concurrent
    * jobs overlap, so summing their walls would overcount.
    */
  def busySeconds(js: Seq[JobRec]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    js.sortBy(_.startMs).foreach { j =>
      if (j.startMs > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = j.startMs
        curEnd = j.endMs
      } else curEnd = math.max(curEnd, j.endMs)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1000.0
  }
}
