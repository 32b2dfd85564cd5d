package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: a catalog query, a table operation or a
  * curation batch. `m` holds the per-layer numbers of the traced run. */
final class OpRec(val id: Int, val phase: String, val kind: String,
    val name: String) {
  var startNs = 0L
  var endNs = 0L
  var ok = true
  var error = ""
  var rows = 0L
  var cpuNs = 0L
  val m: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** A span around one of the benchmark's calls into a graft layer. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** Attribution of an op's time to layers, from outside the program: a
  * SparkListener and a QueryExecutionListener registered by the
  * benchmark, spans around its own calls into graft, and the counting
  * filesystem. Everything is kept in memory and written out at exit.
  *
  * Listener events carry millisecond wall-clock times. Ops run one at a
  * time, so a job belongs to the op whose interval holds its start. */
object Trace {
  @volatile var enabled = false
  private var cores = 1

  private final case class JobRec(startMs: Long, var endMs: Long)
  private final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shufW: Long, shufR: Long, spill: Long, input: Long)
  private final case class QeRec(atMs: Long, analysis: Long, optimization: Long,
      planning: Long)

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val stack = mutable.Stack[Int]()
  private var current: OpRec = _

  // a fixed epoch/nanoTime pairing maps op nanos onto event millis
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, JobRec(e.time, Long.MaxValue))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tm = e.taskMetrics
      if (tm != null) tasks.add(TaskRec(e.stageId, tm.executorRunTime,
        tm.executorCpuTime, tm.jvmGCTime, tm.shuffleWriteMetrics.bytesWritten,
        tm.shuffleReadMetrics.totalBytesRead,
        tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.inputMetrics.bytesRead))
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").orElse(ph.get("analysis"))
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      qes.add(QeRec(at, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Registers the listeners and swaps in the counting filesystem. */
  def install(spark: SparkSession, nCores: Int): Unit = {
    cores = nCores
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
    val impl = classOf[CountingFileSystem].getName
    spark.sparkContext.hadoopConfiguration.set("fs.file.impl", impl)
    spark.conf.set("spark.hadoop.fs.file.impl", impl)
    org.apache.hadoop.fs.FileSystem.closeAll()
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingFileSystem],
      s"counting filesystem not installed: ${fs.getClass.getName}")
    enabled = true
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def begin(op: OpRec): Unit = {
    current = op
    stack.clear()
    if (enabled) op.m ++= CountingFileSystem.counters.map(_._1)
      .zip(CountingFileSystem.snapshot().map(_.toDouble))
    op.cpuNs = os.getProcessCpuTime
    op.startNs = System.nanoTime()
  }

  /** A span around a call the benchmark makes into a graft layer. */
  def span[T](name: String)(body: => T): T = {
    if (current == null) return body
    val id = spans.size
    val parent = if (stack.isEmpty) -1 else stack.top
    spans += Span(current.id, id, parent, name, System.nanoTime(), 0L)
    stack.push(id)
    try body finally {
      stack.pop()
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Closes `op`; in the traced run, waits for the listener bus and
    * attributes the op's jobs, tasks, planning phases and filesystem
    * calls to it. */
  def end(op: OpRec, spark: SparkSession): Unit = {
    op.endNs = System.nanoTime()
    op.cpuNs = os.getProcessCpuTime - op.cpuNs
    current = null
    if (!enabled) return
    org.apache.spark.graftbenchbridge.Bus.drain(spark.sparkContext)
    val lo = epochMs(op.startNs)
    val hi = epochMs(op.endNs)
    val fsNow = CountingFileSystem.snapshot()
    CountingFileSystem.counters.map(_._1).zip(fsNow).foreach { case (k, v) =>
      op.m(k) = v - op.m(k) }
    op.m("sources.fs.meta_call_ms") = op.m.remove("sources.fs.meta_call_ns").get / 1e6

    val mine = jobs.asScala.filter { case (_, j) => j.startMs >= math.floor(lo) && j.startMs <= hi }
    val jobIds = mine.keySet.toSet
    op.m("spark.exec.job_wall_ms") = unionMs(mine.values.map(j =>
      (math.max(j.startMs.toDouble, lo), math.min(if (j.endMs == Long.MaxValue) hi else j.endMs.toDouble, hi))).toSeq)
    op.m("driver.self_ms") = op.wallMs - op.m("spark.exec.job_wall_ms")
    val ts = tasks.asScala.filter(t => jobIds(stageJob.getOrDefault(t.stage, -1))).toSeq
    val stages = ts.groupBy(_.stage)
    op.m("spark.exec.jobs") = jobIds.size
    op.m("spark.exec.stages") = stages.size
    op.m("spark.exec.tasks") = ts.size
    op.m("spark.exec.task_run_ms") = ts.map(_.runMs).sum
    op.m("spark.exec.task_cpu_ms") = ts.map(_.cpuNs).sum / 1e6
    op.m("spark.exec.gc_ms") = ts.map(_.gcMs).sum
    op.m("spark.exec.shuffle_write_bytes") = ts.map(_.shufW).sum
    op.m("spark.exec.shuffle_read_bytes") = ts.map(_.shufR).sum
    op.m("spark.exec.spill_bytes") = ts.map(_.spill).sum
    op.m("spark.exec.input_bytes") = ts.map(_.input).sum
    val jw = op.m("spark.exec.job_wall_ms")
    op.m("spark.exec.core_busy_ratio") =
      if (jw > 0) op.m("spark.exec.task_run_ms") / (jw * cores) else 0.0
    op.m("spark.exec.stage_skew") = {
      val sk = stages.values.filter(_.size >= 2).map { s =>
        val d = s.map(_.runMs.toDouble).sorted
        d.last / math.max(Stats.median(d), 1.0)
      }
      if (sk.isEmpty) 1.0 else sk.max
    }
    val q = qes.asScala.filter(r => r.atMs >= math.floor(lo) && r.atMs <= hi).toSeq
    op.m("spark.plan.analysis_ms") = q.map(_.analysis).sum
    op.m("spark.plan.optimization_ms") = q.map(_.optimization).sum
    op.m("spark.plan.planning_ms") = q.map(_.planning).sum
    op.m("spark.plan.actions") = q.size

    // per-span wall, job wall, task CPU and shuffle bytes
    spans.filter(s => s.op == op.id).foreach { s =>
      val sLo = epochMs(s.startNs)
      val sHi = epochMs(s.endNs)
      val sj = mine.filter { case (_, j) => j.startMs >= math.floor(sLo) && j.startMs <= sHi }
      val sIds = sj.keySet.toSet
      val st = ts.filter(t => sIds(stageJob.getOrDefault(t.stage, -1)))
      val kids = spans.filter(_.parent == s.id).map(k => (epochMs(k.startNs), epochMs(k.endNs))).toSeq
      val wall = (s.endNs - s.startNs) / 1e6
      op.m(s"${s.name}_ms") = op.m.getOrElse(s"${s.name}_ms", 0.0) + wall
      op.m(s"${s.name}.self_ms") = op.m.getOrElse(s"${s.name}.self_ms", 0.0) + wall - unionMs(kids)
      op.m(s"${s.name}.job_wall_ms") = op.m.getOrElse(s"${s.name}.job_wall_ms", 0.0) +
        unionMs(sj.values.map(j => (math.max(j.startMs.toDouble, sLo),
          math.min(if (j.endMs == Long.MaxValue) sHi else j.endMs.toDouble, sHi))).toSeq)
      op.m(s"${s.name}.task_cpu_ms") = op.m.getOrElse(s"${s.name}.task_cpu_ms", 0.0) +
        st.map(_.cpuNs).sum / 1e6
      op.m(s"${s.name}.shuffle_bytes") = op.m.getOrElse(s"${s.name}.shuffle_bytes", 0.0) +
        st.map(t => t.shufW + t.shufR).sum
    }
    // everything up to this op's end is attributed or belonged to
    // untimed benchmark work between ops
    jobs.asScala.filter(_._2.startMs <= hi).keys.foreach(jobs.remove)
    tasks.removeIf(t => !jobs.containsKey(stageJob.getOrDefault(t.stage, -1)))
    qes.removeIf(_.atMs <= hi)
  }

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
