package graftbench

import java.io.{File, PrintWriter}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload analytics|lakehouse_dml|curation --seed N --seconds S
  *      --trace 0|1 --bench-dir DIR --work DIR --results DIR [--record FILE]
  * }}}
  *
  * The untraced run (`--trace 0`) measures the end-to-end metrics. The
  * traced run (`--trace 1`) measures with the listeners and the
  * counting filesystem installed; its throughput against the untraced
  * runs' is the tracing overhead. For analytics and lakehouse_dml it
  * then repeats the workload at a tenth of the scale, to split each
  * op's cost into a constant and a per-row slope. The last stdout line
  * is the result. */
object Main {
  /** Input scale of each workload; for analytics and lakehouse_dml the
    * second figure is the traced run's small repeat. */
  private val AnalyticsSf = (0.01, 0.001)
  private val DmlSf = (0.01, 0.001)
  private val CurationDocs = 300L
  private val CurationBatches = 6
  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath
    val results = new File(args("results")).getAbsolutePath
    val benchDir = Paths.get(args("bench-dir"))
    val record = args.get("record").map(new Recorder(_))
    require(Set("analytics", "lakehouse_dml", "curation")(workload), s"unknown workload $workload")

    val procStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local("perfbench")
    val cores = spark.sparkContext.defaultParallelism
    val sessionS = (System.currentTimeMillis() - procStartMs) / 1000.0
    val failures = mutable.ArrayBuffer[String]()
    val meta = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace, "cores" -> cores, "session_start_s" -> sessionS)

    def make(small: Boolean): Workload = workload match {
      case "analytics" =>
        val fps = Analytics.loadFingerprints(benchDir.resolve("analytics_fingerprints.tsv"))
        new Analytics(spark, seed, if (small) AnalyticsSf._2 else AnalyticsSf._1, fps, record)
      case "lakehouse_dml" => new LakehouseDml(spark, seed, if (small) DmlSf._2 else DmlSf._1)
      case "curation" => new Curation(spark, seed, CurationDocs, CurationBatches)
    }

    def timedS(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    var nextId = 0
    def measure(wl: Workload, phase: String, secs: Double): Seq[OpRec] = {
      val recs = mutable.ArrayBuffer[OpRec]()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // whole rounds only, so every query or op kind is equally sampled
      while ((elapsed < secs || !wl.roundDone) && elapsed < 2 * secs + 30 && !wl.exhausted) {
        val op = wl.nextOp()
        op.prepare()
        val rec = new OpRec(nextId, phase, op.kind, op.name)
        nextId += 1
        Trace.begin(rec)
        val res = try Some(op.run()) catch {
          case e: Throwable =>
            rec.ok = false
            rec.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)}"
            None
        }
        Trace.end(rec, spark)
        res.foreach(r => guard(failures, s"${op.name} (op ${rec.id})")(op.check(r, rec)))
        recs += rec
      }
      Trace.ops ++= recs
      recs.toSeq
    }

    // set-up repeats and its median counts once in setup_s
    val wl = make(small = false)
    val setups = (0 until SetupReps).map(i => timedS(wl.setup(s"$work/setup$i")))
    val warm = timedS(guard(failures, "warm-up")(wl.warmup()))
    meta("setup_reps_s") = setups
    meta("warmup_s") = warm
    val setupS = sessionS + Stats.median(setups) + warm
    // after the warm-up, so the canary times a warm JVM
    meta("host_before") = Host.probe(spark, cores, work)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val report = mutable.ArrayBuffer[(String, Double, String)]()

    val measured: Seq[OpRec] =
      if (!trace) {
        val ops = measure(wl, "main", seconds)
        val ok = ops.filter(_.ok)
        if (ok.nonEmpty) {
          metrics("ops_per_s") = (opsPerS(ok), "1/s")
          metrics("cpu_ms_per_op") = (ok.map(_.cpuNs).sum / 1e6 / ok.size, "ms")
          report ++= wl.report(ok)
        }
        metrics("setup_s") = (setupS, "s")
        ops
      } else {
        Trace.install(spark, cores)
        val traced = measure(wl, "traced", seconds)
        val small =
          if (workload == "curation") Nil
          else {
            // JIT is warm by now; the small tables get one set-up, no warm-up
            val smallWl = make(small = true)
            smallWl.setup(s"$work/small")
            val ops = measure(smallWl, "small", seconds / 2)
            val fit = Scaling.fit(traced.filter(_.ok), wl.inputRows, ops.filter(_.ok), smallWl.inputRows)
            meta("scale_fit_per_op") = fit.perOp
            report ++= Seq(("scale.const_ms", fit.constMs, "ms"),
              ("scale.slope_ms_per_krow", fit.slopeMsPerKrow, "ms"))
            ops
          }
        val ok = traced.filter(_.ok)
        if (ok.nonEmpty) {
          LayerMetrics.names.foreach { k =>
            metrics(k) = (ok.map(_.m.getOrElse(k, 0.0)).sum / ok.size, LayerMetrics.unit(k)) }
          metrics("trace.ops_per_s") = (opsPerS(ok), "1/s")
          report ++= wl.report(ok) ++ wl.traceReport(ok)
        }
        traced ++ small
      }
    report += (("peak_rss_mb", Host.peakRssMb(), "MB"))
    meta("host_after") = Host.probe(spark, cores, work)
    record.foreach(_.write())

    // a failed op counts in `failed` and never as a timing; a wrong
    // result anywhere makes the run incorrect
    val failed = measured.count(!_.ok)
    val correct = failures.isEmpty
    measured.filterNot(_.ok).foreach(o => System.err.println(s"perfbench: op ${o.name} failed: ${o.error}"))
    report += (("failed_frac", failed.toDouble / math.max(measured.size, 1), "1"))
    meta("failures") = failures.toSeq
    meta("report") = report.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap

    new File(results).mkdirs()
    val stem = s"$results/$workload-seed$seed-trace${if (trace) 1 else 0}"
    writeDetail(s"$stem.json", meta, metrics)
    if (trace) writeSpans(s"$stem.spans.jsonl")
    spark.stop()

    failures.foreach(f => System.err.println(s"perfbench: $f"))
    report.foreach { case (k, v, u) => println(f"$k%-40s $v%14.4f $u") }
    println(Stats.json(mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> measured.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.exit(if (correct) 0 else 1)
  }

  /** Ops completed per second of op time (one client, closed loop). */
  private def opsPerS(ops: Seq[OpRec]): Double = ops.size / (ops.map(_.wallMs).sum / 1000.0)

  /** Runs a check; a wrong result or a crash in it is a correctness
    * failure of the run, never a timing. */
  private def guard(failures: mutable.ArrayBuffer[String], what: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable => failures += s"$what: ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300)
    }

  private def writeDetail(path: String, meta: collection.Map[String, Any],
      metrics: collection.Map[String, (Double, String)]): Unit = {
    val ops = Trace.ops.map(o => mutable.LinkedHashMap[String, Any]("id" -> o.id,
      "phase" -> o.phase, "kind" -> o.kind, "name" -> o.name, "ok" -> o.ok,
      "error" -> o.error, "wall_ms" -> o.wallMs, "rows" -> o.rows, "layers" -> o.m))
    val doc = mutable.LinkedHashMap[String, Any]("meta" -> meta,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "ops" -> ops)
    Files.write(Paths.get(path), (Stats.json(doc) + "\n").getBytes("UTF-8"))
  }

  private def writeSpans(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try Trace.spans.foreach(s => w.println(Stats.json(mutable.LinkedHashMap[String, Any](
      "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    finally w.close()
  }
}

/** The per-layer metrics of the traced run, as per-op means. */
object LayerMetrics {
  val names: Seq[String] = Seq(
    "driver.self_ms", "spark.exec.job_wall_ms",
    "spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.plan.actions", "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
    "spark.exec.task_run_ms", "spark.exec.task_cpu_ms", "spark.exec.gc_ms",
    "spark.exec.shuffle_write_bytes", "spark.exec.shuffle_read_bytes",
    "spark.exec.spill_bytes", "spark.exec.input_bytes",
    "spark.exec.core_busy_ratio", "spark.exec.stage_skew") ++
    CountingFileSystem.counters.map(_._1).filterNot(_.endsWith("_ns")) ++
    Seq("sources.fs.meta_call_ms")

  def unit(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes") || k.endsWith("bytes_read")) "B"
    else if (k.endsWith("ratio") || k.endsWith("skew")) "ratio" else "count"
}

/** Per-op constant and per-row slope from the two scales. */
object Scaling {
  final case class Fit(constMs: Double, slopeMsPerKrow: Double, perOp: Map[String, Map[String, Double]])

  def fit(big: Seq[OpRec], bigRows: Long, small: Seq[OpRec], smallRows: Long): Fit = {
    val b = big.groupBy(_.name).map { case (n, os) => n -> Stats.median(os.map(_.wallMs)) }
    val s = small.groupBy(_.name).map { case (n, os) => n -> Stats.median(os.map(_.wallMs)) }
    val per = b.keySet.intersect(s.keySet).toSeq.sorted.map { n =>
      val slope = (b(n) - s(n)) / ((bigRows - smallRows) / 1000.0)
      n -> Map("const_ms" -> (s(n) - slope * smallRows / 1000.0), "slope_ms_per_krow" -> slope,
        "small_ms" -> s(n), "big_ms" -> b(n))
    }.toMap
    if (per.isEmpty) Fit(Double.NaN, Double.NaN, per)
    else Fit(per.values.map(_("const_ms")).sum / per.size,
      per.values.map(_("slope_ms_per_krow")).sum / per.size, per)
  }
}

/** Host drift recorded beside each run as metadata: a CPU canary, the
  * host's busy fraction while this run idles, and fsync latency — the
  * virtual-disk stalls a CPU canary cannot see. */
object Host {
  def probe(spark: SparkSession, cores: Int, work: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, cores).selectExpr("bit_xor(xxhash64(id))").collect()
    val canary = (System.nanoTime() - t0) / 1e6
    Map("cpu_canary_ms" -> canary, "idle_busy_frac" -> busyFraction(250),
      "fsync_p50_ms" -> fsyncMs(work))
  }

  def busyFraction(windowMs: Long): Double = {
    def cpu(): Array[Long] = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    try {
      val a = cpu(); Thread.sleep(windowMs); val b = cpu()
      val total = (b.sum - a.sum).toDouble
      if (total <= 0) Double.NaN else 1.0 - (b(3) - a(3)) / total
    } catch { case _: Exception => Double.NaN }
  }

  /** Median of twenty 4 KiB write + fsync round trips. */
  def fsyncMs(work: String): Double = {
    Files.createDirectories(Paths.get(work))
    val p = Paths.get(work, "fsync.probe")
    val ch = FileChannel.open(p, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val buf = ByteBuffer.allocate(4096)
      Stats.median((1 to 20).map { i =>
        buf.clear(); val t0 = System.nanoTime()
        ch.write(buf, (i % 4) * 4096L); ch.force(true)
        (System.nanoTime() - t0) / 1e6
      })
    } finally { ch.close(); Files.deleteIfExists(p) }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
