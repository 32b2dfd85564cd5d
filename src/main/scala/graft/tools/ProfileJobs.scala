package graft.tools

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev profiler for DRIVER-GAP analysis: runs one query and prints a
  * job timeline — per-Spark-job wall time plus the gaps BETWEEN jobs
  * (driver-side work: commit I/O, metadata walks, planning). The
  * g-family lifecycle gates spend most of their wall clock outside any
  * Spark job, which per-stage profiling (ProfileQuery) cannot see.
  *
  * Each rep's summary line also carries its code-generation cost:
  * `compiles` (Janino compiles, i.e. codegen-cache misses) and
  * `compileMs` (their summed compile time).
  *
  * `runMain graft.tools.ProfileJobs <sfDir> <queryName> [reps]`
  */
object ProfileJobs {
  private final case class J(id: Int, start: Long, var end: Long = -1L,
    var stages: Int = 0, var tasks: Int = 0, var site: String = "")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "g41_delta_dv_update_merge"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Sessions.engine("graft-profile-jobs",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), graft.Bench.sessionConfs: _*)
    graft.TempRoots.sweepStale()
    // warmup (session/codegen/parquet-footer init)
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    spark.read.parquet(s"$dir/orders.parquet").count()

    val jobs = mutable.LinkedHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = e.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name.takeWhile(_ != '\n').take(70)).getOrElse("")
          jobs(e.jobId) = J(e.jobId, e.time, stages = e.stageInfos.size,
            tasks = e.stageInfos.map(_.numTasks).sum, site = site)
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    })

    (1 to reps).foreach { rep =>
      jobs.synchronized(jobs.clear())
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.currentTimeMillis()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val n = df.count()
      val t1 = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000L
      // listener bus is async; let it drain
      Thread.sleep(300)
      val js = jobs.synchronized(jobs.values.toVector.sortBy(_.start))
      var prevEnd = t0
      var jobMs = 0L; var gapMs = 0L
      val lines = js.map { j =>
        val gap = math.max(0L, j.start - prevEnd)
        val wall = if (j.end > 0) j.end - j.start else -1L
        if (wall > 0) jobMs += wall
        gapMs += gap
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
        f"  gap=$gap%5d ms | job ${j.id}%4d wall=$wall%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}"
      }
      val tailGap = math.max(0L, t1 - prevEnd)
      println(s"== $name rep $rep rows=$n total=${t1 - t0} ms " +
        s"jobs=${js.size} jobWall=$jobMs ms gaps=${gapMs + tailGap} ms (tail=$tailGap) " +
        s"compiles=$compiles compileMs=$compileMs")
      if (sys.env.get("GRAFT_PROFILE_JOBS_VERBOSE").exists(_ == "1"))
        lines.foreach(println)
      else {
        // top 12 costliest rows (job or preceding gap), in time order
        val ranked = js.zip(lines).sortBy { case (j, _) =>
          -(if (j.end > 0) j.end - j.start else 0L) }.take(12).map(_._2)
        ranked.foreach(println)
      }
    }
    graft.TempRoots.cleanup()
    spark.stop()
  }
}
