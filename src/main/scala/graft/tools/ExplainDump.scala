package graft.tools

/** Dump `.explain("formatted")` for a set of `SparkEntry.queries`
  * entries to files — the optimization-round evidence trail
  * (`plans/r<N>/<query>_<tag>.txt`).
  *
  * Usage: `runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> [q1,q2,...]`
  * (no query list = every declared query). Queries whose construction
  * runs side effects (the g-family lifecycle gates) still dump: the
  * explain is of the final returned frame, after the lifecycle ran.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r16"
    val tag = if (args.length > 2) args(2) else "before"
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.Sessions.engine("graft-explain-dump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), graft.Bench.sessionConfs: _*)
    graft.TempRoots.sweepStale()
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"EXPLAINED $name -> $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          println(s"EXPLAIN-FAILED $name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160))
      }
    }
    graft.TempRoots.cleanup()
    spark.stop()
  }
}
