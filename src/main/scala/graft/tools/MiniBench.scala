package graft.tools

/** Subset bench for conf A/B experiments: runs the named queries (by
  * prefix match) once each in a Bench-shaped session, printing
  * per-query seconds. Extra session confs via
  * `GRAFT_EXTRA_CONF="k=v;k=v"` — the tool prints them so runs are
  * self-describing.
  *
  * `runMain graft.tools.MiniBench <sfDir> <prefix1,prefix2,...>`
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = (if (args.length > 1) args(1) else "q")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val extra = sys.env.getOrElse("GRAFT_EXTRA_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    println(s"MINIBENCH cpus=$cpus extra=${extra.mkString(",")}")
    val spark = graft.Sessions.engine("graft-minibench", cpus,
      graft.Bench.sessionConfs ++ extra: _*)
    graft.TempRoots.sweepStale()
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    spark.read.parquet(s"$dir/orders.parquet").count()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    var total = 0.0
    names.foreach { name =>
      val t0 = System.nanoTime()
      val err = try { graft.SparkEntry.queries(name)(spark, dir).count(); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      val s = (System.nanoTime() - t0) / 1e9
      total += s
      println(f"MB $name%-28s ${s}%7.3f s ${err.getOrElse("")}")
    }
    println(f"MB TOTAL ${total}%.3f s over ${names.size} queries")
    graft.TempRoots.cleanup()
    spark.stop()
  }
}
