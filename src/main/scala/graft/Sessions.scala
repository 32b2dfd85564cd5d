package graft

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Local mode is a stand-in for a real cluster: shuffle-partition count and
  * AQE settings are chosen so the same plans scale to many executors
  * (runtime coalescing + skew splitting instead of hand-tuned counts).
  *
  * Every graft session — [[local]], `Bench`, `Verify` and the dev tools
  * — starts from [[engineConfs]] and adds only the confs where it really
  * differs (AQE off, streaming state settings).
  *
  * Generated code is compiled once per JVM. Spark keeps compiled
  * whole-stage and projection classes in one JVM-wide cache keyed by
  * their source, sized by `spark.sql.codegen.cache.maxEntries` (stock
  * 100). graft's working set is far larger: one `graft.Bench` pass over
  * all 156 catalog queries (sf0.01) compiles 1,348 distinct classes, so
  * at 100 entries a repeated query recompiles what an earlier run just
  * compiled, and each recompiled class restarts its JIT warm-up in the
  * interpreter. 2,000 entries hold the whole catalog. Metaspace after
  * that pass measured 215 MiB with either cache size: evicted classes
  * are not unloaded at once, so the stock cache saves little. Under
  * AQE the stock class name also embeds the codegen stage id, which
  * changes with the order AQE creates stages in, so identical pipelines
  * got distinct source; `spark.sql.codegen.useIdInClassName=false` makes
  * them hit the cache. Stack traces and heap dumps then show
  * `GeneratedIterator` in place of `GeneratedIteratorForCodegenStage<n>`;
  * EXPLAIN still prints `*(n)`.
  *
  * Both settings act per JVM. The cache size is a static conf, read
  * once, when the JVM first generates code, from whichever session does
  * that; the class-name setting only pays off when every session
  * sharing the cache sets it. So every session factory sets both, and a
  * cluster deployment passes them at submit time (see docs/deploy.md):
  * executors compile too.
  */
object Sessions {
  /** The confs every graft session sets. */
  val engineConfs: Seq[(String, String)] = Seq(
    // Fork-free local filesystem (see [[graft.sources.NioLocalFS]]):
    // without libhadoop, stock Hadoop forks a `stat`/`chmod` process
    // per getFileStatus/create/mkdirs — measured at ~2,300 forks for
    // one lifecycle query. java.nio replacements, identical semantics.
    // Harmless (and inert for perf) on clusters that ship libhadoop.
    "spark.hadoop.fs.file.impl" -> "graft.sources.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.NioLocalFs",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // ObjectHashAggregate (the operator behind every
    // TypedImperativeAggregate: TopKAgg, MinHashAgg, ThetaSketchAgg)
    // falls back to SORT-based aggregation past this many in-memory
    // groups. The stock 128 is calibrated for unbounded per-group
    // state (collect_list); graft's typed aggregates carry bounded
    // buffers (k-heaps, 128-long signatures, <=32 KiB sketches), so
    // the fallback only adds a full sort of the candidate stream —
    // measured 3x on the sf1 kNN self-join (20k groups). 128k groups
    // x <=32 KiB is still executor-safe.
    //
    // CAVEAT — the threshold is session-wide, so collect_list
    // aggregations share it. The big ones are bounded by
    // construction (d5/s6 cell blocks cap at
    // spark.graft.ann.maxBlockRows rows per group); the per-document
    // shingle arrays (Dedup.shingleArrays / GraftOps.shingleArrs)
    // are bounded by document length — at 128k groups x a 500-token
    // doc's ~12 KiB array that is ~1.6 GiB per task, fine here, but
    // a corpus of multi-MB documents should lower this via
    // SPARK_GRAFT_AGG_FALLBACK (or trim documents first, which every
    // published pipeline does before shingling).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_AGG_FALLBACK", "131072"),
    "spark.ui.enabled" -> "false",
    // compile each generated pipeline once per JVM (see above)
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.codegen.useIdInClassName" -> "false")
  // NOTE on timestamps: the SESSION keeps Spark's INT96 parquet default
  // — Verify dumps query results with it and the external oracle's
  // reader treats INT96 as tz-naive (a TIMESTAMP_MICROS dump reads
  // back tz-aware and breaks the comparator). Graft-INTERNAL table
  // writes (GraftTable data dirs, Delta/Iceberg interop files) go
  // through StatsWriteBridge, which forces INT64 micros per write —
  // spec-conformant interop files with usable footer statistics —
  // without touching the session default.

  /** A `local[cpus]` session with one shuffle partition per core,
    * [[engineConfs]], then `confs` (which win on a shared key). */
  def engine(appName: String, cpus: String, confs: (String, String)*): SparkSession = {
    val spark = (engineConfs ++ confs).foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.ConfSources.disableTracking(spark.sparkContext.hadoopConfiguration)
    spark
  }

  def local(appName: String = "graft", cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    engine(appName, cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
}
