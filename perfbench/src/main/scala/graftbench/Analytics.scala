package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read-only catalog queries over generated TPC-H-shaped tables: Spark
  * planning plus `operators`/`functions` execution of many small
  * queries, with no commit I/O and no session cache.
  *
  * The table data is fixed (generated from [[DataSeed]]), so each
  * query's result has one committed fingerprint; the workload seed
  * shuffles the query order of every round. */
final class Analytics(spark: SparkSession, seed: Long, sf: Double,
    fingerprints: Map[String, String], record: Option[Recorder])
    extends Workload {
  import Analytics._

  private var dir = ""
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var pos = 0
  private var round = 0

  def inputRows: Long = DataGen.counts(sf)("lineitem")

  def setup(d: String): Unit = {
    DataGen.write(spark, d, sf, DataSeed)
    dir = d
  }

  private def op(q: String): Op = {
    val fn = graft.SparkEntry.queries(q)
    Op("query", q, () => Trace.span(s"operators.${family(q)}") {
      fingerprint(fn(spark, dir))
    }, (r, _) => checkFingerprint(q, r.asInstanceOf[String]))
  }

  private def checkFingerprint(q: String, got: String): Unit = {
    val key = s"$sf/$q"
    record match {
      case Some(r) =>
        Check(r.fingerprints.getOrElseUpdate(key, got) == got,
          s"$key: nondeterministic result, ${r.fingerprints(key)} then $got")
      case None =>
        val want = fingerprints.get(key)
        Check(want.contains(got), s"$key: fingerprint $got, expected ${want.getOrElse("none")}")
    }
  }

  def warmup(): Unit = {
    Queries.foreach { q => val o = op(q); o.check(o.run(), null) }
    record.foreach(_.dump(spark, sf))
  }

  def nextOp(): Op = {
    if (pos == order.size) {
      order = new Random(seed * 7919L + round).shuffle(Queries).toIndexedSeq
      pos = 0
      round += 1
    }
    pos += 1
    op(order(pos - 1))
  }

  def roundDone: Boolean = pos == order.size

  def report(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val ms = ops.map(_.wallMs)
    Seq(("analytics.queries", ms.size.toDouble, "count"),
      ("analytics.query_p50_ms", Stats.median(ms), "ms")) ++
      Stats.tailPercentile(ms.size).map(p => (s"analytics.query_p${p}_ms", Stats.percentile(ms, p), "ms")) ++
      Seq(("analytics.queries_per_s", ms.size / (ms.sum / 1000.0), "1/s"))
  }

  override def traceReport(ops: Seq[OpRec]): Seq[(String, Double, String)] =
    ops.groupBy(o => family(o.name)).toSeq.sortBy(_._1).flatMap { case (f, os) =>
      def mean(k: String) = os.map(_.m.getOrElse(k, 0.0)).sum / os.size
      Seq((s"operators.${f}_ms", os.map(_.wallMs).sum / os.size, "ms"),
        (s"operators.$f.driver_ms", mean("driver.self_ms"), "ms"),
        (s"operators.$f.job_ms", mean("spark.exec.job_wall_ms"), "ms"))
    }
}

/** Records fingerprints instead of checking them, and dumps the data
  * and every query result as parquet for the DuckDB cross-check
  * (`crosscheck.py`). */
final class Recorder(val file: String) {
  val fingerprints: scala.collection.mutable.Map[String, String] =
    scala.collection.mutable.TreeMap[String, String]()

  def dump(spark: SparkSession, sf: Double): Unit = {
    val dir = s"$file.dump/$sf"
    DataGen.write(spark, s"$dir/data", sf, Analytics.DataSeed)
    Analytics.Queries.foreach(q => graft.SparkEntry.queries(q)(spark, s"$dir/data")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/results/$q"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$file.dump/oracle_sql.json"),
      Stats.json(graft.SparkEntry.oracleSql.filter(e => Analytics.Queries.contains(e._1)))
        .getBytes("UTF-8"))
  }

  def write(): Unit = java.nio.file.Files.write(java.nio.file.Paths.get(file),
    ("# <sf>/<query>\t<rows>:<xor of row hashes>:<sum of row hashes >>> 24>\n" +
      fingerprints.map { case (k, v) => s"$k\t$v\n" }.mkString).getBytes("UTF-8"))
}

object Analytics {
  /** The table data is the same for every workload seed, so results
    * can be checked against committed fingerprints. */
  val DataSeed = 42L

  /** A fixed cross-section of the read-only families q, a, c, e, t and
    * sql — aggregation, a six-way join, windows, a sketch, profiling,
    * sessionization, text scoring and the SQL surface — small enough
    * that set-up, warm-up and a timed round fit the per-run budget. */
  val Queries: IndexedSeq[String] = IndexedSeq(
    "q1_pricing_summary", "q5_local_supplier", "q7_window_running",
    "a3_cms_heavy_hitters", "c6_outlier_zscore", "e2_sessionize",
    "t11_lm_score", "sql2_star_join")

  def family(q: String): String = q.takeWhile(!_.isDigit)

  /** Order-insensitive fingerprint of a result: row count, XOR and sum
    * of per-row 64-bit hashes over every column. Computing it forces
    * every output value, unlike count(), which Spark may prune. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(bit_xor(col("h")), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 24)), lit(0L))).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  def loadFingerprints(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
}
