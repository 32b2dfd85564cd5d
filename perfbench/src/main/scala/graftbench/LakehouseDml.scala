package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{DeltaInterop, GraftTable, IcebergInterop}

/** Row-level mutation of three long-lived copies of `orders`: a
  * copy-on-write GraftTable and a Delta table with deletion vectors,
  * both partitioned by o_orderpriority, and an Iceberg v2 table
  * (merge-on-read deletes). Each round applies one seeded append,
  * predicate delete, update and merge upsert to every table, then
  * reads each snapshot back; every few rounds end with maintenance
  * (compact, or optimize plus checkpoint).
  *
  * An in-memory model of the op sequence (key → price in cents and
  * priority) is the oracle: after every op the table's row count and
  * price total must equal the model's, so the formats also agree with
  * each other. */
final class LakehouseDml(spark: SparkSession, seed: Long, sf: Double) extends Workload {
  import LakehouseDml._

  private var root = ""
  private var graftT: GraftTable = _
  private var schema: StructType = _
  private val model = mutable.HashMap[Long, (Long, String)]()
  private var nextKey = 0L
  private var rng = new Random(seed)
  private val queue = mutable.Queue[Op]()
  private var round = 0
  private var lastOpClosedRound = false
  // listing of each table root after its last op: path → bytes
  private val listing = mutable.HashMap[String, Map[String, Long]]()

  private def baseRows: Long = DataGen.counts(sf)("orders")
  def inputRows: Long = baseRows

  def setup(d: String): Unit = {
    if (root.nonEmpty) deleteRec(Paths.get(root).toFile)
    root = d
    Files.createDirectories(Paths.get(d))
    DataGen.table(spark, "orders", sf, seed).write.parquet(s"$d/orders.parquet")
    val orders = spark.read.parquet(s"$d/orders.parquet")
    schema = orders.schema
    graftT = GraftTable.create(spark, path("graft"), orders, Seq("o_orderpriority"))
    DeltaInterop.exportSnapshot(graftT, path("delta"))
    DeltaInterop.setDeltaProperties(spark, path("delta"),
      Map("delta.enableDeletionVectors" -> "true"))
    IcebergInterop.exportSnapshot(graftT, path("iceberg"))
    promoteToV2(path("iceberg"))
    model.clear()
    orders.select(col("o_orderkey"), cents(col("o_totalprice")), col("o_orderpriority"))
      .collect().foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getString(2)))
    nextKey = baseRows
    rng = new Random(seed)
    round = 0
    queue.clear()
    Formats.foreach(f => listing(f) = list(path(f)))
  }

  private def path(format: String): String = s"$root/$format"

  /** Iceberg export writes format v1; row-level deletes need v2. */
  private def promoteToV2(target: String): Unit = {
    val md = Paths.get(target, "metadata", "v1.metadata.json")
    Files.write(md, new String(Files.readAllBytes(md), "UTF-8")
      .replace("\"format-version\" : 1", "\"format-version\" : 2").getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(target, "metadata", ".v1.metadata.json.crc"))
  }

  /** One full round primes every commit and read path. Its reads are
    * checked against the model; the per-commit check reads are skipped
    * to keep set-up short. */
  def warmup(): Unit = while ({
    val o = nextOp()
    o.prepare()
    val r = o.run()
    if (o.kind == "read") o.check(r, null)
    !roundDone
  }) ()

  def roundDone: Boolean = lastOpClosedRound

  def nextOp(): Op = {
    if (queue.isEmpty) planRound()
    val o = queue.dequeue()
    lastOpClosedRound = queue.isEmpty
    o
  }

  private def read(format: String): DataFrame = format match {
    case "graft" => graftT.read()
    case "delta" => DeltaInterop.readDelta(spark, path(format))
    case "iceberg" => IcebergInterop.readIceberg(spark, path(format))
  }

  /** (rows, price total in cents) of a table's current snapshot. */
  private def snapshotTotals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(cents(col("o_totalprice"))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def modelTotals: (Long, Long) = (model.size.toLong, model.valuesIterator.map(_._1).sum)

  /** Untimed check after `format`'s op: totals equal the model, and the
    * new files under its root are recorded on the op. */
  private def verify(format: String, rec: OpRec, got: Option[(Long, Long)]): Unit = {
    val totals = got.getOrElse(snapshotTotals(read(format)))
    Check(totals == modelTotals,
      s"$format after round $round: (rows, cents) $totals, model $modelTotals")
    val after = list(path(format))
    val before = listing(format)
    val fresh = after.filter { case (p, n) => !before.get(p).contains(n) }
    listing(format) = after
    if (rec != null) {
      rec.m("sources.meta_bytes_written") = fresh.filter(f => isMeta(f._1)).values.sum.toDouble
      rec.m("sources.data_bytes_written") = fresh.filterNot(f => isMeta(f._1)).values.sum.toDouble
      rec.m("sources.files_live") = after.count(f => !isMeta(f._1)).toDouble
    }
  }

  private def opFor(kind: String, rows: () => Long)(body: String => Any): Seq[Op] =
    Formats.map { f =>
      Op(kind, s"$f.$kind", () => Trace.span(s"sources.$f.$kind")(body(f)),
        (r, rec) => {
          if (rec != null) rec.rows = rows()
          verify(f, rec, r match {
            case t: (Long, Long) @unchecked if kind == "read" => Some(t)
            case _ => None
          })
        })
    }

  private def row(key: Long, centsV: Long, prio: String): Row =
    Row(key, rng.nextInt(150000).toLong, Seq("F", "O", "P")(rng.nextInt(3)),
      centsV / 100.0, new java.sql.Timestamp(788918400000L + rng.nextInt(2405) * 86400000L),
      prio)

  private def frame(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** Plans one round: per op kind, one op per format. */
  private def planRound(): Unit = {
    round += 1
    val n = math.max(10L, baseRows / 100).toInt

    val appended = (0 until n).map(i =>
      row(nextKey + i, 100000L + rng.nextInt(49900000), Priorities(rng.nextInt(5))))
    nextKey += n
    val appendDf = frame(appended)
    def applyAppend(): Unit = appended.foreach(r =>
      model(r.getLong(0)) = (math.round(r.getDouble(3) * 100), r.getString(5)))

    val delMod = rng.nextInt(97)
    val delCond: Column = pmod(col("o_orderkey"), lit(97L)) === delMod
    val updMod = rng.nextInt(89)
    val updCond: Column = pmod(col("o_orderkey"), lit(89L)) === updMod
    val bump = 1 + rng.nextInt(9999)
    val mergeN = math.max(5, n * 2 / 3)
    val mergeNew = math.max(3, n / 3)

    /** The same logical op on every format; the model advances (and
      * the changed-row count is taken) just before the first of them. */
    def logical(kind: String, apply: () => Long)(body: String => Any): Seq[Op] = {
      var changed = -1L
      opFor(kind, () => changed)(body).map(o => o.copy(prepare = () =>
        if (changed < 0) changed = apply()))
    }

    queue ++= logical("append", () => { applyAppend(); n.toLong }) {
      case "graft" => graftT.append(appendDf)
      case "delta" => DeltaInterop.appendToDelta(appendDf, path("delta"))
      case "iceberg" => IcebergInterop.appendToIceberg(appendDf, path("iceberg"))
    }
    queue ++= logical("delete", () => {
      val hit = model.keys.filter(k => Math.floorMod(k, 97L) == delMod).toSeq
      hit.foreach(model.remove)
      hit.size.toLong
    }) {
      case "graft" => graftT.delete(delCond)
      case "delta" => DeltaInterop.deleteFromDelta(spark, path("delta"), delCond)
      case "iceberg" => IcebergInterop.deleteFromIceberg(spark, path("iceberg"), delCond)
    }
    val upd = Map("o_totalprice" -> (col("o_totalprice") + lit(bump / 100.0)))
    queue ++= logical("update", () => {
      val hit = model.keys.filter(k => Math.floorMod(k, 89L) == updMod).toSeq
      hit.foreach { k => val (c, p) = model(k); model(k) = (c + bump, p) }
      hit.size.toLong
    }) {
      case "graft" => graftT.update(updCond, upd)
      case "delta" => DeltaInterop.updateDelta(spark, path("delta"), updCond, upd)
      case "iceberg" => IcebergInterop.updateIceberg(spark, path("iceberg"), updCond, upd)
    }
    // the merge source is drawn from the model as it will stand after
    // this round's delete and update, so it is built lazily too
    lazy val mergeRows: Seq[Row] = {
      val live = model.keys.toArray.sorted
      val hits = rng.shuffle(live.toSeq).take(mergeN).map(k =>
        row(k, 100000L + rng.nextInt(49900000), model(k)._2))
      val fresh = (0 until mergeNew).map(i =>
        row(nextKey + i, 100000L + rng.nextInt(49900000), Priorities(rng.nextInt(5))))
      nextKey += mergeNew
      hits ++ fresh
    }
    lazy val mergeDf = frame(mergeRows)
    queue ++= logical("merge", () => {
      mergeDf
      mergeRows.foreach(r =>
        model(r.getLong(0)) = (math.round(r.getDouble(3) * 100), r.getString(5)))
      mergeRows.size.toLong
    }) {
      case "graft" => graftT.merge(mergeDf, Seq("o_orderkey"))
      case "delta" => DeltaInterop.mergeDelta(mergeDf, path("delta"), Seq("o_orderkey"))
      case "iceberg" => IcebergInterop.mergeIceberg(mergeDf, path("iceberg"), Seq("o_orderkey"))
    }
    queue ++= opFor("read", () => 0L)(f => snapshotTotals(read(f)))
    if (round % MaintainEvery == 0) queue ++= opFor("maintain", () => 0L) {
      case "graft" => graftT.compact()
      case "delta" =>
        DeltaInterop.optimizeDelta(spark, path("delta"))
        DeltaInterop.checkpointDelta(spark, path("delta"))
      case "iceberg" => IcebergInterop.compactIceberg(spark, path("iceberg"))
    }
  }

  /** Bytes of every file under a table root, by path. */
  private def list(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def report(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val commits = ops.filter(o => CommitKinds(o.kind))
    val reads = ops.filter(_.kind == "read").map(_.wallMs)
    val cms = commits.map(_.wallMs)
    val written = commits.map(o => o.m.getOrElse("sources.meta_bytes_written", 0.0) +
      o.m.getOrElse("sources.data_bytes_written", 0.0)).sum
    val changed = commits.map(_.rows).sum
    val onDisk = Formats.map(f => list(path(f)).values.sum).sum
    Seq(("dml.commits", cms.size.toDouble, "count"), ("dml.commit_p50_ms", Stats.median(cms), "ms")) ++
      Stats.tailPercentile(cms.size).map(p => (s"dml.commit_p${p}_ms", Stats.percentile(cms, p), "ms")) ++
      Seq(("dml.reads", reads.size.toDouble, "count"), ("dml.read_p50_ms", Stats.median(reads), "ms"),
      ("dml.write_bytes_per_row", written / math.max(changed, 1L), "B/row"),
      ("dml.disk_bytes_per_live_row", onDisk.toDouble / (Formats.size * model.size), "B/row"))
  }

  override def traceReport(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val commits = ops.filter(o => CommitKinds(o.kind))
    def perCommit(k: String) = commits.map(_.m.getOrElse(k, 0.0)).sum / math.max(commits.size, 1)
    ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
      (s"sources.${n}_ms", Stats.median(os.map(_.wallMs)), "ms") } ++
      Seq(("sources.jobs_per_commit", perCommit("spark.exec.jobs"), "count")) ++
      (CountingFileSystem.counters.map(_._1).filterNot(_.endsWith("_ns")) ++
        Seq("sources.meta_bytes_written", "sources.data_bytes_written"))
        .map(k => (s"$k.per_commit", perCommit(k), "count")) ++
      Formats.map(f => (s"sources.$f.files_live",
        list(path(f)).count(p => !isMeta(p._1)).toDouble, "count"))
  }
}

object LakehouseDml {
  val Formats: Seq[String] = Seq("graft", "delta", "iceberg")
  val CommitKinds: Set[String] = Set("append", "delete", "update", "merge")
  /** Every second round ends with maintenance; round 1, the warm-up,
    * does not, so the first timed round does. */
  val MaintainEvery = 2
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Price in whole cents: exact where a double sum would not be. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  def isMeta(p: String): Boolean =
    CountingFileSystem.isMeta(new org.apache.hadoop.fs.Path(p))

  def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }
}
