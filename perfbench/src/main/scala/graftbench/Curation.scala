package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftOps
import graft.sources.GraftTable

/** LLM training-data curation over seeded document batches: CPU-bound
  * kernels of `functions` and `operators` (shingling, MinHash, Bloom)
  * plus shuffle, touching `sources` once per batch.
  *
  * Set-up generates a base corpus with planted exact and near
  * duplicates, then one copy per batch with shifted ids and every sixth
  * token tagged with the batch ordinal, so no batch can be served from
  * an earlier one while each has the same duplicate structure. Every
  * batch must therefore yield the same pair, flagged and kept counts.
  * A benchmark set of 20-token windows cut from one document in forty
  * plants n-gram contamination for the Bloom step. */
final class Curation(spark: SparkSession, seed: Long, docsPerBatch: Long, batches: Int)
    extends Workload {
  import Curation._

  private var dir = ""
  private var sink: GraftTable = _
  private var next = 0
  private var reference: Option[Counts] = None

  def inputRows: Long = docsPerBatch

  def setup(d: String): Unit = {
    if (dir.nonEmpty) LakehouseDml.deleteRec(Paths.get(dir).toFile)
    dir = d
    Files.createDirectories(Paths.get(d))
    val base = DataGen.documents(spark, docsPerBatch, seed)
      .select(col("doc_id").as("base_id"), split(col("text"), " ").as("toks"),
        col("lang"), col("source"))
    // fixed-width ordinals: every batch's tagged text has the same
    // length and character classes
    val copies = spark.range(0L, batches + 1L, 1L, 1).select(col("id").as("batch"))
    val tagged = base.crossJoin(copies).select(col("base_id"),
      (col("base_id") + col("batch") * lit(docsPerBatch)).as("doc_id"),
      transform(col("toks"), (t, i) => when(pmod(i, lit(6)) === 5,
        concat(t, format_string("~%03d", col("batch")))).otherwise(t)).as("toks"),
      col("lang"), col("source"), col("batch"))
    tagged.select(col("doc_id"), concat_ws(" ", col("toks")).as("text"),
        col("lang"), col("source"), col("batch"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$d/batches")
    tagged.filter(pmod(col("base_id"), lit(40L)) === 3)
      .select(col("doc_id"), concat_ws(" ", slice(col("toks"), 3, 20)).as("text"), col("batch"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$d/bench")
    sink = null
    next = 0
  }

  private def part(name: String, k: Int): DataFrame =
    spark.read.parquet(s"$dir/$name").where(col("batch") === k).drop("batch")

  /** The whole chain for batch `k`, one span per call into graft. */
  private def chain(k: Int): Result = {
    val docs = part("batches", k)
    val bench = part("bench", k)
    val unique = Trace.span("api.exactDedupe") {
      val d = GraftOps.exactDedupe(docs, "doc_id", "text").persist()
      d.count()
      d
    }
    val mh = Trace.span("api.minhashPairs")(GraftOps.minhashPairs(unique, "doc_id", "text", 0.8))
    val jp = Trace.span("api.jaccardPairs")(GraftOps.jaccardPairs(unique, "doc_id", "text", 0.8))
    val clusters = Trace.span("api.nearDupClusters")(GraftOps.nearDupClusters(jp, "doc_a", "doc_b"))
    val deduped = Trace.span("api.applyDedup")(GraftOps.applyDedup(unique, "doc_id", clusters))
    val flagged = Trace.span("api.bloomDecontamination")(
      GraftOps.bloomDecontamination(deduped, bench, "doc_id", "text"))
    val clean = deduped.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
    val signals = Trace.span("api.curationSignals")(GraftOps.curationSignals(clean, "doc_id", "text"))
    val kept = clean.join(signals.filter(col("kept")).select("doc_id"), "doc_id")
    Trace.span("sources.graft.append") {
      if (sink == null) sink = GraftTable.create(spark, s"$dir/sink", kept)
      else sink.append(kept)
    }
    Result(unique, mh, jp, deduped, bench, flagged)
  }

  private def op(k: Int): Op = {
    val before = if (sink == null) 0L else sink.read().count()
    Op("batch", "batch", () => chain(k), (r, rec) => {
      val res = r.asInstanceOf[Result]
      try {
        val c = Counts(res.jp.count(), res.mh.count(), res.flagged.count(),
          sink.read().count() - before)
        Check(c.pairs > 0 && c.kept > 0, s"batch $k: empty result $c")
        Check(c.pairs == c.minhashPairs,
          s"batch $k: MinHash found ${c.minhashPairs} pairs, exact Jaccard ${c.pairs}")
        reference match {
          case None => reference = Some(c)
          case Some(want) => Check(c == want, s"batch $k: counts $c, expected $want")
        }
        if (rec != null) {
          rec.rows = docsPerBatch
          rec.m("api.pairs_found") = c.pairs.toDouble
          rec.m("api.docs_kept") = c.kept.toDouble
          if (Trace.enabled) {
            val exact = GraftOps.ngramContamination(res.deduped, res.bench, "doc_id", "text").count()
            rec.m("functions.bloom_flag_ratio") = c.flagged.toDouble / math.max(exact, 1L)
          }
        }
      } finally Seq(res.unique, res.mh, res.jp).foreach(_.unpersist(false))
    })
  }

  /** Batch 0 is the warm-up's; timed batches are 1 to `batches`. */
  def warmup(): Unit = { val o = op(0); o.check(o.run(), null) }

  def nextOp(): Op = {
    require(next < batches, s"all $batches generated batches used")
    next += 1
    op(next)
  }

  def roundDone: Boolean = true

  override def exhausted: Boolean = next >= batches

  def report(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val s = ops.map(_.wallMs / 1000.0)
    Seq(("curation.batches", ops.size.toDouble, "count"),
      ("curation.docs_per_s", ops.size * docsPerBatch / s.sum, "1/s"),
      ("curation.batch_p50_s", Stats.median(s), "s"))
  }

  override def traceReport(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val calls = ops.flatMap(_.m.keys).distinct.filter(k => k.startsWith("api.") || k.startsWith("functions."))
    calls.sorted.map(k => (k, ops.map(_.m.getOrElse(k, 0.0)).sum / ops.size,
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "B" else "count"))
  }
}

object Curation {
  final case class Counts(pairs: Long, minhashPairs: Long, flagged: Long, kept: Long)
  final case class Result(unique: DataFrame, mh: DataFrame, jp: DataFrame,
      deduped: DataFrame, bench: DataFrame, flagged: DataFrame)
}
