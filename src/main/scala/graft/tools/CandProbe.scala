package graft.tools

import org.apache.spark.sql.functions._

/** Candidate-volume probe for the banded near-dup joins (m5 pHash,
  * d4 SimHash): prints per-SF block-bucket statistics and the exact
  * candidate-pair count Σ C(width, 2), driver-side aggregates only —
  * the honest scale measurement behind §2's m5 note (a 10× corpus
  * whose candidate volume grows ~100× means the quarter-bands are
  * going quadratic and the bucket cap is not optional at scale).
  *
  * Usage: runMain graft.tools.CandProbe <sfDir> [<sfDir> ...]
  */
object CandProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.engine("graft-candprobe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    args.foreach { dir =>
      val docs = graft.sources.Tables.documents(spark, dir)
      val sig = docs
        .select(col("doc_id").as("__id"), col("text").as("__t"))
        .filter(length(col("__t")) >= 1)
        .withColumn("h", graft.functions.PHash64.phash64(col("__t")))
        .select(col("__id") +: (0 until 4).map(j =>
          expr(s"shiftrightunsigned(h, ${j * 16}) & 65535").as(s"b$j")): _*)
      val blocks = sig.select(col("__id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("blk", "bv")))
      val stats = blocks.groupBy("blk", "bv").agg(count(lit(1)).as("w"))
        .agg(
          sum(expr("w * (w - 1) / 2")).as("cand_pairs"),
          max(col("w")).as("max_bucket"),
          count(lit(1)).as("n_buckets"),
          sum(col("w")).as("n_block_rows"))
        .collect()(0)
      val nDocs = sig.count()
      println(s"CANDPROBE dir=$dir docs=$nDocs " +
        s"cand_pairs=${stats.getAs[Any]("cand_pairs")} " +
        s"max_bucket=${stats.getAs[Any]("max_bucket")} " +
        s"n_buckets=${stats.getAs[Any]("n_buckets")} " +
        s"block_rows=${stats.getAs[Any]("n_block_rows")}")
    }
    spark.stop()
  }
}
