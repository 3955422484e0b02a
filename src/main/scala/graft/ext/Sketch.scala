package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bottom-k minhash corpus-overlap sketches (the x151 family): per-group
  * state is the k smallest md5-48 trigram hashes — deterministic AND
  * engine-portable (so even the "approximate" estimates hash-match a SQL
  * oracle), MERGEABLE (the bottom-k of a union is the bottom-k of the
  * concatenated sketches), and tiny (k × 8 B per group at any corpus
  * size). The pairwise estimate is the standard single-sketch rule: rank
  * the union of two sketches, keep the k smallest, J ≈ |kept ∩ both| /
  * k_used with k_used = min(k, |union|).
  *
  * Scale shape: one corpus-sized trigram pass per build; everything after
  * runs on k-row frames. The pair seed crosses the tiny group list through
  * a broadcast nested loop (the x53 deliberate-bounded shape). Accuracy is
  * gated corpus-side by x151b (max |est − exact| ≤ 0.12 at k = 256).
  */
object Sketch {

  /** Distinct (group, 48-bit trigram hash) rows of a (group, tri) frame —
    * the hash-space projection both the sketches and the oracle share. */
  private def triHashes(tris: DataFrame, grpCol: String): DataFrame =
    tris.select(col(grpCol).as("grp"), col("tri")).distinct()
      .select(col("grp"),
        conv(substring(md5(col("tri")), 1, 12), 16, 10).cast("long").as("h"))
      .distinct()

  /** Bottom-`k` sketch per group over a (group, tri) frame: the k smallest
    * distinct trigram hashes. Output (`grp`, `h`). */
  def sketches(tris: DataFrame, k: Int = 256, grpCol: String = "source"): DataFrame = {
    require(k >= 1, s"sketch size must be >= 1, got $k")
    triHashes(tris, grpCol)
      .withColumn("r", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("r") <= k).select(col("grp"), col("h"))
  }

  /** Pairwise union-rank estimates between every key of `left` and every
    * key of `right` (sketch frames as produced by [[sketches]], columns
    * (`grp`, `h`)): output (`grp_a`, `grp_b`, `k_used`, `est_inter`,
    * `est_ppm`) for all (a, b) key combinations that pass `pairFilter`
    * over (grp_a, grp_b). */
  private[ext] def estimates(left: DataFrame, right: DataFrame, k: Int,
                             pairFilter: org.apache.spark.sql.Column): DataFrame = {
    val pairs = left.select(col("grp").as("grp_a")).distinct()
      .crossJoin(broadcast(right.select(col("grp").as("grp_b")).distinct()))
      .filter(pairFilter)
    val contrib = pairs
        .join(left.toDF("grp_a", "h"), "grp_a")
        .select(col("grp_a"), col("grp_b"), col("h"),
          lit(1).as("ia"), lit(0).as("ib"))
      .union(pairs.join(right.toDF("grp_b", "h"), "grp_b")
        .select(col("grp_a"), col("grp_b"), col("h"),
          lit(0).as("ia"), lit(1).as("ib")))
    contrib.groupBy(col("grp_a"), col("grp_b"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("grp_a"), col("grp_b")).orderBy(col("h"))))
      .filter(col("r") <= k)
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("k_used"),
        sum(expr("IF(ia = 1 AND ib = 1, 1L, 0L)")).as("est_inter"))
      .withColumn("est_ppm", expr("est_inter * 1000000 div k_used"))
  }

  /** All-pairs estimates within one sketch frame, keys ordered `a < b` —
    * the x151 catalog shape. Output (`source_a`, `source_b`, `k_used`,
    * `est_inter`, `est_ppm`). */
  def pairEstimates(sk: DataFrame, k: Int = 256): DataFrame =
    estimates(sk, sk, k, col("grp_a") < col("grp_b"))
      .withColumnRenamed("grp_a", "source_a")
      .withColumnRenamed("grp_b", "source_b")

  /** (group, tri) token-trigram frame of a documents frame — the input
    * [[sketches]] expects when starting from raw text. */
  def docTrigrams(docs: DataFrame, textCol: String = "text",
                  grpCol: String = "source"): DataFrame =
    Par.fanOutScan(docs, col(textCol)).filter(length(trim(col(textCol))) > 0)
      .select(col(grpCol), TextAnalysis.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col(grpCol), explode(expr(
        """transform(sequence(0, size(t) - 3),
                     i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))"""))
        .as("tri"))

  /** Freeze the per-source sketches ONCE and return the per-batch overlap
    * monitor: each arriving batch is sketched AS A WHOLE (one bottom-k
    * over the batch's trigrams) and estimated against every frozen source
    * — the ingest-time provenance detector ("this feed is 60% overlapped
    * with source X"). Semantics are PER-BATCH (the estimate is a property
    * of the whole batch, not of its rows — chopping a feed differently
    * yields different per-chunk estimates, by design; SketchSpec pins the
    * detection contract). Output per batch: (`source`, `k_used`,
    * `est_inter`, `est_ppm`) sorted nowhere — callers order. */
  def overlapFlagger(corpus: DataFrame, k: Int = 256,
                     textCol: String = "text",
                     srcCol: String = "source"): Retriever =
    Retriever.freeze(sourceSketches(corpus, k, textCol, srcCol)) {
      case Seq(ref) => probe(ref, k, textCol)
    }

  /** The frozen per-source sketch table behind [[overlapFlagger]] and
    * [[saveSketchIndex]]. */
  private def sourceSketches(corpus: DataFrame, k: Int, textCol: String,
                             srcCol: String): DataFrame =
    sketches(docTrigrams(corpus, textCol, srcCol), k, srcCol)

  private def probe(ref: DataFrame, k: Int,
                    textCol: String): DataFrame => DataFrame = batch => {
    val bTris = docTrigrams(batch.withColumn("__sk_grp", lit("batch")),
      textCol, "__sk_grp")
    val bSketch = sketches(bTris, k, "__sk_grp")
    estimates(ref, bSketch, k, lit(true))
      .select(col("grp_a").as("source"), col("k_used"), col("est_inter"),
        col("est_ppm"))
  }

  /** Persist an [[overlapFlagger]] index ([[Retriever]] companion layout):
    * `dir/sketches` — k × 8 B per source; `dir/meta` — one row (k). */
  def saveSketchIndex(corpus: DataFrame, dir: String, k: Int = 256,
                      textCol: String = "text",
                      srcCol: String = "source"): Unit =
    Retriever.save(dir, "sketches" -> sourceSketches(corpus, k, textCol, srcCol))(
      lit(k).as("k"))

  /** Reload a [[saveSketchIndex]] directory as a ready [[Retriever]]
    * (materialized now; k from the saved meta — reload parity pinned in
    * SketchSpec). */
  def loadOverlapFlagger(spark: SparkSession, dir: String,
                         textCol: String = "text"): Retriever =
    Retriever.load(spark, dir, "sketches") { case (m, Seq(ref)) =>
      probe(ref, m.getAs[Int]("k"), textCol)
    }
}
