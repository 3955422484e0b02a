package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-split document stitching: find records whose k-token TAIL is
  * another record's k-token HEAD — the seam a fetch-boundary split, a
  * sliding-window chunk export (x22's shape leaking back into a corpus), or
  * a record-size cap leaves behind — and reassemble the split chains.
  *
  * Why a first-class operator: web-crawl and log-derived corpora routinely
  * contain documents chopped across consecutive records; training on the
  * fragments both duplicates the overlap region and destroys long-range
  * context. The stitch signature (exact k-token overlap between one doc's
  * end and another's start) is cheap to mine corpus-wide and precise —
  * unlike near-dup signals it asserts a DIRECTED continuation edge.
  *
  * Scale shape (the 100 TB posture):
  *   - each doc contributes exactly ONE head row and ONE tail row — two
  *     8-byte md5-derived keys + the k-token overlap string; the candidate
  *     join is tail-hash = head-hash on the 48-bit key, so shuffle volume
  *     is 2 rows/doc regardless of document size, never shingle-sized;
  *   - a document-frequency cap (`maxDf`, both sides) drops overlap
  *     strings shared by many docs — a boilerplate header/footer is not a
  *     continuation seam, and without the cap one viral k-gram builds a
  *     df² candidate bucket (the x07/x143 postings discipline);
  *   - 48-bit hash collisions cannot fabricate a pair: candidates verify
  *     on the actual overlap STRING (k tokens ride the row — bounded by k,
  *     not by doc length), and the same cap/verify run in the DuckDB
  *     oracle, so the operator is exact cross-engine.
  *
  * At fixture scale `k = 3` exercises the machinery (the synthetic corpus
  * carries 3-token seams); production crawls would run k ≈ 20–50 where a
  * chance k-token match is impossible.
  */
object Stitch {

  /** 48-bit engine-portable hash of a string column (the x143 idiom:
    * md5 hex prefix, computable identically in DuckDB). */
  private def h48(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** One row per stitchable doc: (`doc_id`, `head`, `tail`) — the first and
    * last `k` tokens as strings. Docs must have MORE than `k` tokens, so a
    * head/tail is a proper prefix/suffix (a doc equal to its own overlap is
    * a fragment of the seam, not a continuation, and would self-pair with
    * every occurrence). */
  private def ends(docs: DataFrame, k: Int, textCol: String,
                   idCol: String): DataFrame =
    Par.fanOutScan(docs, col(idCol))
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > k)
      .select(col("doc_id"),
        array_join(slice(col("toks"), 1, k), " ").as("head"),
        array_join(slice(col("toks"), -k, k), " ").as("tail"))

  /** The df-capped (h, ref_id, ov) tail and head tables — the ONE artifact
    * behind [[stitchPairs]], [[stitchFlagger]] and [[saveStitchIndex]]. Cap
    * semantics: a tail string appearing in > maxDf docs is dropped from the
    * TAIL side, and likewise for heads — each side capped independently on
    * its own 48-bit hash df (hash, not string, so the cap is an 8-byte
    * aggregate at scale; the oracle mirrors the hash exactly).
    *
    * Plan shape (r21, guide §2.3 "aggregate before you shuffle"): the
    * df-cap mines the OVER-CAP hashes with a partial-aggregating
    * groupBy over ONE exploded both-sides pass, then drops their rows
    * with a broadcast anti-join. The r20 count-window form shuffled
    * every UNCAPPED (doc_id, ov, h) row by `h` and buffered each key's
    * full row set in WindowExec before filtering — at corpus scale a
    * boilerplate tail/head with df ≫ maxDf is a single straggler/spill
    * partition, exactly the skew the cap exists to guard against. Here
    * hash aggregation partial-combines map-side (per-key fan-in to the
    * final count is ≤ n_map_tasks partial rows, never the row set), the
    * broadcast side is only the hashes OVER the cap (|rows|/maxDf worst
    * case, boilerplate-sized in practice), and rows first concentrate
    * by `h` in [[stitchPairs]]'s candidate join — AFTER the cap bounds
    * every key to ≤ maxDf rows. */
  private def cappedEnds(docs: DataFrame, k: Int, maxDf: Long, textCol: String,
                         idCol: String): (DataFrame, DataFrame) = {
    val e = ends(docs, k, textCol, idCol)
    // (doc_id, side, ov, h) — both sides in one exploded pass, so the
    // hot-hash mining tokenizes the corpus once for tail AND head.
    val rows = e.select(col("doc_id"), explode(array(
        struct(lit("t").as("side"), col("tail").as("ov")),
        struct(lit("h").as("side"), col("head").as("ov")))).as("x"))
      .select(col("doc_id"), col("x.side").as("side"), col("x.ov").as("ov"),
        h48(col("x.ov")).as("h"))
    val hot = rows.groupBy(col("side"), col("h"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select(col("side"), col("h"))
    val kept = rows.join(broadcast(hot), Seq("side", "h"), "left_anti")
    def side(s: String): DataFrame = kept.filter(col("side") === s)
      .select(col("h"), col("doc_id").as("ref_id"), col("ov"))
    (side("t"), side("h"))
  }

  /** Directed stitch pairs: (`prev_id`, `next_id`, `overlap`) — prev's last
    * `k` tokens equal next's first `k` tokens (exact string match; the
    * 48-bit hash only prunes candidates). Both sides df-capped at `maxDf`.
    * Self-pairs are excluded; a doc may appear on both sides (interior
    * fragment of a longer chain) and on either side more than once when
    * several docs share a seam (the cap bounds that fan-out). */
  def stitchPairs(docs: DataFrame, k: Int = 3, maxDf: Long = 16L,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && maxDf >= 2, s"need k >= 1 and maxDf >= 2, got $k/$maxDf")
    val (tails, heads) = cappedEnds(docs, k, maxDf, textCol, idCol)
    tails.select(col("h"), col("ref_id").as("prev_id"), col("ov"))
      .join(heads.select(col("h"), col("ref_id").as("next_id"),
        col("ov").as("ov_h")), Seq("h"))
      .filter(col("prev_id") =!= col("next_id") && col("ov") === col("ov_h"))
      .select(col("prev_id"), col("next_id"), col("ov").as("overlap"))
  }

  /** Stitch CHAINS: connected components over the undirected [[stitchPairs]]
    * edge set (the [[Dedup.dupClusters]] two-tier machinery — local
    * union-find under the edge cap, min-label propagation beyond), plus each
    * member's role: `is_head` (no incoming stitch edge — a chain's first
    * fragment) and `is_tail` (no outgoing edge — its last). Output one row
    * per doc appearing in any stitch pair: (`doc_id`, `chain_rep`,
    * `is_head`, `is_tail`). Reassembly order falls out of the roles plus
    * the directed pairs; the component id gives the regrouping key a
    * repartition-and-merge pass needs. */
  def stitchChains(docs: DataFrame, k: Int = 3, maxDf: Long = 16L,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pairs = stitchPairs(docs, k, maxDf, textCol, idCol).persist()
    try {
      val und = pairs.select(
        least(col("prev_id"), col("next_id")).as("ia"),
        greatest(col("prev_id"), col("next_id")).as("ib")).distinct()
      val comp = Dedup.dupClusters(und)
      val hasIn = pairs.select(col("next_id").as("doc_id")).distinct()
        .withColumn("has_in", lit(true))
      val hasOut = pairs.select(col("prev_id").as("doc_id")).distinct()
        .withColumn("has_out", lit(true))
      comp
        .join(hasIn, Seq("doc_id"), "left")
        .join(hasOut, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_rep").as("chain_rep"),
          coalesce(!col("has_in"), lit(true)).as("is_head"),
          coalesce(!col("has_out"), lit(true)).as("is_tail"))
    } finally pairs.unpersist()
  }

  /** Seam SCRUB — the stitch family's actionable member (the x134 shape
    * for continuation seams): every doc with at least one INCOMING seam
    * (it continues some other doc, so its first `k` tokens duplicate that
    * doc's tail) gets those `k` tokens removed; a chain reassembled from
    * head onward through scrubbed continuations then carries each seam's
    * tokens exactly once. Output one row per affected doc: (`doc_id`,
    * `n_prev` incoming seams, `n_tok` original tokens, `scrub_text`).
    * Multiple predecessors still share the ONE k-token head, so exactly
    * `k` tokens drop regardless of `n_prev`. Unaffected docs are by
    * definition unchanged and not emitted. */
  def stitchScrub(docs: DataFrame, k: Int = 3, maxDf: Long = 16L,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val flagged = stitchPairs(docs, k, maxDf, textCol, idCol)
      .groupBy(col("next_id").as("doc_id")).agg(count(lit(1)).as("n_prev"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(flagged, "doc_id")
      .select(col("doc_id"), col("n_prev"), size(col("toks")).cast("long").as("n_tok"),
        expr(s"array_join(slice(toks, ${k + 1}, size(toks) - $k), ' ')")
          .as("scrub_text"))
  }

  /** The probe shared by the in-memory and reloaded stitch flaggers: a
    * batch doc is flagged when its HEAD continues a frozen corpus doc's
    * tail (`n_prev` such predecessors) or its TAIL is continued by a frozen
    * corpus doc's head (`n_next` successors). Self-matches are excluded so
    * a corpus-self probe flags exactly the docs appearing in a
    * [[stitchPairs]] pair (StitchSpec pins this). */
  private def probe(tails: DataFrame, heads: DataFrame, k: Int, textCol: String,
                    idCol: String): DataFrame => DataFrame = batch => {
    val e = ends(batch, k, textCol, idCol)
    val bHeads = e.select(col("doc_id"), col("head").as("ov_b"),
      h48(col("head")).as("h"))
    val bTails = e.select(col("doc_id"), col("tail").as("ov_b"),
      h48(col("tail")).as("h"))
    def hits(b: DataFrame, ref: DataFrame, out: String): DataFrame = b
      .join(ref, Seq("h"))
      .filter(col("doc_id") =!= col("ref_id") && col("ov_b") === col("ov"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as(out))
    hits(bHeads, tails, "n_prev")
      .join(hits(bTails, heads, "n_next"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_next"), lit(0L)).as("n_next"))
  }

  /** Freeze the corpus's df-capped head/tail tables ONCE and return the
    * per-batch stitch flagger — [[stitchPairs]] as a build/apply split (the
    * [[Dedup.winnowFlagger]] lifecycle): an incremental crawl probes each
    * new batch for fragments continuing already-ingested docs. Output per
    * flagged batch doc: (`doc_id`, `n_prev`, `n_next`). */
  def stitchFlagger(corpus: DataFrame, k: Int = 3, maxDf: Long = 16L,
                    textCol: String = "text", idCol: String = "doc_id"): Retriever = {
    val (tails, heads) = cappedEnds(corpus, k, maxDf, textCol, idCol)
    Retriever.freeze(tails, heads) {
      case Seq(t, h) => probe(t, h, k, textCol, idCol)
    }
  }

  /** Persist a [[stitchFlagger]] index so the build survives the session
    * ([[Retriever]] companion layout): `dir/tails` and `dir/heads` — the two
    * capped end tables (16 B + k tokens per doc); `dir/meta` — one row
    * (k, max_df). */
  def saveStitchIndex(corpus: DataFrame, dir: String, k: Int = 3,
                      maxDf: Long = 16L, textCol: String = "text",
                      idCol: String = "doc_id"): Unit = {
    val (tails, heads) = cappedEnds(corpus, k, maxDf, textCol, idCol)
    Retriever.save(dir, "tails" -> tails, "heads" -> heads)(
      lit(k).as("k"), lit(maxDf).as("max_df"))
  }

  /** Reload a [[saveStitchIndex]] directory as a ready [[Retriever]]
    * (materialized now, not on first batch; semantics from the saved meta —
    * StitchSpec pins reload parity with the in-memory flagger). */
  def loadStitchFlagger(spark: SparkSession, dir: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "tails", "heads") { case (m, Seq(t, h)) =>
      probe(t, h, m.getAs[Int]("k"), textCol, idCol)
    }
}
