package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact content hash,
  * exact n-gram Jaccard via shingle join, MinHash+LSH banded near-dedup, and
  * SimHash fingerprints.
  *
  * Scale design (100 TB):
  *   - exact dedup groups on a 256-bit content hash, never the raw text, so
  *     the shuffle carries 32 bytes + doc_id per row;
  *   - near-dedup NEVER goes all-pairs: candidates come from equi-joins on
  *     LSH band buckets (or shared shingles), which Spark executes as a
  *     shuffled hash join on the bucket key.
  *
  * WHICH NEAR-DEDUP PATH AT SCALE — in preference order:
  *   1. [[ngramJaccardPairsPrefix]] (default): exact AND boilerplate-proof.
  *      Rarest-first prefix indexing makes degenerate postings (license
  *      headers, templates — the df≈corpus shingles that turn postings
  *      quadratic) drop out of the index WITHOUT dropping any result pair.
  *      No cap to tune, no recall loss; audit with [[prefixCandidateStats]].
  *   2. [[minHashLshPairs]] / [[ngramJaccardPairs]] with an explicit
  *      `maxDf` ([[recommendedScaleMaxDf]]): approximate under the cap —
  *      a capped posting's pairs are GONE. Use only when the cheaper
  *      signature pass matters more than exactness, and always run
  *      [[postingsDfStats]] alongside to see what the cap dropped.
  * Degenerate buckets (thousands of identical docs) remain the skew risk
  * for path 2 — AQE skew-join handles moderate cases; the cap bounds
  * pathological ones at the cost of those pairs.
  */
object Dedup {

  /** Exact dedup: one surviving (minimum) doc id per distinct content.
    * Groups on sha2-256 of the text, not the text itself. */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Distinct word n-gram shingle set over an ALREADY-MATERIALIZED token
    * array column. Callers must project the tokenization into its own
    * column first: inlining `split()` here would re-execute the regex once
    * per `element_at` reference (≈ 3n per document — measured 22 s for 5k
    * docs at sf0.1 before the split was hoisted). */
  def shingleArrayOfTokens(toks: Column, n: Int): Column =
    // Guard: sequence(1, 0) would generate a DESCENDING sequence in Spark,
    // so short docs must short-circuit to an empty array.
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingle set of a text column (docs with fewer than
    * `n` tokens produce no shingles and drop out of shingle-based dedup). */
  def shingleArray(text: Column, n: Int): Column =
    shingleArrayOfTokens(TextAnalysis.tokens(text), n)

  /** Hashed-shingle table: `shs` is the sorted distinct
    * 64-bit shingle hashes (native codegen'd
    * [[org.apache.spark.sql.graft.ShingleHashExpr]] — one tight loop per
    * doc instead of interpreted lambdas), so every downstream postings
    * shuffle keys on 8-byte longs instead of shingle strings. The pair/
    * Jaccard operators run on this form; set semantics are identical modulo
    * ~q²/2⁶⁴ hash collisions. */
  def hashedShingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    Par.fanOutScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorFunctions.shingleHashF(col("toks"), n).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n_sh"))

  /** Recommended per-shingle document-frequency cap FOR SCALE RUNS: a
    * shingle appearing in q docs emits q²/2 candidate pairs, so one
    * boilerplate shingle (license header, template) in 100k docs would emit
    * 5·10⁹ pairs from a single posting. Standard similarity-join practice
    * drops ultra-common shingles — they carry almost no similarity signal
    * (an idf≈0 feature) but all of the quadratic cost.
    *
    * The cap is OPT-IN: the pair operators default to `maxDf = Int.MaxValue`
    * (exact — no posting dropped), because a silent cap turns an exact
    * operator into an approximate one under existing callers. Scale
    * pipelines pass `maxDf = recommendedScaleMaxDf` (or their own bound)
    * and should run [[postingsDfStats]] alongside to log what the cap
    * drops — the inline `df.observe(...)` counter is unreliable under AQE
    * (metrics observed below re-planned exchanges are swallowed). */
  val recommendedScaleMaxDf = 1000

  /** Skew-cap audit: the per-shingle document-frequency distribution as one
    * row — total distinct shingles, the maximum df, and how many postings a
    * `maxDf` cap would drop. Pipelines run/log this alongside a capped
    * dedup; unlike the inline `observe` metric it survives AQE re-planning
    * (a CollectMetrics node below AQE-replanned exchanges does not reach
    * `QueryExecution.observedMetrics` — verified empirically on 4.1). */
  def postingsDfStats(docs: DataFrame, textCol: String, idCol: String,
                      n: Int, maxDf: Int = recommendedScaleMaxDf): DataFrame =
    postingsDfStatsOf(hashedShingles(docs, textCol, idCol, n), maxDf)

  /** [[postingsDfStats]] over a PREBUILT [[hashedShingles]] frame — lets a
    * pipeline that already persists its shingles (the catalog's shared
    * frame) audit its cap without re-shingling the corpus. */
  def postingsDfStatsOf(sh: DataFrame,
                        maxDf: Int = recommendedScaleMaxDf): DataFrame = {
    val ex = sh
      .select(col("doc_id"), explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
    // coalesce: a corpus with no n-token docs yields an EMPTY shingle
    // frame, where the global max/sum aggregate NULLs — callers read these
    // with Row.getLong, which would NPE instead of seeing "no cap hits"
    ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(max(col("df")), lit(0L)).as("max_df"),
        coalesce(sum(when(col("df") > maxDf, 1).otherwise(0)), lit(0L))
          .as("n_over_cap"))
  }

  /** Hash-partition on `keys` with an EXPLICIT partition count (the
    * session's shuffle parallelism) — the SOAK-measured AQE lever for the
    * hashed-shingle mining family, baked into the plan: AQE never
    * coalesces a user-numbered repartition, so the stage that READS this
    * shuffle (the postings pair explosion + verification — the family's
    * CPU-heaviest work) keeps full parallelism even when its shuffle
    * BYTES look small enough to coalesce. Shuffle bytes are a bad proxy
    * for the quadratic per-row work downstream: AQE's byte-sized
    * coalescing made this family 1.4–1.9× slower at the 10× soak (r17).
    * With AQE off the plan is the same single shuffle as before, just
    * user-pinned, so nothing changes there. */
  private def pinForMining(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** Shared-shingle intersection counts per doc pair, via postings lists:
    * group the exploded shingles by shingle, emit every ordered id pair
    * inside each posting, count per pair. The per-doc shingle-set size
    * rides INSIDE the postings structs, so the pair rows come out with
    * (`ia < ib`, `na`, `nb`, `inter`) and Jaccard needs no further joins
    * (each join back to a sizes table would re-evaluate the whole shingle
    * subtree — measured ~2 s per join at sf0.1). One evaluation, two
    * key-partitioned shuffles. Quadratic only in per-shingle document
    * frequency, which an opt-in `maxDf` ([[recommendedScaleMaxDf]]) caps. */
  private def pairIntersections(sh: DataFrame, maxDf: Int): DataFrame = {
    val ex = sh
      .select(col("doc_id"), col("n_sh"), explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
    val postings = pinForMining(ex, col("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n_sh")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft_postings_cap",
        count(when(size(col("ids")) > maxDf, 1)).as("dropped_postings"))
      .filter(size(col("ids")) <= maxDf)
    postings
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(
          a.getField("doc_id").as("ia"), a.getField("n_sh").as("na"),
          b.getField("doc_id").as("ib"), b.getField("n_sh").as("nb"))
      }).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.na").as("na"),
        col("p.ib").as("ib"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  private def jaccardFromCounts(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("jacc",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= threshold)
      .select(col("ia"), col("ib"), round(col("jacc"), 4).as("jacc"))

  /** Exact n-gram Jaccard near-dup pairs via the shingle postings lists (no
    * all-pairs): docs sharing ≥1 shingle get their intersection counted,
    * then Jaccard = |∩| / (|A|+|B|−|∩|). Output: `ia < ib`, `jacc` (4dp). */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        maxDf: Int = Int.MaxValue): DataFrame =
    ngramJaccardPairsOf(hashedShingles(docs, textCol, idCol, n), threshold, maxDf)

  /** [[ngramJaccardPairs]] over a PREBUILT [[hashedShingles]] frame — the
    * shingle scan is the family's shared upstream (pairs, LSH, prefix,
    * novelty, calibration all start from it), so pipelines build it once,
    * persist, and fan out: the tokenize+hash pass over a 100 TB corpus is
    * worth exactly one evaluation. */
  def ngramJaccardPairsOf(sh: DataFrame, threshold: Double,
                          maxDf: Int = Int.MaxValue): DataFrame =
    jaccardFromCounts(pairIntersections(sh, maxDf), threshold)

  /** Exact shingle-CONTAINMENT near-dup pairs — the excerpt/quote MINER:
    * containment of the smaller side, c = |A∩B| / min(|A|, |B|) ≥
    * threshold. Symmetric Jaccard hides exactly these relations (a
    * verbatim excerpt of a 10× longer doc has jacc ≈ 0.1 but containment
    * 1.0), and x146's pair-verify only SCORES containment on pairs some
    * other miner already surfaced — this one finds them. Same one-
    * evaluation postings-join shape (and opt-in `maxDf` skew cap) as
    * [[ngramJaccardPairsOf]]; quadratic only in per-shingle document
    * frequency. Output: `ia < ib`, `cont` (4dp). */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int, threshold: Double,
                       maxDf: Int = Int.MaxValue): DataFrame =
    containmentPairsOf(hashedShingles(docs, textCol, idCol, n), threshold, maxDf)

  /** [[containmentPairs]] over a prebuilt [[hashedShingles]] frame. */
  def containmentPairsOf(sh: DataFrame, threshold: Double,
                         maxDf: Int = Int.MaxValue): DataFrame =
    pairIntersections(sh, maxDf)
      .withColumn("cont",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("cont") >= threshold)
      .select(col("ia"), col("ib"), round(col("cont"), 4).as("cont"))

  /** Prefix-filtered exact containment pairs — [[containmentPairsOf]]'s
    * SCALE form, the x36 discipline adapted to the asymmetric metric.
    * Soundness: cont ≥ τ means the SMALLER side S shares ≥ ⌈τ|S|⌉ of its
    * own shingles, so among its |S| − ⌈τ|S|⌉ + 1 globally-RAREST shingles
    * at least one is shared (pigeonhole on the ≤ |S| − ⌈τ|S|⌉ unshared
    * ones). The asymmetry is fundamental: the LARGER side of an excerpt
    * pair shares only |S| of its |L| ≫ |S| shingles, so a useful prefix
    * of L cannot exist — hence each doc's prefix probes the FULL postings
    * (prefix ⋈ all), not prefix ⋈ prefix as in the Jaccard join. The
    * candidate volume is Σ_prefix-shingle df(g): rarest-first ordering
    * keeps boilerplate shingles out of prefixes, which is the exact
    * answer to the df blowup the opt-in `maxDf` cap only approximates.
    * Candidates verify with one sorted-intersect per pair — same output
    * contract as [[containmentPairsOf]], no recall loss (DedupSpec pins
    * equality; x187 pins it against the uncapped oracle). */
  def containmentPairsPrefix(docs: DataFrame, textCol: String, idCol: String,
                             n: Int, threshold: Double): DataFrame =
    containmentPairsPrefixOf(hashedShingles(docs, textCol, idCol, n), threshold)

  /** [[containmentPairsPrefix]] over a prebuilt [[hashedShingles]] frame. */
  def containmentPairsPrefixOf(sh: DataFrame, threshold: Double): DataFrame = {
    val ex = sh
      .select(col("doc_id"), col("n_sh"), explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
    val prefix = prefixPostings(sh, threshold)
    val cands = prefix
      .select(col("doc_id").as("pid"), col("n_sh").as("pn"), col("g"))
      .join(pinForMining(
          ex.select(col("doc_id").as("fid"), col("n_sh").as("fn"), col("g")),
          col("g")),
        "g")
      .filter(col("pid") =!= col("fid"))
      .select(
        least(col("pid"), col("fid")).as("ia"),
        when(col("pid") < col("fid"), col("pn")).otherwise(col("fn")).as("na"),
        greatest(col("pid"), col("fid")).as("ib"),
        when(col("pid") < col("fid"), col("fn")).otherwise(col("pn")).as("nb"))
      .distinct()
    val verified = cands
      .join(sh.select(col("doc_id").as("ia"), col("shs").as("sa")), "ia")
      .join(sh.select(col("doc_id").as("ib"), col("shs").as("sb")), "ib")
      .withColumn("inter",
        org.apache.spark.sql.graft.VectorFunctions.sortedIntersectF(col("sa"), col("sb")))
      .select(col("ia"), col("na"), col("ib"), col("nb"), col("inter"))
    verified
      .withColumn("cont",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("cont") >= threshold)
      .select(col("ia"), col("ib"), round(col("cont"), 4).as("cont"))
  }

  /** Rarest-first per-document prefix of the exploded shingle postings:
    * keeps each doc's first `|A| − ⌈t·|A|⌉ + 1` shingles under the global
    * (df asc, hash asc) total order. α = ⌈t·|A|⌉ is computed with a
    * downward nudge: if t·|A| lands on an integer, fp error must not round
    * the ceiling UP (a too-short prefix loses pairs; a one-longer prefix
    * only adds candidates). */
  private def prefixPostings(sh: DataFrame, threshold: Double): DataFrame = {
    val ex = sh
      .select(col("doc_id"), col("n_sh"), explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
    val dfTab = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val alpha = ceil(col("n_sh") * threshold - 1e-9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("g").asc)
    ex.join(dfTab, "g")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= (col("n_sh") - alpha + 1))
      .select(col("doc_id"), col("n_sh"), col("g"))
  }

  /** Exact n-gram Jaccard near-dup pairs with AllPairs/PPJoin-style PREFIX
    * FILTERING — the scale path that stays exact. Same output contract as
    * [[ngramJaccardPairs]] (`ia < ib`, `jacc` 4dp), but only each document's
    * PREFIX shingles are indexed: under any global total order, two sets
    * with `|A∩B| ≥ α` must both contain one common element within their
    * first `|·| − α + 1` elements (pigeonhole — the α intersection elements
    * cannot all hide in an (α−1)-long suffix), and `J(A,B) ≥ t` implies
    * `|A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉`. Ordering shingles RAREST-FIRST
    * (ascending global document frequency) puts boilerplate shingles —
    * license headers, templates, the df≈corpus shingles that make postings
    * quadratic — at the very END of every document, so they are almost
    * never indexed: the q²/2 blowup from a degenerate posting disappears
    * WITHOUT dropping anything (contrast the approximate opt-in `maxDf`
    * cap on [[ngramJaccardPairs]]). Candidates also pass the length filter
    * (`min ≥ t·max`, else Jaccard < t); survivors are verified exactly by
    * joining back to the full sorted hash arrays and counting the
    * intersection with one codegen'd merge pass
    * ([[org.apache.spark.sql.graft.SortedIntersectCountExpr]]).
    *
    * Plan shape: df groupBy (shuffle on shingle), df join + per-doc prefix
    * window (shuffles on shingle, doc), prefix-postings groupBy (shuffle on
    * shingle), two verify joins (shuffles on id) — every stage linear in
    * the postings volume, never quadratic in df. The shingle subtree is
    * re-evaluated by the verify joins (map-side CPU, no extra shuffle). */
  def ngramJaccardPairsPrefix(docs: DataFrame, textCol: String, idCol: String,
                              n: Int, threshold: Double): DataFrame =
    ngramJaccardPairsPrefixOf(hashedShingles(docs, textCol, idCol, n), threshold)

  /** [[ngramJaccardPairsPrefix]] over a prebuilt [[hashedShingles]] frame
    * (see [[ngramJaccardPairsOf]] for why the shingle scan is shared). */
  def ngramJaccardPairsPrefixOf(sh: DataFrame, threshold: Double): DataFrame = {
    val cands = pinForMining(prefixPostings(sh, threshold), col("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n_sh")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(
          a.getField("doc_id").as("ia"), a.getField("n_sh").as("na"),
          b.getField("doc_id").as("ib"), b.getField("n_sh").as("nb"))
      }).as("p"))
      .select(col("p.ia").as("ia"), col("p.na").as("na"),
        col("p.ib").as("ib"), col("p.nb").as("nb"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * threshold - 1e-9)
      .distinct()
    val verified = cands
      .join(sh.select(col("doc_id").as("ia"), col("shs").as("sa")), "ia")
      .join(sh.select(col("doc_id").as("ib"), col("shs").as("sb")), "ib")
      .withColumn("inter",
        org.apache.spark.sql.graft.VectorFunctions.sortedIntersectF(col("sa"), col("sb")))
      .select(col("ia"), col("na"), col("ib"), col("nb"), col("inter"))
    jaccardFromCounts(verified, threshold)
  }

  /** Candidate-pair count audit for [[ngramJaccardPairsPrefix]] vs the full
    * postings path: one row with both counts, so pipelines can see the
    * prefix filter collapse a boilerplate corpus's candidate set. */
  def prefixCandidateStats(docs: DataFrame, textCol: String, idCol: String,
                           n: Int, threshold: Double): DataFrame = {
    val sh = hashedShingles(docs, textCol, idCol, n)
    // q(q−1) is even, so per-term integer div is exact — `/` on long columns
    // would be double division (exact only below 2^53; see gotcha list).
    val full = sh
      .select(col("doc_id"), explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
      .groupBy(col("g")).agg(count(lit(1)).as("q"))
      .agg(coalesce(sum(expr("q * (q - 1) div 2")), lit(0L)).as("full_candidates"))
    val pref = prefixPostings(sh, threshold)
      .groupBy(col("g")).agg(count(lit(1)).as("q"))
      .agg(coalesce(sum(expr("q * (q - 1) div 2")), lit(0L)).as("prefix_candidates"))
    full.crossJoin(pref)
  }

  /** MinHash signature length and LSH banding (b bands × r = k/b rows). r=2
    * keeps recall ≥ 1−(1−t²)^32 ≈ 0.9999998 at t=0.6 — misses are
    * astronomically unlikely, so the verified output matches the exact
    * shingle-join result; false-positive candidates cost only the exact
    * verification join. */
  val k = 64
  val bands = 32

  /** MinHash-LSH near-dup pairs, exact-verified: band-bucket equi-join for
    * candidates, then exact Jaccard via the postings-list intersection
    * counts, same output contract as [[ngramJaccardPairs]]. A band-collision
    * false positive sharing zero shingles drops at the inner join — it could
    * only ever have Jaccard 0.
    *
    * Banding is MAP-SIDE: the native
    * [[org.apache.spark.sql.graft.MinHashBandsExpr]] computes all k minima
    * and the band bucket keys in one pass over the doc's hashed shingle
    * array, so the plan has no signature shuffle at all — the only
    * shuffles are the bucket groupBy and the verification joins.
    * (`posexplode_outer` + null filter on the OUTPUT attribute: plain
    * posexplode would let InferFiltersFromGenerate push `size(...) > 0` —
    * and with it the whole shingle expression — back into the scan.) */
  def minHashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      n: Int, threshold: Double,
                      maxDf: Int = Int.MaxValue): DataFrame =
    minHashLshPairsOf(hashedShingles(docs, textCol, idCol, n), threshold, maxDf)

  /** [[minHashLshPairs]] over a prebuilt [[hashedShingles]] frame
    * (see [[ngramJaccardPairsOf]] for why the shingle scan is shared). */
  def minHashLshPairsOf(sh: DataFrame, threshold: Double,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    val banded = sh
      .select(col("doc_id"),
        posexplode_outer(
          org.apache.spark.sql.graft.VectorFunctions.minHashBandsF(col("shs"), k, bands))
          .as(Seq("band", "bh")))
      .filter(col("bh").isNotNull)
    // Bucket postings lists instead of a band self-join: a degenerate bucket
    // of q identical docs would make the join emit q² probe rows; the
    // postings form makes the blowup visible as one array whose size the
    // same maxDf cap bounds (an over-cap bucket means near-identical
    // boilerplate, which the shingle-postings cap drops anyway).
    val buckets = pinForMining(banded, col("band"), col("bh"))
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft_lsh_bucket_cap",
        count(when(size(col("ids")) > maxDf, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxDf)
    val cands = buckets
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(a.as("ia"), b.as("ib"))
      }).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .distinct()
    jaccardFromCounts(
      cands.join(pairIntersections(sh, maxDf), Seq("ia", "ib")), threshold)
  }

  /** Benchmark-decontamination scan: for every (train doc, eval doc) pair
    * sharing at least `minShared` word n-gram shingles, the shared count —
    * the standard pre-training check that evaluation data has not leaked
    * into the training corpus. Both sides shingle through the native hashed
    * path, so the overlap join keys on 8-byte longs; the equi-join on the
    * shingle hash is the postings shape (never all-pairs). The usual
    * boilerplate-shingle skew caveat applies — run the corpus through
    * [[ngramJaccardPairs]]-style df capping first if it has template text.
    * Output: `train_id`, `eval_id`, `n_shared` (≥ minShared). */
  def contaminationPairs(train: DataFrame, eval_ : DataFrame,
                         textCol: String, idCol: String,
                         n: Int, minShared: Long): DataFrame = {
    def ex(df: DataFrame, name: String) =
      hashedShingles(df, textCol, idCol, n)
        .select(col("doc_id").as(name), explode_outer(col("shs")).as(s"g_$name"))
        .filter(col(s"g_$name").isNotNull)
    ex(train, "train_id")
      .join(ex(eval_, "eval_id"), col("g_train_id") === col("g_eval_id"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental dedup — the daily-crawl shape: a NEW batch deduplicated
    * against the existing corpus and against itself in one pass. Keys on
    * [[TextAnalysis.bagFingerprint]] (order-insensitive token-set hash), so
    * shuffled/templated re-crawls collapse too; each new doc is labeled
    * `dup_corpus` (its fingerprint exists in the corpus), `dup_batch` (an
    * earlier doc of the SAME batch — lowest id wins, matching the
    * streaming exact-dedup twin), or `kept`.
    *
    * Scale shape: the corpus — the 100 TB side — reduces to its DISTINCT
    * fingerprint set before the equi-join (32-byte keys, no payload); the
    * intra-batch rule is a per-fingerprint window over the (small) batch.
    * When a superset flag is acceptable, the corpus set becomes a Bloom
    * side-input instead (the x47 zero-join shape).
    *
    * Output: (`doc_id`, `status`) for every batch doc. */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      TextAnalysis.bagFingerprint(col(textCol)).as("fp"))
    val corpusFp = fps(corpus).select(col("fp")).distinct()
    val wfp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    fps(newBatch)
      .join(corpusFp.withColumn("in_corpus", lit(1)), Seq("fp"), "left")
      .withColumn("rn", row_number().over(wfp))
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, lit("dup_corpus"))
          .when(col("rn") > 1, lit("dup_batch"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Graded contamination: [[contaminationPairs]]'s boolean flag widened to
    * a per-train-doc OVERLAP SCORE — the fraction of the doc's distinct
    * shingles that appear anywhere in the eval corpus. Pipelines threshold
    * this (drop ≥ 0.8, down-weight ≥ 0.2, …) instead of hard-dropping on a
    * fixed shared count; docs with fewer than `n` tokens have no shingles
    * and drop out (no 0/0).
    *
    * Scale shape: the eval corpus is the SMALL side BY CONTRACT (a
    * benchmark suite — at most tens of millions of distinct shingle
    * hashes, well under broadcast limits), so its distinct hash set is
    * broadcast by an explicit hint and the train side — the 100 TB side —
    * resolves membership in a broadcast hash join against its exploded
    * shingles and aggregates per doc: one train-side shuffle of
    * (doc_id, counts), never a shuffle of the postings themselves. The
    * hint is deliberate (the eval side is a just-built aggregate, so the
    * static planner has no size estimate and would pick sort-merge);
    * callers whose "eval" side is NOT broadcast-sized should use
    * [[contaminationPairs]] (sort-merge postings join) for exact pair
    * attribution or [[bloomContamination]] (zero-join superset flag)
    * instead — this operator does not degrade on its own.
    *
    * Output: (`doc_id`, `n_shingles`, `n_shared`, `frac_shared`). */
  def contaminationFraction(train: DataFrame, eval_ : DataFrame,
                            textCol: String, idCol: String,
                            n: Int): DataFrame = {
    val evalSh = hashedShingles(eval_, textCol, idCol, n)
      .select(explode(col("shs")).as("g")).distinct()
    hashedShingles(train, textCol, idCol, n)
      .select(col("doc_id"), explode(col("shs")).as("g"))
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .withColumn("frac_shared",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Serialize a LongType column into one Spark `BloomFilter` binary — the
    * same catalyst `BloomFilterAggregate` the engine builds runtime join
    * filters with: each partition fills a local filter, partials OR-merge,
    * one binary comes out. Deterministic (fixed-seed hashing, sizing from
    * explicit literals), so bloom-derived results are stable across runs. */
  private def bloomAgg(c: Column, nItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    org.apache.spark.sql.graft.ColumnBridge.column(
      new BloomFilterAggregate(
        org.apache.spark.sql.graft.ColumnBridge.expression(c),
        Literal(nItems), Literal(numBits)).toAggregateExpression())
  }

  /** Scan-local membership test against a serialized Bloom filter (catalyst
    * `BloomFilterMightContain`; the filter bits ride as a literal, so every
    * task tests locally — no join, no shuffle). */
  private def bloomMightContain(bloom: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    org.apache.spark.sql.graft.ColumnBridge.column(
      BloomFilterMightContain(Literal(bloom),
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))
  }

  /** Bloom-filter decontamination — the 100 TB shape of
    * [[contaminationPairs]]: serialize the EVAL corpus's distinct shingle
    * hashes into one Bloom filter (distributed aggregate, one small binary
    * to the driver), then flag train docs by a SCAN-LOCAL membership test.
    * The train corpus — the 100 TB side — never shuffles and never joins:
    * each task tests its shingles against the filter bits and only the
    * per-doc hit counts aggregate. Contrast the exact path, which shuffles
    * every train shingle posting into the bipartite equi-join.
    *
    * Semantics: Bloom filters have NO false negatives and a tunable
    * false-positive rate `fpp`, so the flagged set is a SUPERSET of any
    * exact overlap (driver-visible via the x48 gate). Attribution is
    * corpus-level — a doc is flagged when ≥ `minShared` of its distinct
    * shingles appear ANYWHERE in the eval corpus — which is exactly what a
    * keep-or-drop decontamination pass needs; per-eval-doc attribution
    * stays with [[contaminationPairs]] on the (tiny) flagged subset.
    *
    * Sizing: m = ⌈−n·ln(fpp)/ln²2⌉ bits ≈ 1.2 MB per million eval shingles
    * at fpp 1% — an eval benchmark suite is at most tens of millions of
    * shingles, so the driver round-trip and per-task literal stay small
    * while the train side scales freely.
    *
    * Output: (`doc_id`, `n_maybe_shared`) for flagged train docs. */
  def bloomContamination(train: DataFrame, eval_ : DataFrame,
                         textCol: String, idCol: String,
                         n: Int, minShared: Long,
                         fpp: Double = 0.01): DataFrame =
    bloomFlagger(eval_, textCol, idCol, n, minShared, fpp)(train)

  /** Build the eval-side Bloom filter ONCE and return the train-side
    * flagger — the build/apply split that makes the decontamination pass
    * STREAMING-ready: the filter binary is computed up front (two eval-side
    * jobs: distinct-shingle count + Bloom aggregate) and the returned
    * function flags ANY train frame — a batch corpus or each `foreachBatch`
    * micro-batch — by the same scan-local membership test. Per-doc counts
    * are intra-row (shingles of one document), so micro-batch boundaries
    * cannot split a count: streaming output ≡ batch output on the same
    * rows (asserted in StreamingSpec). An empty eval corpus yields a
    * flagger that returns an empty same-schema frame (the operator stays
    * total, as the empty-corpus LSH paths). */
  def bloomFlagger(eval_ : DataFrame, textCol: String, idCol: String,
                   n: Int, minShared: Long,
                   fpp: Double = 0.01): DataFrame => DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val evalSh = hashedShingles(eval_, textCol, idCol, n)
      .select(explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    val nItems = evalSh.count()
    val bloomBytes: Option[Array[Byte]] =
      if (nItems == 0) None
      else {
        val numBits = math.max(64L,
          math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
        Some(evalSh.agg(bloomAgg(col("g"), nItems, numBits))
          .head().getAs[Array[Byte]](0))
      }
    (train: DataFrame) => bloomBytes match {
      case None =>
        train.sparkSession.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0L).as("n_maybe_shared"))
          .limit(0)
      case Some(bits) =>
        hashedShingles(train, textCol, idCol, n)
          .select(col("doc_id"), explode_outer(col("shs")).as("g"))
          .filter(col("g").isNotNull && bloomMightContain(bits, col("g")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_maybe_shared"))
          .filter(col("n_maybe_shared") >= minShared)
    }
  }

  /** The capped reference postings (`g`, `ref_id`, `nb`) frozen from a
    * PREBUILT [[hashedShingles]] frame — the ONE index table behind
    * [[nearDupFlagger]], [[containmentFlaggerOf]] and [[saveNearDupIndex]]:
    * a pipeline that already carries the corpus shingle frame (the
    * shared-upstream discipline) freezes its reference postings from it
    * without re-tokenizing. */
  private def nearDupPostingsOf(sh: DataFrame, maxDf: Int): DataFrame = {
    val postings = sh
      .select(col("doc_id").as("ref_id"), col("n_sh").as("nb"),
        explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
    // An unbounded cap keeps every posting — skip the df aggregate + join
    // outright instead of computing a filter that never fires (r21;
    // measured ~0.4 s per flagger build at sf0.1, and at scale it is a
    // full postings aggregate for nothing).
    if (maxDf == Int.MaxValue)
      postings.select(col("g"), col("ref_id"), col("nb"))
    else {
      val dfc = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
      postings.join(dfc.filter(col("df") <= maxDf), "g")
        .select(col("g"), col("ref_id"), col("nb"))
    }
  }

  /** The ONE probe pipeline every shingle flagger runs (batch doc explode →
    * frozen-postings join → per-(doc, ref) intersection count), scored by
    * the caller's metric — so a fix to the probe path reaches the Jaccard
    * and containment twins alike. */
  private def scoredAgainst(capped: DataFrame, textCol: String, idCol: String,
                            n: Int, threshold: Double, scoreName: String)(
      score: (Column, Column, Column) => Column)(docs: DataFrame): DataFrame = {
    // Probe batches arrive as MemoryStream/local frames, where
    // Par.fanOutScan deliberately declines (no file stats to size by) —
    // so the batch tokenize+shingle ran 1-wide (r21, measured ~1 s per
    // x186b probe batch at sf0.1). A keyed repartition costs one tiny
    // exchange of the raw batch and parallelizes the shingle pass; probe
    // consumers (join + aggregate) are partition-insensitive.
    val fanned =
      if (docs.isStreaming) docs
      else docs.repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
    hashedShingles(fanned, textCol, idCol, n)
      .select(col("doc_id"), col("n_sh").as("na"),
        explode_outer(col("shs")).as("g"))
      .filter(col("g").isNotNull)
      .join(capped, "g")
      .groupBy(col("doc_id"), col("ref_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(scoreName, score(col("inter"), col("na"), col("nb")))
      .filter(col(scoreName) >= threshold)
      .select(col("doc_id"), col("ref_id"),
        round(col(scoreName), 4).as(scoreName))
  }

  /** The probe side of the flagger lifecycle: flag `docs` against a
    * (persisted) capped postings frame. */
  private def flagAgainst(capped: DataFrame, textCol: String, idCol: String,
                          n: Int, threshold: Double)(docs: DataFrame): DataFrame =
    scoredAgainst(capped, textCol, idCol, n, threshold, "jacc")(
      (inter, na, nb) => inter.cast("double") / (na + nb - inter))(docs)

  /** Flag documents that are n-gram-Jaccard near-dups of a STATIC reference
    * corpus — [[ngramJaccardPairs]] with one side pinned, which is what
    * makes it STREAMING-ready (the [[bloomFlagger]] build/apply split): the
    * reference's shingle postings and doc sizes are computed ONCE and
    * persisted; the returned function flags ANY frame — a batch corpus or
    * each `foreachBatch` micro-batch — by a map-side shingle hash and an
    * 8-byte-key equi-join against the postings. Never batch × reference.
    * Per-pair intersection counts are confined to one micro-batch row, so
    * streaming output ≡ batch output on the same rows (StreamingSpec).
    *
    * `maxDf` caps the REFERENCE-side document frequency — the side that
    * exists before the stream starts; a boilerplate shingle would otherwise
    * pair every arriving doc with half the reference. Output: (`doc_id`,
    * `ref_id`, `jacc` ≥ threshold, 4dp — the [[ngramJaccardPairs]]
    * contract with the pair oriented stream-side first). */
  def nearDupFlagger(reference: DataFrame, textCol: String, idCol: String,
                     n: Int, threshold: Double,
                     maxDf: Int = Int.MaxValue): Retriever =
    Retriever.freeze(
        nearDupPostingsOf(hashedShingles(reference, textCol, idCol, n), maxDf)) {
      case Seq(capped) => flagAgainst(capped, textCol, idCol, n, threshold)
    }

  /** [[flagAgainst]] with the CONTAINMENT score — same probe pipeline, the
    * smaller side's containment instead of Jaccard. */
  private def containAgainst(capped: DataFrame, textCol: String,
                             idCol: String, n: Int, threshold: Double)(
      docs: DataFrame): DataFrame =
    scoredAgainst(capped, textCol, idCol, n, threshold, "cont")(
      (inter, na, nb) => inter.cast("double") / least(na, nb))(docs)

  /** [[nearDupFlagger]]'s containment twin — x186 as a build/apply split:
    * freeze the reference corpus's shingle postings ONCE, then flag each
    * arriving batch doc against every reference doc whose containment
    * (smaller side) reaches `threshold` — the excerpt/quote guard a
    * quote-heavy crawl needs at ingest, which the Jaccard flagger is
    * blind to. The POSTINGS INDEX IS SCORE-AGNOSTIC: it is byte-identical
    * to [[nearDupFlagger]]'s (the (g, ref_id, nb) table), so one build —
    * or one [[saveNearDupIndex]] directory — serves both flaggers;
    * [[loadContainmentFlagger]] reloads the same layout with a
    * containment threshold. Corpus-self flagging reproduces x186 pair
    * membership (DedupSpec). Output: (`doc_id`, `ref_id`, `cont`). */
  def containmentFlagger(reference: DataFrame, textCol: String, idCol: String,
                         n: Int, threshold: Double,
                         maxDf: Int = Int.MaxValue): Retriever =
    containmentFlaggerOf(hashedShingles(reference, textCol, idCol, n),
      textCol, idCol, n, threshold, maxDf)

  /** [[containmentFlagger]] with the reference postings frozen from a
    * PREBUILT [[hashedShingles]] frame (filter the shared corpus shingle
    * frame to the reference subset and pass it here — no re-shingling),
    * materialized at build time so the first probe batch pays probe cost
    * only. `n` must match the shingle width the frame was built with (it
    * names the probe-side shingling). */
  def containmentFlaggerOf(sh: DataFrame, textCol: String, idCol: String,
                           n: Int, threshold: Double,
                           maxDf: Int = Int.MaxValue): Retriever =
    Retriever.freeze(nearDupPostingsOf(sh, maxDf)) {
      case Seq(capped) => containAgainst(capped, textCol, idCol, n, threshold)
    }

  /** Reload a [[saveNearDupIndex]] directory as a CONTAINMENT flagger —
    * the postings index is score-agnostic, so the same saved build serves
    * Jaccard and containment probes; `n` comes from the saved meta (it
    * shaped the postings), while the containment `threshold` is the
    * caller's (the saved one belongs to the Jaccard contract). */
  def loadContainmentFlagger(spark: org.apache.spark.sql.SparkSession,
                             dir: String, threshold: Double,
                             textCol: String = "text",
                             idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "postings") { case (m, Seq(capped)) =>
      containAgainst(capped, textCol, idCol, m.getAs[Int]("n"), threshold)
    }

  /** Persist a [[nearDupFlagger]] reference index so the build survives the
    * session — the [[Ivf.saveIndex]] shape for shingle dedup: build the
    * capped postings ONCE on the cluster that owns the reference corpus,
    * then any later job (nightly incremental dedup, a different cluster)
    * [[loadNearDupFlagger]]s and probes without re-shingling 100 TB.
    * Layout ([[Retriever]] companion): `dir/postings` — the (g, ref_id, nb)
    * table, 24 B/posting; and `dir/meta` — one row (n, threshold, max_df). */
  def saveNearDupIndex(reference: DataFrame, dir: String,
                       textCol: String = "text", idCol: String = "doc_id",
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = Int.MaxValue): Unit =
    Retriever.save(dir, "postings" ->
        nearDupPostingsOf(hashedShingles(reference, textCol, idCol, n), maxDf))(
      lit(n).as("n"), lit(threshold).as("threshold"), lit(maxDf).as("max_df"))

  /** Reload a [[saveNearDupIndex]] directory as a ready [[Retriever]]:
    * postings persist in memory for probe-many reuse (materialized now,
    * not on first batch), n/threshold come from the saved meta so flagging
    * semantics match the build exactly (DedupSpec pins parity with the
    * in-memory flagger). `textCol`/`idCol` describe the PROBE frames. */
  def loadNearDupFlagger(spark: org.apache.spark.sql.SparkSession, dir: String,
                         textCol: String = "text",
                         idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "postings") { case (m, Seq(capped)) =>
      flagAgainst(capped, textCol, idCol, m.getAs[Int]("n"),
        m.getAs[Double]("threshold"))
    }

  /** Refuse null group keys up front (the Export shard-null discipline):
    * the grouped band join is an INNER using-column join, so a row whose
    * group column is NULL matches nothing and would silently drop out of
    * dedup entirely — no pairs, never flagged. The check short-circuits on
    * the first null and reads only the group columns (column-pruned), so
    * it costs one pruned scan, not a second full pass. Probe batches in
    * [[editDistFlagger]] are NOT re-checked per batch (a per-batch driver
    * action inside foreachBatch would serialize the stream): a probe row
    * with a null group flags as clean — scrub group keys upstream. */
  private def requireNonNullGroups(df: DataFrame, groupCols: Seq[String],
                                   caller: String): Unit =
    if (groupCols.nonEmpty) {
      val anyNull = groupCols.map(col(_).isNull).reduce(_ || _)
      require(df.filter(anyNull).limit(1).count() == 0L,
        s"$caller: group columns ${groupCols.mkString(",")} contain " +
          "nulls — null-group rows match nothing in the inner band join " +
          "and would silently escape dedup; filter or fill them first")
    }

  /** Bounded edit-distance near-dup pairs over `headLen`-char heads —
    * x101's pair search as a library operator. Sound two-level blocking:
    * a qualifying pair must satisfy |length diff| ≤ `dMax`, so rows
    * equi-join on width-`dMax` length bands with the probe side exploded
    * to band ±1 (band distance > 1 implies length distance > `dMax` — the
    * Q27 bucketed range-join shape, no cartesian); the in-band compare is
    * the THRESHOLDED levenshtein (early-exits past the budget, O(d·len)
    * per pair).
    *
    * SCALE TRAIT (measured, 10× soak): in-band candidates are quadratic
    * in band occupancy — 0.42 M pairs at sf0.1 → 31.1 M at 10× (74×).
    * This is inherent to the SEMANTIC, not the blocking: at `dMax`/
    * `headLen` = 8/48 (a 17 % relative threshold) every published filter
    * degenerates — PassJoin segment blocking was implemented and measured
    * 5× SLOWER here (frequent 5-char chunks in natural-language heads
    * collide massively), and ED-Join's rarest-prefix needs q·d+1 = 41 of
    * the 44 5-grams, i.e. no pruning. Banding is the right blocking for
    * this regime. At corpus scale run typo-level dedup per source or
    * template subset (band occupancy is what matters) — CALLABLE here via
    * `groupCols`: the group keys prepend the band join key, so candidates
    * form only inside a group and pair volume is quadratic in PER-GROUP
    * band occupancy, not corpus band occupancy (measured near-linear at
    * 10× data when groups bound occupancy — SOAK.md). Cross-group pairs
    * are NOT produced, by design: a grouped run asserts "typo dups live
    * inside a source/template subset". Alternatively lower `dMax`
    * (at d ≤ 2 prefix filters regain teeth), or use MinHash/SimHash
    * (x08/x111) — the corpus-scale near-dup answer. Output:
    * (`doc_a` < `doc_b`, `dist`). */
  def editDistPairs(docs: DataFrame, dMax: Int = 8, headLen: Int = 48,
                    textCol: String = "text",
                    idCol: String = "doc_id",
                    groupCols: Seq[String] = Nil): DataFrame = {
    require(dMax >= 1, s"dMax must be >= 1, got $dMax")
    val reserved = Seq("doc_a", "doc_b", "pa", "pb", "la", "lb", "band")
    require(groupCols.forall(g => !reserved.contains(g)),
      s"groupCols may not use the reserved names ${reserved.mkString(",")}")
    requireNonNullGroups(docs, groupCols, "editDistPairs")
    val keyed = docs.select(col(idCol).cast("long").as("doc_id") +:
      substring(col(textCol), 1, headLen).as("p") +:
      length(col(textCol)).as("lc") +: groupCols.map(col): _*)
    val a = keyed.select(col("doc_id").as("doc_a") +: col("p").as("pa") +:
      col("lc").as("la") +:
      explode(expr(s"array(lc div $dMax - 1, lc div $dMax, lc div $dMax + 1)"))
        .as("band") +: groupCols.map(col): _*)
    val b = keyed.select(col("doc_id").as("doc_b") +: col("p").as("pb") +:
      col("lc").as("lb") +: expr(s"lc div $dMax").as("band") +:
      groupCols.map(col): _*)
    a.join(b, "band" +: groupCols)
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("la") - col("lb")) <= dMax)
      .select(col("doc_a"), col("doc_b"),
        expr(s"levenshtein(pa, pb, $dMax)").cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Freeze the corpus's length-banded 48-char-head table ONCE and return
    * the per-batch typo-dup flagger — x101's bounded edit-distance pair
    * search as a build/apply split (the [[nearDupFlagger]] lifecycle). A
    * batch doc flags when ≥ 1 corpus doc OTHER THAN ITSELF sits within
    * `dMax` edits of its 48-char head and within `dMax` of its character
    * length — so corpus-self flagging reproduces exactly the doc set that
    * appears in an x101 pair (asserted in DedupSpec). Blocking is the same
    * SOUND band scheme as x101: the corpus table keys on width-`dMax`
    * length bands, each batch row probes its band ±1, and the in-band
    * compare is the thresholded (early-exit) levenshtein. Output:
    * (`doc_id`, `n_neighbors`, `min_dist`, `is_dup`) — total over the
    * batch (`min_dist` null when clean). At 100 TB the banded corpus
    * table is (8B id, ≤96B head, 8B band) per doc and `close()` releases
    * it when the corpus version is retired. `groupCols` (present in BOTH
    * the corpus and every probe batch) prepends the band join key — the
    * same per-group occupancy bound as [[editDistPairs]]; a probe then
    * only flags against corpus docs in ITS OWN group. */
  def editDistFlagger(corpus: DataFrame, dMax: Int = 8,
                      textCol: String = "text",
                      idCol: String = "doc_id",
                      groupCols: Seq[String] = Nil): Retriever = {
    require(dMax >= 1, s"dMax must be >= 1, got $dMax")
    val reserved = Seq("doc_id", "ref_id", "pa", "pb", "la", "lb", "band")
    require(groupCols.forall(g => !reserved.contains(g)),
      s"groupCols may not use the reserved names ${reserved.mkString(",")}")
    requireNonNullGroups(corpus, groupCols, "editDistFlagger")
    val banded = corpus.select(col(idCol).cast("long").as("ref_id") +:
        substring(col(textCol), 1, 48).as("pb") +:
        length(col(textCol)).as("lb") +: groupCols.map(col): _*)
      .withColumn("band", expr(s"lb div $dMax"))
      .persist()
    // build-time job: materialize the banded table now, not on first batch
    banded.count()
    new Retriever(docs => {
      val q = docs.select(col(idCol).cast("long").as("doc_id") +:
          substring(col(textCol), 1, 48).as("pa") +:
          length(col(textCol)).as("la") +: groupCols.map(col): _*)
        .select(col("doc_id") +: col("pa") +: col("la") +:
          explode(expr(s"array(la div $dMax - 1, la div $dMax, la div $dMax + 1)"))
            .as("band") +: groupCols.map(col): _*)
      val hits = q.join(banded, "band" +: groupCols)
        .filter(col("doc_id") =!= col("ref_id") &&
          abs(col("la") - col("lb")) <= dMax)
        .select(col("doc_id"),
          expr(s"levenshtein(pa, pb, $dMax)").cast("long").as("dist"))
        .filter(col("dist") >= 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_neighbors"), min(col("dist")).as("min_dist"))
      docs.select(col(idCol).cast("long").as("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          col("min_dist"),
          col("n_neighbors").isNotNull.as("is_dup"))
    }, () => banded.unpersist())
  }

  /** Connected-component duplicate clusters over a near-dup pair set:
    * every doc in a cluster maps to the cluster's MINIMUM doc id. This is
    * the transitive closure the pairwise keep-lowest rule lacks (A~B, B~C,
    * A≁C must still land A, B, C in ONE cluster for cluster-level dedup).
    *
    * Iterative min-label propagation: each round joins labels across edges
    * and keeps the elementwise minimum, converging in O(component diameter)
    * rounds — near-dup clusters are shallow (diameter rarely exceeds a few
    * hops), so the loop is short; `maxIters` bounds adversarial chains. Each
    * round is two key-partitioned shuffles over (node, label) pairs — 16
    * bytes a row at any corpus size; the driver holds only the changed-row
    * COUNT. (The alternating-star optimization for deep graphs is a drop-in
    * upgrade of the same loop.)
    *
    * Tiering: near-dup edge lists are tiny relative to their corpus (only
    * docs IN a duplicate pair appear), so an edge set that fits the driver
    * (`localEdgeCap`, default 2²⁰ edges ≈ 16 MB) resolves by a local
    * union-find — ONE job instead of O(diameter) shuffle rounds: a single
    * `take(cap + 1)` both enforces the bound (cap + 1 rows back means the
    * cap is exceeded and the rows are discarded) and fetches the edges.
    * The result is IDENTICAL by construction: connected components with
    * min-id representatives, exactly the propagation fixpoint. Beyond the
    * cap the distributed loop runs unchanged — the same two-tier shape as
    * crossTopK/srpCrossTopK.
    *
    * Input: pairs with `ia < ib`. Output: (`doc_id`, `cluster_rep`) for
    * every doc appearing in a pair. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20,
                  localEdgeCap: Int = 1 << 20): DataFrame = {
    // Long-cast ONCE for both tiers, so the output schema is tier-invariant
    // (int pair ids used to come back as int from the distributed tier but
    // bigint from the local one), and persist before the probe: the pair
    // frame is usually an expensive near-dup mining plan, and without the
    // persist an over-cap probe would discard its rows and pay the whole
    // plan again in the distributed loop.
    val p = pairs
      .select(col("ia").cast("long").as("ia"), col("ib").cast("long").as("ib"))
      .persist()
    try dupClustersTyped(p, maxIters, localEdgeCap)
    finally p.unpersist()
  }

  private def dupClustersTyped(pairs: DataFrame, maxIters: Int,
                               localEdgeCap: Int): DataFrame = {
    val probed =
      if (localEdgeCap > 0) pairs.take(localEdgeCap + 1)
      else Array.empty[Row]
    if (localEdgeCap > 0 && probed.length <= localEdgeCap) {
      val es = probed.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // union-by-min keeps roots at component minima already; finalize reps
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return rows.toDF("doc_id", "cluster_rep")
    }
    val edges = pairs.select(col("ia").as("a"), col("ib").as("b"))
      .union(pairs.select(col("ib").as("a"), col("ia").as("b")))
      .persist()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("rep", col("id"))
      .localCheckpoint(true) // truncate lineage: each round builds on the last
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val viaNbr = edges
        .join(labels.select(col("id").as("b"), col("rep").as("nrep")), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("nrep")).as("mrep"))
      // The changed flag rides in the checkpointed row, so the convergence
      // check is one cheap agg over the already-materialized blocks instead
      // of a labels⋈next join job per round.
      val next = labels.as("l")
        .join(viaNbr.as("v"), Seq("id"), "left")
        .select(col("id"),
          least(col("l.rep"), coalesce(col("v.mrep"), col("l.rep"))).as("rep"),
          (coalesce(col("v.mrep"), col("l.rep")) < col("l.rep"))
            .cast("long").as("chg"))
        .localCheckpoint(true)
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      // The new checkpoint is materialized; the previous round's blocks are
      // dead weight from here on — free them (storage would otherwise grow
      // linearly with rounds).
      org.apache.spark.sql.graft.DatasetInternals.unpersistLocalCheckpoint(labels)
      labels = next.select(col("id"), col("rep"))
      it += 1
    }
    edges.unpersist()
    // The surviving labels frame stays checkpointed: callers consume it
    // immediately (the blocks die with the session / GC of the RDD).
    // Non-convergence would return labels that map ONE component to several
    // representatives — silently wrong for cluster-level dedup. Fail loudly;
    // the caller raises maxIters (each extra round is cheap once converged).
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIters rounds ($changed labels " +
        "still changing) — a component's diameter exceeds maxIters; raise it")
    labels.select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
  }

  /** Canonical-document selection over duplicate clusters: for each cluster
    * (from [[dupClusters]]) keep the member with the highest score —
    * tie-broken to the LOWEST doc id, so the pick is deterministic. This is
    * the curation step after near-dup clustering: one survivor per cluster,
    * chosen by quality instead of the arbitrary min-id rule. One
    * key-partitioned join + one hash agg; `max_by` on a (score, −id) struct
    * keeps the argmax inside the partial-aggregate combiner (no window, no
    * per-cluster sort). Output: `cluster_rep`, `keep_id`, `n_members`,
    * `best_score`. */
  def canonicalPick(clusters: DataFrame, scored: DataFrame,
                    idCol: String, scoreCol: String): DataFrame =
    clusters
      .join(scored.select(col(idCol).as("doc_id"), col(scoreCol).as("score")), "doc_id")
      .groupBy(col("cluster_rep"))
      .agg(
        max_by(col("doc_id"), struct(col("score"), (-col("doc_id")).as("nid"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("score")).as("best_score"))

  /** 64-bit SimHash over the whitespace token stream: bit j of the result is
    * set iff the sum over tokens of ±1 (by bit j of the token's 64-bit hash)
    * is positive. Near-identical docs land within a small Hamming distance.
    * Computed entirely map-side by the native
    * [[org.apache.spark.sql.graft.SimHashExpr]] (one loop per doc inside the
    * scan projection — the aggregate formulation paid a full shuffle of the
    * exploded token stream for the same arithmetic). Engine-specific
    * hashing → rows-only checked; unit tests pin behavior.
    *
    * Degenerate-doc contract (pinned in GraftFunctionsSpec): blank or
    * whitespace-only text has an empty token stream → `simhash = 0`;
    * null text → null simhash (row retained — callers filter or keep).
    * Every input doc emits exactly one output row. */
  def simHash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.fanOutScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorFunctions.simHashF(col("toks")).as("simhash"))

  /** Blank-filtered (doc_id, simhash) signature frame — the shared input
    * of the x111 pair miner, [[simHashFlagger]], and the x111b gate. */
  private def simHashSigs(docs: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    simHash(docs.filter(length(trim(col(textCol))) > 0), textCol, idCol)
      .select(col("doc_id").cast("long").as("doc_id"), col("simhash"))

  /** The 4×16-bit packed band explosion of ANY 64-bit signature frame
    * (`<idCol>`, `<sigCol>`) — the completeness-critical invariant (k·2¹⁶ +
    * the k-th slice; `&` masks away the arithmetic shift's sign extension
    * on the top band), defined ONCE for the miner, the flagger, and the
    * gate. The signature rides along as `simhash` so verification never
    * needs a join back. Null signatures (undecodable media) band to null
    * keys, which drop here: kept, they would all land in the same null-key
    * buckets — corpus-scale collect_sets that can never verify
    * (ham = NULL). The null filter sits on the generator OUTPUT: on the
    * signature column it would be pushed below the projection, into the
    * scan, and compute every signature twice. */
  private def sigBandsOf(sigs: DataFrame, sigCol: String,
                         idCol: String): DataFrame = sigs
    .select(col(idCol).cast("long").as("doc_id"),
      col(sigCol).cast("long").as("simhash"))
    .select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 3),
                     k -> k * 65536L + (shiftright(simhash, 16 * k) & 65535L))"""))
        .as("band"))
    .filter(col("band").isNotNull)

  /** The banded-Hamming pair miner over a [[sigBandsOf]] frame, without
    * the `hMax` bound (the x111b gate measures completeness, so it must
    * be able to run outside it). */
  private def bandedPairs(bands: DataFrame, hMax: Int,
                          maxBucket: Int): DataFrame =
    bands
      .groupBy(col("band"))
      // signatures ride the bucket rows (16 B/doc instead of 8), which
      // buys verification WITHOUT joining back to the corpus: the whole
      // pair miner is one pass over the signature frame
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash"))))
        .as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft_simhash_bucket_cap",
        count(when(size(col("ids")) > maxBucket, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(a.getField("doc_id").as("ia"), b.getField("doc_id").as("ib"),
          a.getField("simhash").as("sa"), b.getField("simhash").as("sb"))
      }).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"),
        expr("bit_count(p.sa ^ p.sb)").cast("long").as("ham"))
      .filter(col("ham") <= hMax)
      .dropDuplicates("ia", "ib")

  private def requireBandable(hMax: Int): Unit =
    require(hMax >= 0 && hMax <= 3,
      s"4-band blocking is complete only for hMax <= 3, got $hMax")

  /** SimHash near-dup PAIRS: all (ia < ib) whose 64-bit [[simHash]]
    * signatures sit within Hamming distance `hMax` — the constant-space
    * sketch dedup for when shingle postings are too big (one long per doc
    * vs a posting per shingle). Blocking is the classic 4×16-bit band
    * split, and for `hMax` ≤ 3 it is COMPLETE by pigeonhole: ≤ 3 flipped
    * bits touch ≤ 3 of the 4 bands, so every qualifying pair shares at
    * least one intact band — [[simHashBandCompletenessGate]] (x111b)
    * asserts the banded set equals brute force on the fixture. Band keys
    * pack to one BIGINT (k·2¹⁶ + bits): the candidate join shuffles
    * 8-byte keys, per-bucket blowup is postings-bounded with the
    * `graft_simhash_bucket_cap` drop audit (the x12 cap pattern), and
    * verification is one `bit_count(xor)` per candidate. Signature bits
    * are engine-specific (XXH64) → the catalog row is rows-only, pinned
    * by x111b + DedupSpec. */
  def simHashNearDupPairs(docs: DataFrame, hMax: Int = 3,
                          maxBucket: Int = 10000,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame =
    hammingNearDupPairsOf(simHashSigs(docs, textCol, idCol), "simhash",
      hMax, maxBucket)

  /** The x111 banded-Hamming machinery over ANY 64-bit signature frame
    * `(<idCol>, <sigCol>)` — text SimHash and pixel dHash (x167) share one
    * pair miner, so the complete-for-hMax ≤ 3 pigeonhole argument, the
    * bucket cap, and the `bit_count(xor)` verification cannot fork.
    * Output: (`ia` < `ib`, `ham`). */
  def hammingNearDupPairsOf(sigs: DataFrame, sigCol: String,
                            hMax: Int = 3, maxBucket: Int = 10000,
                            idCol: String = "doc_id"): DataFrame = {
    requireBandable(hMax)
    bandedPairs(sigBandsOf(sigs, sigCol, idCol), hMax, maxBucket)
  }

  /** The frozen (band, ref_id, sb) index of the Hamming flagger family:
    * the band explosion with the reference signature riding along
    * (~64 B/doc), built from ONE corpus pass, so a probe is a single band
    * equi-join with no signature join-back on either side. */
  private def hammingIndex(refSigs: DataFrame, sigCol: String,
                           idCol: String): DataFrame =
    sigBandsOf(refSigs, sigCol, idCol)
      .select(col("band"), col("doc_id").as("ref_id"), col("simhash").as("sb"))

  /** The probe side of the Hamming flagger family, shared by every
    * in-memory and reloaded flagger so the probes cannot drift: one band
    * equi-join against the frozen index, `bit_count(xor)` verification,
    * self-pairs excluded. */
  private def hammingProbe(refBands: DataFrame, hMax: Int, sigCol: String,
                           idCol: String)(sigs: DataFrame): DataFrame =
    sigBandsOf(sigs, sigCol, idCol)
      .join(refBands, "band")
      .filter(col("doc_id") =!= col("ref_id"))
      .select(col("doc_id").as(idCol), col("ref_id"),
        expr("bit_count(simhash ^ sb)").cast("long").as("ham"))
      .filter(col("ham") <= hMax)
      .dropDuplicates(idCol, "ref_id")

  /** Freeze the corpus's SimHash band table ONCE and return the per-batch
    * near-dup flagger — x111 as a build/apply split: [[hammingFlagger]]
    * over the corpus's [[simHash]] signatures (sig column `simhash`), each
    * arriving batch of DOCUMENTS signed the same way before its probe (at
    * 1/10th the [[nearDupFlagger]] state: 4 packed band rows + one
    * signature per corpus doc ≈ 48 B/doc, vs a posting per shingle). A
    * batch doc pairs with every corpus doc OTHER THAN ITSELF within
    * Hamming `hMax` of its signature (complete for hMax ≤ 3 by the 4-band
    * pigeonhole), so corpus-self flagging reproduces exactly the x111 pair
    * set (DedupSpec) and streaming ≡ batch (StreamingSpec). Output:
    * (`doc_id`, `ref_id`, `ham`), batch-side first. `close()` releases the
    * persisted band table when the corpus version retires. */
  def simHashFlagger(corpus: DataFrame, hMax: Int = 3,
                     textCol: String = "text",
                     idCol: String = "doc_id"): Retriever =
    hammingFlagger(simHashSigs(corpus, textCol, idCol), "simhash", hMax)
      .probing(simHashSigs(_, textCol, idCol))

  /** Persist a [[simHashFlagger]] reference index so the ~48 B/doc frozen
    * state survives the session: [[saveHammingIndex]] over the corpus's
    * SimHash signatures — `dir/bands`, the (band, ref_id, sb) table, 4 rows
    * per corpus doc, 24 B each; and `dir/meta`, one row (`h_max`,
    * `sig_col` = `simhash`). */
  def saveSimHashIndex(corpus: DataFrame, dir: String, hMax: Int = 3,
                       textCol: String = "text",
                       idCol: String = "doc_id"): Unit =
    saveHammingIndex(simHashSigs(corpus, textCol, idCol), "simhash", dir, hMax)

  /** Reload a [[saveSimHashIndex]] directory as a ready [[Retriever]]:
    * [[loadHammingFlagger]] with the probe batches signed by [[simHash]],
    * so a reloaded index reproduces the x111 pair membership exactly
    * (pinned in DedupSpec). A directory whose meta predates `sig_col`
    * (only `h_max`) loads the same way. `textCol`/`idCol` describe the
    * PROBE frames. */
  def loadSimHashFlagger(spark: org.apache.spark.sql.SparkSession, dir: String,
                         textCol: String = "text",
                         idCol: String = "doc_id"): Retriever =
    loadHammingFlagger(spark, dir).probing(simHashSigs(_, textCol, idCol))

  /** The build/apply split of the banded-Hamming miner for any 64-bit
    * signature — text SimHash, pixel dHash (x167), audio envelope (x173):
    * freeze a reference corpus's band table once (~48 B/item), then flag
    * each arriving batch of SIGNATURES against it (one band equi-join +
    * `bit_count(xor)` verify, complete for hMax ≤ 3). The caller computes
    * signatures with the matching operator
    * ([[Multimodal.perceptualHashes]] / [[Multimodal.audioFingerprints]] /
    * [[simHash]]) on both sides; [[simHashFlagger]] is this flagger over
    * text SimHash. Probe contract: frames with (`<idCol>`, `<sigCol>`);
    * output (`<idCol>`, `ref_id`, `ham`), self-pairs excluded. Corpus-self
    * probing reproduces exactly the [[hammingNearDupPairsOf]] pair
    * membership (MultimodalSpec). */
  def hammingFlagger(refSigs: DataFrame, sigCol: String, hMax: Int = 3,
                     idCol: String = "doc_id"): Retriever = {
    requireBandable(hMax)
    Retriever.freeze(hammingIndex(refSigs, sigCol, idCol)) {
      case Seq(bands) => hammingProbe(bands, hMax, sigCol, idCol)
    }
  }

  /** Persist a [[hammingFlagger]] reference index ([[Retriever]] companion
    * layout): `dir/bands` — the (band, ref_id, sb) table; and `dir/meta` —
    * one row (`h_max`, `sig_col`), the Hamming radius and the signature
    * column name. */
  def saveHammingIndex(refSigs: DataFrame, sigCol: String, dir: String,
                       hMax: Int = 3, idCol: String = "doc_id"): Unit = {
    requireBandable(hMax)
    Retriever.save(dir, "bands" -> hammingIndex(refSigs, sigCol, idCol))(
      lit(hMax).as("h_max"), lit(sigCol).as("sig_col"))
  }

  /** Reload a [[saveHammingIndex]] directory as a ready [[Retriever]]
    * (probe plan identical to the in-memory flagger's — reload parity in
    * MultimodalSpec). `idCol` describes the PROBE frames; the signature
    * column name comes from the saved meta — `simhash` when the meta has
    * none (a SimHash index saved before the meta carried it). */
  def loadHammingFlagger(spark: org.apache.spark.sql.SparkSession,
                         dir: String, idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "bands") { case (m, Seq(bands)) =>
      val sigCol =
        if (m.schema.fieldNames.contains("sig_col")) m.getAs[String]("sig_col")
        else "simhash"
      hammingProbe(bands, m.getAs[Int]("h_max"), sigCol, idCol)
    }

  /** Exact-substring duplication stats — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") rule,
    * the standard complement to MinHash in production LLM pipelines: any
    * `windowTokens`-token substring occurring at least `minOcc` times
    * CORPUS-WIDE (across docs or repeated within one doc) marks every
    * window of it as duplicated. Windows are OVERLAPPING (stride 1 — every
    * token position starts one), which is what makes the rule exact:
    * x97's fixed non-overlapping blocks miss a repeat that straddles a
    * block boundary (two docs sharing a long span at different block
    * phases never produce equal blocks), while here every repeated
    * `windowTokens`-span yields identical window content at the same
    * offsets within the span in BOTH occurrences, whatever the phase
    * (pinned in DedupSpec against a boundary-straddling fixture).
    *
    * Plan shape (x38's, with overlapping windows): one map-side pass emits
    * (doc_id, pos, xxhash64(window)) — 8-byte keys, the window STRING never
    * shuffles; a hash aggregate counts corpus-wide occurrences per key; a
    * join back + per-doc aggregate summarizes. Occurrence counting on the
    * 64-bit hash is collision-equivalent to counting the strings (the x38
    * contract the oracle checks). ~n_tokens rows per doc — linear in corpus
    * size, never quadratic; the heavy column (text) stays in the scan.
    * `n_dup_tokens` is the token count covered by ≥1 duplicated window
    * (interval union per doc — the scrub-budget figure: how many tokens a
    * Lee-rule scrub would touch). Total over `docs`: blank and
    * shorter-than-window docs report zero windows.
    * Output: (`doc_id`, `n_windows`, `n_dup_windows`, `n_dup_tokens`,
    * `has_dup`). */
  def substringDupStats(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", windowTokens: Int = 50,
                        minOcc: Long = 2): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(minOcc >= 1, s"minOcc must be >= 1, got $minOcc")
    val wins = windowHashes(docs, textCol, idCol, windowTokens)
    val occ = wins.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val flagged = wins.join(occ, "h")
      .select(col("doc_id"), col("pos"), (col("occ") >= minOcc).as("dup"))
    substringSummary(docs, flagged, windowTokens, idCol)
  }

  /** The stride-1 window-hash table: (doc_id, pos, h) — one row per token
    * position with a full window to its right. Shared by [[substringDupStats]]
    * (corpus-wide occurrence counting) and [[substringFlagger]] (probe side),
    * so the two cannot hash differently. Hashing is the codegen'd
    * [[org.apache.spark.sql.graft.TokenWindowHashExpr]] — one tight loop
    * per doc (token bytes hash once, windows chain token hashes), where
    * the first-cut SQL formulation built an O(w)-token string per position
    * through interpreted lambdas. Counting on the 64-bit window hash is
    * collision-equivalent to counting the window strings (the x38
    * contract the oracle checks). */
  private def windowHashes(docs: DataFrame, textCol: String, idCol: String,
                           w: Int): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        org.apache.spark.sql.graft.VectorFunctions.tokenWindowHashF(
          graft.ext.TextAnalysis.tokens(col(textCol)), w).as("hs"))
      // posexplode_OUTER + isNotNull on the OUTPUT attr, not a plain
      // posexplode: InferFiltersFromGenerate would re-inline the whole
      // window-hash expression into an inferred `size(hs) > 0` scan filter
      // and compute it three times per row (measured 2× wall on x100/x134;
      // the tokenBlocks dodge)
      .select(col("doc_id"), posexplode_outer(col("hs")).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))

  /** Per-doc rollup of a dup-flagged window table, total over `docs`:
    * window counts, flagged counts, and the interval-union token coverage
    * (`aggregate` over the sorted flagged positions — the scrub budget). */
  private def substringSummary(docs: DataFrame, flagged: DataFrame, w: Int,
                               idCol: String): DataFrame = {
    val perDoc = flagged
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"),
        // collect_list skips nulls: only duplicated positions enter the union
        sort_array(collect_list(when(col("dup"), col("pos")))).as("ps"))
      .withColumn("n_dup_tokens", expr(
        s"""aggregate(ps,
              named_struct('e', cast(-1 as bigint), 't', cast(0 as bigint)),
              (acc, p) -> named_struct(
                'e', greatest(acc.e, p + $w),
                't', acc.t + greatest(cast(0 as bigint), p + $w - greatest(p, acc.e))),
              acc -> acc.t)"""))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (coalesce(col("n_dup_windows"), lit(0L)) > 0L).as("has_dup"))
  }

  /** Exact-substring SCRUB — [[substringDupStats]]'s actionable rewrite,
    * the Lee et al. 2022 dedup rule applied as x97-style text surgery:
    * for every duplicated window hash the corpus-wide FIRST occurrence
    * (minimum (doc_id, pos)) is canonical and keeps its text; every other
    * occurrence's tokens are removed, survivors rejoin in order. A token
    * is removed iff ≥ 1 non-canonical duplicated window covers it — so
    * each repeated span survives exactly once corpus-wide (including
    * within-doc repeats: the second copy in the SAME doc scrubs too).
    *
    * Plan shape: the window-hash table (8-byte keys) → per-hash
    * (occ, argmin occurrence) hash aggregate → covered-position explode
    * (scrub-volume-sized, not corpus-sized) → anti-join against the
    * posexploded token stream → x97's ordered rebuild aggregate. Linear
    * end to end; the scrubbed-token explode is bounded by the dup mass
    * x100's `n_dup_tokens` reports. Total over `docs`: blank docs return
    * `''`, not vanish; a fully-duplicated doc scrubs to `''`.
    * Output: (`doc_id`, `n_tokens`, `n_scrubbed`, `scrub_text`). */
  def substringScrub(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", windowTokens: Int = 50,
                     minOcc: Long = 2): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(minOcc >= 1, s"minOcc must be >= 1, got $minOcc")
    val w = windowTokens
    val wins = windowHashes(docs, textCol, idCol, w)
    val canon = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
    val scrubWins = wins.join(canon, "h")
      .filter(col("occ") >= minOcc &&
        !(col("doc_id") === col("keep.doc_id") && col("pos") === col("keep.pos")))
    scrubCovered(docs, coveredPositions(scrubWins, w), textCol, idCol)
  }

  /** The distinct (doc_id, p) token positions a window table covers. */
  private def coveredPositions(wins: DataFrame, w: Int): DataFrame = wins
    .select(col("doc_id"),
      explode(sequence(col("pos"), col("pos") + lit(w.toLong) - 1L)).as("p"))
    .distinct()

  /** Drop the `covered` token positions of `docs` and rejoin the survivors
    * in order (x97's ordered rebuild aggregate) — the tail shared by
    * [[substringScrub]] and [[substringScrubber]]; total over `docs`. */
  private def scrubCovered(docs: DataFrame, covered: DataFrame,
                           textCol: String, idCol: String): DataFrame = {
    val toks = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(graft.ext.TextAnalysis.tokens(col(textCol))).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("""array_join(transform(array_sort(collect_list(struct(p, tok))),
                                     x -> x.tok), ' ')""").as("scrub_text"))
    val totals = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_scrubbed"),
        coalesce(col("scrub_text"), lit("")).as("scrub_text"))
  }

  /** Freeze the corpus's duplicated-window hash set ONCE and return the
    * per-batch SCRUBBER — [[substringScrub]]'s frozen-model twin (the
    * [[TextAnalysis.blockScrubber]] lifecycle): any batch token covered by
    * a window whose hash the BUILD corpus saw duplicated is removed — the
    * canonical copy lives in the corpus, so every arriving copy is
    * non-canonical by construction (the daily-ingest contract: the corpus
    * is the kept text; new crawls shed everything already known to
    * repeat). Batch-only repeats are untouched (frozen-model trade, as
    * [[substringFlagger]]). Output matches x134: (`doc_id`, `n_tokens`,
    * `n_scrubbed`, `scrub_text`); `close()` releases the frozen set. */
  def substringScrubber(corpus: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", windowTokens: Int = 50,
                        minOcc: Long = 2): Retriever =
    Retriever.freeze(substringDups(corpus, textCol, idCol, windowTokens, minOcc)) {
      case Seq(dups) => docs => scrubCovered(docs, coveredPositions(
        windowHashes(docs, textCol, idCol, windowTokens)
          .join(dups, Seq("h"), "left_semi"), windowTokens), textCol, idCol)
    }

  /** The frozen index of the substring family: the hashes of the windows
    * occurring ≥ `minOcc` times in `corpus` (8 B per duplicated window —
    * dup-volume-sized, not corpus-sized), built ONCE for
    * [[substringFlagger]], [[saveSubstringIndex]] and [[substringScrubber]]. */
  private def substringDups(corpus: DataFrame, textCol: String, idCol: String,
                            windowTokens: Int, minOcc: Long): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(minOcc >= 1, s"minOcc must be >= 1, got $minOcc")
    windowHashes(corpus, textCol, idCol, windowTokens)
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc).select(col("h"))
  }

  /** The probe side of the substring-flagger lifecycle, defined ONCE for
    * [[substringFlagger]] and [[loadSubstringFlagger]]: batch windows
    * LEFT-join the frozen duplicated-window-hash set (8-byte keys both
    * sides), then the per-doc [[substringSummary]] rollup. */
  private def substringProbe(dups: DataFrame, w: Int, textCol: String,
                             idCol: String)(docs: DataFrame): DataFrame = {
    val flagged = windowHashes(docs, textCol, idCol, w)
      .join(dups.withColumn("dup0", lit(true)), Seq("h"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("dup0"), lit(false)).as("dup"))
    substringSummary(docs, flagged, w, idCol)
  }

  /** Freeze the corpus's duplicated-substring window set ONCE and return
    * the per-batch flagger — x100 as a build/apply split (the
    * [[nearDupFlagger]] lifecycle): the frozen state is the set of window
    * HASHES occurring ≥ `minOcc` times in the BUILD corpus (8 B per
    * duplicated window — dup-volume-sized, not corpus-sized), and the
    * returned [[Retriever]] summarizes ANY doc frame against it with the
    * x100 output shape. Corpus-self application reproduces the x100 rows
    * EXACTLY (occurrence counts are corpus-wide either way — DedupSpec).
    * Frozen-model semantics on NEW docs: a substring repeated only within
    * the arriving batch, or matching a corpus-UNIQUE window, is not
    * flagged (the corpus never saw it duplicated) — the trade every frozen
    * scorer here makes; rebuild nightly to absorb it. `close()` releases
    * the persisted set. */
  def substringFlagger(corpus: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", windowTokens: Int = 50,
                       minOcc: Long = 2): Retriever =
    Retriever.freeze(substringDups(corpus, textCol, idCol, windowTokens, minOcc)) {
      case Seq(dups) => substringProbe(dups, windowTokens, textCol, idCol)
    }

  /** Persist a [[substringFlagger]] duplicated-window index ([[Retriever]]
    * companion layout): `dir/dups` — the 8 B/window hash set; `dir/meta` —
    * one row (window_tokens, min_occ). An empty or dup-free corpus writes
    * an empty, schema-complete set and round-trips. */
  def saveSubstringIndex(corpus: DataFrame, dir: String,
                         textCol: String = "text", idCol: String = "doc_id",
                         windowTokens: Int = 50, minOcc: Long = 2): Unit =
    Retriever.save(dir,
        "dups" -> substringDups(corpus, textCol, idCol, windowTokens, minOcc))(
      lit(windowTokens).as("window_tokens"), lit(minOcc).as("min_occ"))

  /** Reload a [[saveSubstringIndex]] directory as a ready [[Retriever]]
    * with the identical probe plan as the in-memory [[substringFlagger]]
    * (reload parity pinned in DedupSpec). */
  def loadSubstringFlagger(spark: org.apache.spark.sql.SparkSession,
                           dir: String, textCol: String = "text",
                           idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "dups") { case (m, Seq(dups)) =>
      substringProbe(dups, m.getAs[Int]("window_tokens"), textCol, idCol)
    }

  /** x111b: in-engine completeness gate for [[simHashNearDupPairs]] — on a
    * bounded corpus the banded pair set must EQUAL the brute-force
    * all-pairs Hamming scan over the same signatures (pigeonhole says ⊇;
    * verification says ⊆). The brute force is the fail-fast-bounded
    * oracle-baseline tier, never the scale path. */
  def simHashBandCompletenessGate(docs: DataFrame, hMax: Int = 3,
                                  textCol: String = "text",
                                  idCol: String = "doc_id",
                                  maxDocs: Long = 100000L): DataFrame = {
    // persist the signatures: the size guard materializes them, and the
    // brute/banded sides then both read the 16 B/doc cache instead of
    // re-scanning + re-simhashing the corpus per side
    val sigs = simHashSigs(docs, textCol, idCol).persist()
    try {
      require(sigs.count() <= maxDocs,
        s"brute-force gate is bounded to $maxDocs docs")
      val brute = sigs.as("a").crossJoin(sigs.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
          expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("ham"))
        .filter(col("ham") <= hMax)
      val banded = bandedPairs(sigBandsOf(sigs, "simhash", "doc_id"), hMax,
        Int.MaxValue)
      // ONE job: full-outer join answers |banded|, missing, and extra
      // together (brute's n² compare and banded's bucket shuffle each
      // execute exactly once)
      val row = brute.select(col("ia"), col("ib"), lit(1).as("in_brute"))
        .join(banded.select(col("ia"), col("ib"), lit(1).as("in_banded")),
          Seq("ia", "ib"), "full_outer")
        .agg(sum(col("in_banded")).as("n_pairs"),
          count(when(col("in_banded").isNull, 1)).as("missing"),
          count(when(col("in_brute").isNull, 1)).as("extra"))
        .collect()(0)
      val n = if (row.isNullAt(0)) 0L else row.getLong(0)
      val spark = docs.sparkSession
      import spark.implicits._
      Seq((n, row.getLong(1) == 0L && row.getLong(2) == 0L))
        .toDF("n_pairs", "band_complete")
    } finally sigs.unpersist()
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * local fingerprinting scheme): hash every token `k`-gram, slide a
    * `window`-wide frame over the hash stream, keep each frame's MINIMUM
    * hash, dedupe. The selection is LOCAL, so it carries winnowing's two
    * guarantees that block hashing (x97) and whole-doc rolling hashes (x06)
    * lack: any shared run of at least `window + k - 1` tokens yields at
    * least one shared fingerprint (detection guarantee), and inserting or
    * deleting text far from a match never disturbs the fingerprints the
    * match selected (shift robustness — the x38 chunk grid re-aligns and
    * misses, winnowing does not; WinnowSpec pins both). Fingerprinting by
    * VALUE makes the in-window tie rule irrelevant (any minimal occurrence
    * contributes the same value, and values dedupe). Docs with fewer than
    * `window` k-grams contribute their single global minimum, keeping short
    * docs in domain. Hashes are the leading 48 bits of the k-gram's md5 —
    * engine-portable (the oracle reproduces them), collision odds ~n²/2⁴⁹.
    * Shape: ONE map-only HOF projection + an explode sized by fingerprint
    * count ≈ 2·n_grams/(window+1) — no shuffle, no corpus state. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, window: Int = 4,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && window >= 1, s"need k, window >= 1, got $k/$window")
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(toks) - $k),
              i -> CAST(conv(substring(md5(array_join(
                     slice(toks, i + 1, $k), ' ')), 1, 12), 16, 10)
                   AS BIGINT))""").as("gh"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(CASE WHEN size(gh) < $window
              THEN array(array_min(gh))
              ELSE transform(sequence(0, size(gh) - $window),
                     j -> array_min(slice(gh, j + 1, $window))) END)"""))
        .as("fp"))
  }

  /** Winnow-based near-dup pair detection: docs sharing at least
    * `minShared` selected fingerprints. The pair join follows the x07
    * postings discipline — 8-byte fingerprint keys, never raw text, and a
    * `maxDf` document-frequency cap that drops corpus-wide fingerprints
    * (a globally common k-gram whose hash happens to be locally minimal
    * would otherwise build a df²-sized bucket) — so candidate volume stays
    * quasi-linear at 100 TB. Output: (`ia`, `ib`, `n_shared`). */
  def winnowPairs(docs: DataFrame, k: Int = 3, window: Int = 4,
                  minShared: Long = 2L, maxDf: Long = 64L,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1 and maxDf >= 2, got $minShared/$maxDf")
    val kept = winnowKeptFps(docs, k, window, maxDf, textCol, idCol)
    val a = kept.toDF("fp", "ia")
    val b = kept.toDF("fp", "ib")
    a.join(b, Seq("fp"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The df-capped (fp, ref_id) fingerprint table — the ONE artifact behind
    * [[winnowPairs]], [[winnowFlagger]] and [[saveWinnowIndex]]. */
  private def winnowKeptFps(docs: DataFrame, k: Int, window: Int, maxDf: Long,
                            textCol: String, idCol: String): DataFrame = {
    val fps = winnowFingerprints(docs, k, window, textCol, idCol)
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    fps.join(keep, Seq("fp")).select(col("fp"), col("doc_id").as("ref_id"))
  }

  /** The probe side shared by the in-memory and reloaded winnow flaggers:
    * fingerprint the batch, join the frozen capped table, flag docs
    * sharing >= minShared fingerprints with any single reference doc
    * OTHER than themselves (so a corpus-self probe flags exactly the docs
    * appearing in a [[winnowPairs]] pair — WinnowSpec pins this). */
  private def winnowProbe(ref: DataFrame, k: Int, window: Int,
                          minShared: Long, textCol: String,
                          idCol: String): DataFrame => DataFrame =
    batch => winnowFingerprints(batch, k, window, textCol, idCol)
      .join(ref, Seq("fp"))
      .filter(col("doc_id") =!= col("ref_id"))
      .groupBy(col("doc_id"), col("ref_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("n_shared")).as("max_shared"))

  /** Freeze the corpus's winnow fingerprint table ONCE and return the
    * per-batch near-dup flagger — [[winnowPairs]] as a build/apply split
    * (the [[nearDupFlagger]] lifecycle). Output per flagged batch doc:
    * (`doc_id`, `n_matches`, `max_shared`). */
  def winnowFlagger(corpus: DataFrame, k: Int = 3, window: Int = 4,
                    minShared: Long = 2L, maxDf: Long = 64L,
                    textCol: String = "text", idCol: String = "doc_id"): Retriever =
    Retriever.freeze(winnowKeptFps(corpus, k, window, maxDf, textCol, idCol)) {
      case Seq(ref) => winnowProbe(ref, k, window, minShared, textCol, idCol)
    }

  /** Persist a [[winnowFlagger]] index so the build survives the session
    * ([[Retriever]] companion layout): `dir/fingerprints` — 16 B/selected
    * fingerprint (≈ 2/(window+1) of the corpus k-gram count); `dir/meta` —
    * one row (k, window, min_shared, max_df). */
  def saveWinnowIndex(corpus: DataFrame, dir: String, k: Int = 3,
                      window: Int = 4, minShared: Long = 2L, maxDf: Long = 64L,
                      textCol: String = "text", idCol: String = "doc_id"): Unit =
    Retriever.save(dir,
        "fingerprints" -> winnowKeptFps(corpus, k, window, maxDf, textCol, idCol))(
      lit(k).as("k"), lit(window).as("window"), lit(minShared).as("min_shared"),
      lit(maxDf).as("max_df"))

  /** Reload a [[saveWinnowIndex]] directory as a ready [[Retriever]]
    * (materialized now, not on first batch; semantics from the saved
    * meta — WinnowSpec pins reload parity with the in-memory flagger). */
  def loadWinnowFlagger(spark: org.apache.spark.sql.SparkSession, dir: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): Retriever =
    Retriever.load(spark, dir, "fingerprints") { case (m, Seq(ref)) =>
      winnowProbe(ref, m.getAs[Int]("k"), m.getAs[Int]("window"),
        m.getAs[Long]("min_shared"), textCol, idCol)
    }

  /** Exact token-MULTISET overlap scores for candidate pairs — the verify
    * step that grades what a candidate miner found: per pair (`ia`, `ib`),
    * the token counts `n_a`/`n_b`, the multiset intersection size
    * `overlap = Σ_tok min(tf_a, tf_b)`, the token F1 `2·overlap/(n_a+n_b)`
    * and both asymmetric CONTAINMENTS `overlap/n_a`, `overlap/n_b` — all
    * three in exact integer ppm. Containment is the signal set-Jaccard
    * (x07) cannot express: a quote or excerpt has low symmetric Jaccard but
    * containment ≈ 1 on the shorter side, and multiset counting keeps
    * repeated tokens honest where shingle sets collapse them.
    *
    * Scale shape: tokens explode ONLY for docs appearing in a pair (semi-
    * join before the explode — candidate pair lists are tiny relative to
    * their corpus); the per-pair fan-out is |pairs| × per-doc vocab with an
    * (id, tok) equi-join, never corpus-sized. Integer ppm via `div`, so
    * scores hash-match cross-engine. Input contract: pairs (`ia`, `ib`);
    * EVERY input pair produces a row — a side with blank text (or an id
    * absent from the corpus) scores n = 0 with zero overlap/F1/containment,
    * so a miner emitting an out-of-domain pair is visible as a zero row
    * rather than silently dropped. */
  def pairTokenOverlap(docs: DataFrame, pairs: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val p = pairs.select(col("ia").cast("long").as("ia"),
      col("ib").cast("long").as("ib"))
    val ids = p.select(col("ia").as("id"))
      .union(p.select(col("ib").as("id"))).distinct()
    val tf = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .join(ids, Seq("id"), "left_semi")
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val n = tf.groupBy(col("id")).agg(sum(col("tf")).as("n"))
    val ov = p
      .join(tf.select(col("id").as("ia"), col("tok"), col("tf").as("tfa")),
        Seq("ia"))
      .join(tf.select(col("id").as("ib"), col("tok"), col("tf").as("tfb")),
        Seq("ib", "tok"))
      .groupBy(col("ia"), col("ib"))
      .agg(sum(least(col("tfa"), col("tfb"))).as("ov"))
    p.join(ov, Seq("ia", "ib"), "left")
      .join(n.select(col("id").as("ia"), col("n").as("n_a")), Seq("ia"), "left")
      .join(n.select(col("id").as("ib"), col("n").as("n_b")), Seq("ib"), "left")
      .select(col("ia"), col("ib"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("ov"), lit(0L)).as("overlap"))
      // zero-token sides divide by zero — define those scores as 0 (an
      // empty doc overlaps nothing) instead of null/dropped
      .withColumn("f1_ppm", when(col("n_a") + col("n_b") === 0, lit(0L))
        .otherwise(expr("CAST(2000000 * overlap div (n_a + n_b) AS BIGINT)")))
      .withColumn("cont_a_ppm", when(col("n_a") === 0, lit(0L))
        .otherwise(expr("CAST(1000000 * overlap div n_a AS BIGINT)")))
      .withColumn("cont_b_ppm", when(col("n_b") === 0, lit(0L))
        .otherwise(expr("CAST(1000000 * overlap div n_b AS BIGINT)")))
  }
}
