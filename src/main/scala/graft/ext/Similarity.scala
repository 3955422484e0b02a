package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design (100 TB): brute-force cosine is the exact baseline — a
  * broadcast of the query vector against a scan, no shuffle, fully
  * codegen'd higher-order expressions. The scale path is LSH bucketing
  * (random hyperplane signs): vectors shuffle once on a 16-bit bucket key
  * and only bucket-local (plus near-bucket multi-probe) candidates pay the
  * exact cosine. All arithmetic is double-precision regardless of the
  * float32 storage type, and scores are rounded before any order-by/limit
  * so the top-k cut is deterministic.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns — a native
    * codegen'd Catalyst expression ([[org.apache.spark.sql.graft.DotProductExpr]]);
    * semantically identical to `aggregate(zip_with(a,b,_*_), 0.0, _+_)`
    * (index-ordered multiply-accumulate in double) but ~10× faster because
    * higher-order lambdas are evaluated interpreted. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.dotF(a, b)

  /** Double-precision L2 norm (codegen'd). */
  def norm(a: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.normF(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embeddings with their L2 norm computed ONCE per vector. Every pairwise
    * path joins this instead of re-deriving norms per pair — at 2k vectors
    * that is 4M redundant array folds avoided; at 100 TB it is the
    * difference between O(pairs·dim) and O(3·pairs·dim) work. */
  def withNorms(emb: DataFrame): DataFrame =
    Par.fanOutScan(emb, col("vec_id"))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

  /** Exact top-k by cosine against the embedding of `queryId`. The single
    * query row broadcasts (its norm precomputed once); `orderBy(limit)`
    * compiles to TakeOrderedAndProject (no global sort materialization).
    * Rounded to 6 decimals before ranking, vec_id tie-break. */
  def cosineTopK(emb: DataFrame, queryId: Long, kTop: Int): DataFrame =
    rankAgainstQuery(emb, queryId, kTop, None)

  /** The shared body of [[cosineTopK]]/[[cosineTopKWithin]]: one scoring,
    * rounding, and tie-break definition, with an optional candidate
    * semi-join applied BEFORE the distance math. */
  private def rankAgainstQuery(emb: DataFrame, queryId: Long, kTop: Int,
                               cand: Option[DataFrame]): DataFrame = {
    val n = withNorms(emb)
    val q = n.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    cand.fold(n)(c => n.join(c, Seq("vec_id"), "left_semi"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(kTop)
  }

  /** [[cosineTopK]] restricted to a candidate id set — METADATA-FILTERED
    * similarity search ("nearest docs from source X / license Y / date
    * range Z"), the retrieval shape real pipelines run far more often than
    * unfiltered top-k. The filter lands BEFORE any distance math (a
    * left-semi join on vec_id), so selective predicates cut the scan, not
    * just the ranking; the query vector is taken from the FULL corpus, so
    * the query need not satisfy the filter. At scale the same pre-filter
    * composes in front of [[srpCrossTopK]]/[[Ivf.ivfCrossTopK]] — for IVF
    * the candidate semi-join applies inside the probed cells only. */
  def cosineTopKWithin(emb: DataFrame, queryId: Long, kTop: Int,
                       candIds: DataFrame,
                       candIdCol: String = "vec_id"): DataFrame =
    rankAgainstQuery(emb, queryId, kTop,
      Some(candIds.select(col(candIdCol).as("vec_id"))))

  /** Hard row ceiling for [[cosinePairs]]: the baseline collects every
    * (id, vector, norm) to the driver, so a large table must fail fast with
    * a pointer at the scale path instead of slow-OOMing the driver. 1M rows
    * × 64-dim float ≈ 300 MB heap — safely inside a default driver, far
    * beyond any verification corpus. */
  val maxExactRows = 1000000L

  /** Exact all-pairs above a cosine threshold. Quadratic by construction —
    * the exact baseline for verifying the LSH path; at scale use
    * [[lshCosinePairs]].
    *
    * Implementation: a blocked imperative loop over a broadcast copy of the
    * whole (id, vector, norm) set — the one seam where `mapPartitions` is
    * the right tool (SURVEY §7.3's "last resort"): the all-pairs baseline
    * DEFINITIONALLY broadcasts one full side (the BNLJ form did exactly
    * that), and the join-row machinery was 5× the cost of the arithmetic
    * (9.3 s → measured ~2 s at sf0.1). Each partition scans its slice of
    * left rows against the sorted broadcast array from `ib > ia` onward.
    * Arithmetic is bit-identical to the declarative form: index-ordered
    * double multiply-accumulate and Spark's own round semantics
    * (BigDecimal.valueOf(x).setScale(6, HALF_UP)). */
  def cosinePairs(emb: DataFrame, threshold: Double,
                  maxRows: Long = maxExactRows): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // One source scan: the collected copy IS both the broadcast side and the
    // row source (rows re-derived from index ranges), so constructing this
    // frame runs one eager job — the documented cost of the baseline. The
    // limit+count probe bounds the collect BEFORE it happens: scanning
    // maxRows+1 rows is cheap next to the collect itself.
    // maxRows+1 may overflow (maxRows = Long.MaxValue wraps negative, which
    // limit(0) would turn into a vacuously-passing probe) — clamp first.
    val probeLimit =
      if (maxRows >= Int.MaxValue.toLong) Int.MaxValue else (maxRows + 1).toInt
    val nRows = emb.limit(probeLimit).count()
    require(nRows <= maxRows,
      s"cosinePairs is the exact quadratic baseline and collects all vectors " +
        s"to the driver; input exceeds maxRows=$maxRows. Use lshCosinePairs " +
        s"(or embeddingDedup(approx = true)) at scale, or raise maxRows " +
        s"explicitly if the driver can hold the table.")
    val all = withNorms(emb).select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    val ids = all.map(_._1)
    val vecs = all.map(_._2)
    val nrms = all.map(_._3)
    val bc = spark.sparkContext.broadcast((ids, vecs, nrms))
    val slices = spark.sparkContext.defaultParallelism
    spark.createDataset(
      spark.sparkContext.parallelize(ids.indices, math.max(1, slices))
        .flatMap { p =>
          val (ids, vecs, nrms) = bc.value
          val ia = ids(p)
          val ea = vecs(p)
          val na = nrms(p)
          // strictly greater id: duplicate vec_ids must not self-pair
          // (the declarative form's ia < ib predicate excluded them too)
          var start = p + 1
          while (start < ids.length && ids(start) == ia) start += 1
          (start until ids.length).iterator.flatMap { j =>
            val eb = vecs(j)
            val m = math.min(ea.length, eb.length)
            var acc = 0.0
            var i = 0
            while (i < m) { acc += ea(i).toDouble * eb(i).toDouble; i += 1 }
            val raw = acc / (na * nrms(j))
            // Spark's round() passes non-finite values through, and its
            // comparisons order NaN above every double — mirror both (a
            // zero-norm vector must not crash the baseline)
            val cos =
              if (java.lang.Double.isFinite(raw))
                java.math.BigDecimal.valueOf(raw)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              else raw
            if (cos >= threshold || cos.isNaN || cos == Double.PositiveInfinity)
              Some((ia, ids(j), cos))
            else None
          }
        }).toDF("ia", "ib", "cos")
  }

  /** Embedding-level near-dup dedup: keep a vector iff no LOWER-id vector
    * is cosine-similar above the threshold — each dup cluster keeps its
    * minimum id as representative (pairwise rule, not transitive closure:
    * A~B, B~C, A≁C keeps A and C; document accordingly).
    *
    * `approx = false` (the oracle-checkable default) uses the exact
    * all-pairs join — quadratic, verification-scale only. `approx = true`
    * is the production path at scale: candidates from [[lshCosinePairs]]
    * (bucket equi-join, never all-pairs), so a vector survives unless an
    * LSH-discovered lower-id near-duplicate dominates it. Recall of the
    * approx path vs the exact one is asserted in DedupSpec and exposed as a
    * catalog query. Output: `vec_id` of survivors. */
  def embeddingDedup(emb: DataFrame, threshold: Double,
                     approx: Boolean = false, dim: Int = 64): DataFrame =
    embeddingDedupOf(emb,
      if (approx) lshCosinePairs(emb, threshold, dim)
      else cosinePairs(emb, threshold))

  /** [[embeddingDedup]] over an ALREADY-MINED pair set (`ia < ib` near-dup
    * pairs): keep a vector iff no lower-id pair dominates it. Pipelines
    * holding a shared pair frame — the pair mining is the expensive pass —
    * dedup without re-mining. */
  def embeddingDedupOf(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val dominated = pairs.select(col("ib").as("vec_id")).distinct()
    emb.select(col("vec_id"))
      .join(dominated, Seq("vec_id"), "left_anti")
  }

  /** Fixed random hyperplanes (seeded, deterministic) for sign-LSH. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Banded sign-LSH, same amplification idea as MinHash banding: `tables`
    * independent bucket tables of `planesPerTable` sign bits each. A pair is
    * a candidate if it collides in ANY table: recall ≈ 1−(1−p^r)^b with
    * p = 1 − θ/π. At cosine 0.4 with r=4, b=8 that's ≈ 0.75 — tunable via
    * the two knobs; a single wide bucket (e.g. 16 bits) has ~zero recall at
    * mid cosine and exists only for near-duplicate vectors. */
  val tables = 8
  val planesPerTable = 4

  /** Corpus-adaptive bits per bucket table. Uncorrelated vectors land
    * n/2^bits to a bucket, so candidate volume per table is ~n²/2^(bits+1):
    * FIXED bits make candidates quadratic in corpus size, and once buckets
    * outgrow `maxBucket` the cap silently zeroes recall. Sizing
    * bits ≈ log₂(n/targetBucket) pins expected bucket size at `targetBucket`
    * — candidate volume O(n·targetBucket·tables), linear in n, and nothing
    * hits the cap. Clamped to [4, 24].
    *
    * Recall cost is explicit, not a cliff: per-table collision for a pair at
    * angle θ is p^bits with p = 1−θ/π, so +1 bit multiplies per-table recall
    * by p. NEAR-DUP thresholds survive banding at corpus scale (cos ≥ 0.9 →
    * p ≈ 0.86: 7 bits × 8 tables ≈ 0.99 recall); MID-cosine retrieval does
    * not — that regime needs [[graft.ext.Ivf.ivfCosinePairs]] (coarse cells
    * first, banding inside each cell). */
  def adaptiveBits(n: Long, targetBucket: Long): Int = {
    require(n > 0 && targetBucket > 0,
      s"adaptiveBits needs positive corpus/target sizes, got n=$n target=$targetBucket")
    val raw = math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** Expected recall of banded sign-LSH for a pair at cosine `cos`:
    * 1−(1−p^bits)^tables, p = 1−θ/π. The planning companion of
    * [[adaptiveBits]] — callers size `nTables` so this stays above their
    * floor at the similarity level they care about. */
  def bandingRecall(cos: Double, bits: Int, nTables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits.toDouble), nTables.toDouble)
  }

  /** Exploded (vec_id, table, bucket) rows: one row per bucket table. */
  def lshBands(emb: DataFrame, dim: Int,
               nTables: Int = tables, bits: Int = planesPerTable): DataFrame = {
    val planes = hyperplanes(nTables * bits, dim)
    val bandCols = (0 until nTables).map { t =>
      val bucket = (0 until bits).foldLeft(lit(0)) { (acc, j) =>
        acc + when(dot(col("embedding"), typedLit(planes(t * bits + j))) > 0,
          lit(1 << j)).otherwise(lit(0))
      }
      struct(lit(t).as("t"), bucket.as("bucket"))
    }
    Par.fanOutScan(emb, col("vec_id")).select(col("vec_id"), col("embedding"),
        explode(array(bandCols: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** Per-bucket size cap: a degenerate bucket of q near-identical vectors
    * emits q²/2 candidate pairs. Buckets over the cap are dropped (count
    * published via `observe`) — at 4 sign bits a bucket holds ~1/16 of a
    * random corpus, so only true mass-duplicate pathologies hit the cap. */
  val defaultMaxBucket = 2000

  /** Auto band width: size buckets to a quarter of the cap, so the drop
    * filter is a pathological-duplicates backstop instead of the operating
    * regime (at fixed bits it becomes the operating regime as n grows). */
  private def resolveBits(emb: DataFrame, bitsPerTable: Int, maxBucket: Int): Int =
    if (bitsPerTable > 0) bitsPerTable
    else emb.count() match {
      // empty corpus: no pairs whatever the width — keep the floor, and keep
      // the operator total (it must return an empty frame, not throw)
      case 0L => 4
      case n  => adaptiveBits(n, math.max(1L, maxBucket / 4L))
    }

  /** Approximate near-pairs: candidates collide in ≥1 LSH bucket table
    * (equi-join on (table, bucket) — never all-pairs), then exact cosine
    * verification. Recall < 1 by construction; the exact companion query is
    * the baseline for measuring it.
    *
    * `bitsPerTable = 0` (default) derives the band width from the corpus
    * size ([[adaptiveBits]] against `maxBucket/4`) — one count() job buys
    * candidate volume linear instead of quadratic in n. Pass explicit bits
    * to pin a plan; check the recall consequence with [[bandingRecall]] and
    * the bucket distribution with [[lshBucketStats]]. */
  def lshCosinePairs(emb: DataFrame, threshold: Double, dim: Int = 64,
                     maxBucket: Int = defaultMaxBucket,
                     nTables: Int = tables, bitsPerTable: Int = 0): DataFrame = {
    val bands = lshBands(emb, dim, nTables, resolveBits(emb, bitsPerTable, maxBucket))
    // Candidates as BARE id pairs via bucket postings lists: deduping before
    // re-attaching vectors keeps the shuffle rows at 16 bytes instead of
    // 2×dim floats, and the postings form bounds the per-bucket blowup.
    val buckets = bands
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft_cos_bucket_cap",
        count(when(size(col("ids")) > maxBucket, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
    val cands = buckets
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(a.as("ia"), b.as("ib"))
      }).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .dropDuplicates("ia", "ib")
    verifyCosine(cands, emb, threshold)
  }

  /** Exact-cosine verification of bare candidate id pairs. No broadcast
    * hint: this IS the scale path — the embeddings side can be arbitrarily
    * large, so the vector re-attachment must stay a shuffled join (AQE
    * still broadcasts small inputs on its own). */
  private[ext] def verifyCosine(cands: DataFrame, emb: DataFrame,
                                threshold: Double): DataFrame = {
    val n = withNorms(emb)
    cands
      .join(n.select(col("vec_id").as("ia"), col("embedding").as("ea"),
        col("nrm").as("na")), "ia")
      .join(n.select(col("vec_id").as("ib"), col("embedding").as("eb"),
        col("nrm").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SRP sketch table: `vec_id`, 64-bit signed-random-projection sketch.
    * The sketch is computed by the native map-side
    * [[org.apache.spark.sql.graft.SrpSketchExpr]] — hyperplanes derive
    * deterministically from the dimension index, so there is no plane
    * broadcast and no interpreted per-plane dot product (contrast
    * [[lshBands]], which evaluates `tables × planesPerTable` typedLit dot
    * products per row). Hamming distance between sketches estimates the
    * angle: E[popcount(a^b)]/64 = θ/π. */
  val srpBits = 64

  def srpSketches(emb: DataFrame): DataFrame =
    Par.fanOutScan(emb, col("vec_id")).select(col("vec_id"),
      org.apache.spark.sql.graft.VectorFunctions.srpSketchF(col("embedding"), srpBits).as("sketch"))

  /** Exploded (vec_id, t, bucket) rows from the 64-bit SRP sketch: `bandsN`
    * contiguous bit slices, map-side (bit shifts on one long — no second
    * pass over the vector). */
  def srpBands(emb: DataFrame, bandsN: Int): DataFrame =
    bandedSketch(srpSketches(emb), Seq("vec_id"), bandsN)

  /** Band-slice a frame carrying a 64-bit `sketch` column into
    * (keep..., t, bucket) rows — shared by [[srpBands]] and the cell-local
    * banding of [[graft.ext.Ivf.ivfCosinePairs]] (which keeps the cell id
    * alongside the vec_id so buckets are scoped per cell). */
  private[ext] def bandedSketch(withSketch: DataFrame, keep: Seq[String],
                                bandsN: Int): DataFrame = {
    require(bandsN > 0 && srpBits % bandsN == 0,
      s"bandsN must divide $srpBits, got $bandsN")
    val r = srpBits / bandsN
    val mask = if (r == 64) -1L else (1L << r) - 1
    val bandCols = (0 until bandsN).map { b =>
      struct(lit(b).as("t"),
        shiftrightunsigned(col("sketch"), b * r).bitwiseAND(mask).as("bucket"))
    }
    withSketch
      .select(keep.map(col) :+ explode(array(bandCols: _*)).as("tb"): _*)
      .select(keep.map(col) :+ col("tb.t").as("t") :+ col("tb.bucket").as("bucket"): _*)
  }

  /** Auto SRP band count: the narrowest sketch slice whose width reaches the
    * corpus-adaptive bit count — band width must divide the 64-bit sketch,
    * so widths come from {4, 8, 16, 32}. */
  private def resolveSrpBands(emb: DataFrame, bandsN: Int, maxBucket: Int): Int =
    if (bandsN > 0) bandsN
    else {
      val n = emb.count()
      val want = if (n == 0) 4 else adaptiveBits(n, math.max(1L, maxBucket / 4L))
      val width = Seq(4, 8, 16, 32).find(_ >= want).getOrElse(32)
      srpBits / width
    }

  /** SRP-sketch near-pairs: candidates collide in ≥1 sketch-band bucket,
    * then exact cosine verification. Same output contract as
    * [[lshCosinePairs]]; same bucket-postings candidate shape, same cap,
    * same `observe` drop counter. Recall ≈ 1−(1−p^r)^b with p = 1−θ/π,
    * r = 64/bandsN: at 16 bands of 4 bits, ≈0.91 at cosine 0.35 and ≈1
    * above 0.7. `bandsN = 0` (default) sizes the band width to the corpus
    * like [[lshCosinePairs]] — verification corpora get 16×4 bits, larger
    * ones wider/fewer bands; audit the distribution with [[srpBucketStats]].
    * Mid-cosine retrieval past the banding math belongs to
    * [[graft.ext.Ivf.ivfCosinePairs]]. */
  def srpCosinePairs(emb: DataFrame, threshold: Double,
                     bandsN: Int = 0,
                     maxBucket: Int = defaultMaxBucket): DataFrame = {
    val banded = srpBands(emb, resolveSrpBands(emb, bandsN, maxBucket))
    val buckets = banded
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("graft_srp_bucket_cap",
        count(when(size(col("ids")) > maxBucket, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
    val cands = buckets
      .select(explode(ArrayPairs.orderedPairs(col("ids")) { (a, b) =>
        struct(a.as("ia"), b.as("ib"))
      }).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .dropDuplicates("ia", "ib")
    verifyCosine(cands, emb, threshold)
  }

  /** Bucket-size audit for the sign-LSH candidate paths — the
    * [[graft.ext.Dedup.postingsDfStats]] pattern for the vector side: one
    * row with the collision-bucket count, the largest bucket, how many
    * buckets a `maxBucket` cap would DROP, and the candidate-pair volume
    * kept vs dropped. Pipelines run this alongside a capped pair job —
    * unlike the inline `observe` counter it survives AQE re-planning, and
    * it turns the silent recall cliff (buckets outgrow the cap → all
    * candidates vanish) into a driver-visible number. */
  private def bucketStats(banded: DataFrame, maxBucket: Int): DataFrame =
    postingsStats(
      banded.groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("q")), maxBucket)

  /** The [[bucketStats]] aggregation over per-bucket populations — accepts
    * either a precomputed `q` count column or an `ids` postings list (sized
    * on the fly), so cell-scoped postings ([[graft.ext.Ivf.ivfBucketStats]])
    * audit the exact frame their pair query consumes. */
  private[ext] def postingsStats(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val q = col("q")
    // integer div: q(q−1) is even, and `/` on longs is double division
    val pairsOf = expr("q * (q - 1) div 2")
    val sized =
      if (buckets.columns.contains("q")) buckets.select(col("q").cast("long").as("q"))
      else buckets.select(size(col("ids")).cast("long").as("q"))
    sized
      .filter(q > 1)
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(max(q), lit(0L)).as("max_bucket"),
        coalesce(sum(when(q > maxBucket, 1L).otherwise(0L)), lit(0L)).as("n_over_cap"),
        coalesce(sum(when(q <= maxBucket, pairsOf).otherwise(0L)), lit(0L)).as("kept_candidates"),
        coalesce(sum(when(q > maxBucket, pairsOf).otherwise(0L)), lit(0L)).as("dropped_candidates"))
  }

  /** [[bucketStats]] over the hyperplane-table banding of [[lshCosinePairs]]
    * (same auto band-width resolution — pass `bitsPerTable = 0` to audit the
    * plan the pair query actually runs). */
  def lshBucketStats(emb: DataFrame, dim: Int = 64,
                     maxBucket: Int = defaultMaxBucket,
                     nTables: Int = tables, bitsPerTable: Int = 0): DataFrame =
    bucketStats(
      lshBands(emb, dim, nTables, resolveBits(emb, bitsPerTable, maxBucket)),
      maxBucket)

  /** [[bucketStats]] over the SRP sketch banding of [[srpCosinePairs]]. */
  def srpBucketStats(emb: DataFrame, bandsN: Int = 0,
                     maxBucket: Int = defaultMaxBucket): DataFrame =
    bucketStats(srpBands(emb, resolveSrpBands(emb, bandsN, maxBucket)), maxBucket)

  /** Rank symmetric near-pair edges into per-vector top-k: each (ia, ib)
    * pair contributes both directions, `row_number` over
    * (cos desc, neighbor id asc) keeps the cut deterministic (cos is
    * already rounded to 6 decimals by the pair producers). The window
    * partitions by vec_id — at corpus scale that is the natural
    * shuffle key, no global sort. PUBLIC so pipelines that already hold a
    * pair set (e.g. one mined once at a lower threshold and shared across
    * consumers) can rank it without re-mining. */
  def knnFromPairs(pairs: DataFrame, kTop: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Both edge directions from ONE pass over the pair source: a union of
    // two selects re-evaluates the (expensive — quadratic for the exact
    // baseline) pair subtree per branch, a generator emits both rows from
    // the same scan.
    val sym = pairs
      .select(explode(array(
        struct(col("ia").as("vec_id"), col("ib").as("nb"), col("cos")),
        struct(col("ib").as("vec_id"), col("ia").as("nb"), col("cos")))).as("e"))
      .select(col("e.vec_id").as("vec_id"), col("e.nb").as("nb"), col("e.cos").as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nb").asc)
    sym.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= kTop)
  }

  /** Exact k-nearest-neighbor graph: for EVERY vector, its `kTop` highest-
    * cosine neighbors at or above `minCos` — the corpus-wide neighborhood
    * structure that clustering, SemDeDup-style semantic dedup, and
    * diversity sampling consume (the single-query [[cosineTopK]] answers
    * one lookup; this materializes all of them). Quadratic by construction
    * (built on the [[cosinePairs]] baseline): the verification shape.
    * Production at scale is [[srpKnnGraph]] — same output contract,
    * bucket-bounded candidates. The `minCos` floor is load-bearing at
    * scale: a kNN graph without a similarity floor has no candidate-
    * pruning structure for ANY sublinear path (every vector has SOME
    * top-k, however dissimilar). */
  def knnGraph(emb: DataFrame, kTop: Int, minCos: Double): DataFrame =
    knnFromPairs(cosinePairs(emb, minCos), kTop)

  /** Approximate kNN graph at scale: SRP-sketch banded candidates
    * ([[srpCosinePairs]] — map-side 64-bit sketches, corpus-adaptive band
    * width, capped bucket postings, exact-cosine verification) ranked into
    * per-vector top-k. One candidate generation pass serves every vector's
    * neighborhood at once. Recall vs [[knnGraph]] is driver-visible via
    * the x51 gate. */
  def srpKnnGraph(emb: DataFrame, kTop: Int, minCos: Double,
                  bandsN: Int = 0,
                  maxBucket: Int = defaultMaxBucket): DataFrame =
    knnFromPairs(srpCosinePairs(emb, minCos, bandsN, maxBucket), kTop)

  /** Per-instance suffix for [[srpRetriever]]'s observe metric. */
  private val retrieverSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Row ceiling for the broadcast side of [[crossTopK]]: 100k × 64-dim
    * float ≈ 30 MB — comfortably broadcastable; beyond it the query batch
    * belongs on the banded path. */
  val maxBroadcastQueries = 100000L

  /** Fail-fast guard for every path that BROADCASTS the query batch
    * (crossTopK, hard negatives, triplets, the IVF/PQ probe sides): counts
    * at most `maxBroadcastQueries + 1` rows (a bounded probe job, not a
    * full count) and rejects oversized batches loudly instead of letting
    * the broadcast blow past the size limit or executor memory. */
  private[ext] def requireBroadcastableBatch(queries: DataFrame, op: String,
                                             alternative: String): Unit = {
    val nQ = queries.limit((maxBroadcastQueries + 1).toInt).count()
    require(nQ <= maxBroadcastQueries,
      s"$op broadcasts the query batch; input exceeds " +
        s"$maxBroadcastQueries rows. $alternative")
  }

  /** Exact batch retrieval: EVERY query vector's `kTop` highest-cosine
    * corpus neighbors at or above `minCos` — the "embed a batch, look each
    * one up" shape ([[cosineTopK]] answers one lookup; this answers a
    * table of them in one pass). The query batch broadcasts (norms
    * precomputed once) against a single corpus scan — scan-and-score, no
    * corpus shuffle until the per-query rank window, which partitions on
    * `query_id` (the natural key; no global sort). This IS the production
    * plan while the query batch stays broadcastable (≤ [[maxBroadcastQueries]],
    * fail-fast); a corpus-sized query set belongs on [[srpCrossTopK]].
    * Output: (`query_id`, `vec_id`, `cos`, `rnk`). A vec_id present in both
    * frames is not special-cased (it scores like any corpus row). */
  def crossTopK(queries: DataFrame, corpus: DataFrame,
                kTop: Int, minCos: Double): DataFrame = {
    requireBroadcastableBatch(queries, "crossTopK",
      "Use srpCrossTopK for corpus-sized query sets.")
    val q = withNorms(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qnrm"))
    withNorms(corpus)
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .transform(rankPerQuery(kTop))
  }

  /** Approximate batch retrieval at scale: both sides SRP-sketched and
    * banded (map-side, no plane broadcast), candidates share ≥1
    * (band, bucket) with their query — an equi-join against capped
    * corpus-side bucket postings, never queries × corpus — then exact
    * cosine on candidates only and the same per-query rank window.
    * Band width follows the CORPUS size ([[adaptiveBits]]), so candidate
    * volume stays ~O(queries · targetBucket · bands). Recall vs
    * [[crossTopK]] is driver-visible via the x55 gate. */
  def srpCrossTopK(queries: DataFrame, corpus: DataFrame,
                   kTop: Int, minCos: Double,
                   bandsN: Int = 0,
                   maxBucket: Int = defaultMaxBucket): DataFrame = {
    val bn = resolveSrpBands(corpus, bandsN, maxBucket)
    val postings = srpBands(corpus, bn)
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      .observe("graft_srp_cross_bucket_cap",
        count(when(size(col("ids")) > maxBucket, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
    scoreAgainstPostings(queries, postings, withNorms(corpus), bn, kTop, minCos)
  }

  /** The query-side half of SRP batch retrieval, shared by the one-shot
    * [[srpCrossTopK]] and the build-once [[srpRetriever]]: band the queries
    * at the corpus-resolved width, equi-join the corpus bucket postings,
    * exact-cosine the candidates, rank per query. */
  private def scoreAgainstPostings(queries: DataFrame, postings: DataFrame,
                                   corpusNorms: DataFrame, bn: Int,
                                   kTop: Int, minCos: Double): DataFrame = {
    val qBands = srpBands(queries, bn)
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    val cands = qBands.join(postings, Seq("t", "bucket"))
      .select(col("query_id"), explode(col("ids")).as("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val q = withNorms(queries).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qnrm"))
    cands
      .join(q, "query_id")
      .join(corpusNorms, "vec_id")
      .select(col("query_id"), col("vec_id"),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .filter(col("cos") >= minCos)
      .transform(rankPerQuery(kTop))
  }

  /** Build the corpus-side retrieval state ONCE and return the per-batch
    * lookup — the build/apply split that makes batch retrieval
    * STREAMING-ready (the [[graft.ext.Dedup.bloomFlagger]] /
    * [[graft.ext.Dedup.nearDupFlagger]] pattern): the corpus bucket
    * postings and norm table are computed up front and PERSISTED, and the
    * returned function answers ANY query frame — a batch table or each
    * `foreachBatch` micro-batch — with the identical plan tail as
    * [[srpCrossTopK]]. A query's result depends only on its own row and
    * the static corpus state (the rank window partitions by query_id, and
    * each query lives in exactly one micro-batch), so streaming output ≡
    * batch output on the same rows — asserted in StreamingSpec.
    *
    * At 100 TB: the corpus pass (sketch + postings groupBy + norms) is the
    * expensive part and runs exactly once per corpus version; each arriving
    * batch pays only its own banding plus candidate-bounded joins — and the
    * returned [[Retriever]]'s `close()` releases both persisted frames when
    * the corpus version is retired. */
  def srpRetriever(corpus: DataFrame, kTop: Int, minCos: Double,
                   bandsN: Int = 0,
                   maxBucket: Int = defaultMaxBucket): Retriever = {
    val bn = resolveSrpBands(corpus, bandsN, maxBucket)
    val postings = srpBands(corpus, bn)
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_set(col("vec_id"))).as("ids"))
      // same cap audit as srpCrossTopK: over-cap truncation silently lowers
      // recall, so the build pass must surface it too. The metric name is
      // per-instance: two retrievers (two corpus versions) composed into
      // one query would otherwise collide on CollectMetrics name analysis.
      .observe(s"graft_srp_retriever_bucket_cap_${retrieverSeq.incrementAndGet()}",
        count(when(size(col("ids")) > maxBucket, 1)).as("dropped_buckets"))
      .filter(size(col("ids")) <= maxBucket)
      .persist()
    val corpusNorms = withNorms(corpus).persist()
    new Retriever(
      queries => scoreAgainstPostings(queries, postings, corpusNorms, bn, kTop, minCos),
      () => { postings.unpersist(); corpusNorms.unpersist() })
  }

  /** Hard-negative mining for contrastive training: each query vector's
    * `kTop` highest-cosine corpus vectors with a DIFFERENT label — the
    * near-miss negatives that make embedding-model batches informative
    * (easy random negatives teach nothing; same-label hits are positives,
    * not negatives). Same plan shape and broadcast contract as
    * [[crossTopK]] — query batch broadcast against one corpus scan, the
    * label filter rides the scan BEFORE the rank window — so the marginal
    * cost over plain retrieval is one column compare per candidate. A
    * corpus-sized query set belongs on [[srpCrossTopK]] candidates with
    * the same label filter applied before ranking.
    * Output: (`query_id`, `vec_id`, `label`, `cos`, `rnk`). */
  def hardNegativeTopK(queries: DataFrame, corpus: DataFrame, kTop: Int,
                       labelCol: String = "label"): DataFrame = {
    requireBroadcastableBatch(queries, "hardNegativeTopK",
      "Route corpus-sized query sets through srpCrossTopK candidates " +
        "with the label filter applied before ranking.")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), norm(col("embedding")).as("qnrm"),
      col(labelCol).as("qlabel"))
    corpus
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"), col(labelCol))
      .crossJoin(broadcast(q))
      .filter(col(labelCol) =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"), col(labelCol),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .transform(rankPerQuery(kTop))
  }

  /** Contrastive TRIPLET assembly: for each query vector, the nearest
    * SAME-label corpus vector (the positive) and the nearest OTHER-label
    * one (the hard negative — [[hardNegativeTopK]]'s rank-1), plus the
    * exact integer margin between the two cosines — the (anchor, positive,
    * negative) rows an embedding trainer consumes directly, with the
    * margin as the difficulty signal batch samplers sort on. ONE corpus
    * scan against the broadcast query batch and ONE rank window
    * partitioned by (query, same-label) — two partitions per query, no
    * second scoring pass. Self-pairs are excluded before ranking. A query
    * whose label has no second member gets null positive columns (total
    * function — the caller filters or fails loudly, the row does not
    * silently vanish). Corpus-sized query sets route through
    * [[srpCrossTopK]] candidates, ranked under the same partitioning.
    * Output: (`query_id`, `pos_id`, `pos_cos`, `neg_id`, `neg_cos`,
    * `margin_micro`). */
  def contrastiveTriplets(queries: DataFrame, corpus: DataFrame,
                          labelCol: String = "label"): DataFrame =
    tripletsAgainst(corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), col(labelCol).as("clabel")),
      labelCol)(queries)

  /** Build the triplet-mining corpus state ONCE (vectors + norms + labels,
    * persisted) and return the per-batch miner — [[contrastiveTriplets]]
    * as a [[Retriever]], the shape a contrastive training loop uses: each
    * arriving anchor micro-batch mines its positives and hard negatives
    * against the frozen corpus version (StreamingSpec pins micro-batch ≡
    * batch parity). `close()` releases the persisted corpus side. */
  def tripletMiner(corpus: DataFrame,
                   labelCol: String = "label"): Retriever = {
    val side = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"), col(labelCol).as("clabel")).persist()
    new Retriever(tripletsAgainst(side, labelCol), () => { side.unpersist(); () })
  }

  /** The shared scoring tail: corpus side is (`vec_id`, `embedding`,
    * `nrm`, `clabel`). */
  private def tripletsAgainst(corpusSide: DataFrame, labelCol: String)
                             (queries: DataFrame): DataFrame = {
    requireBroadcastableBatch(queries, "contrastiveTriplets",
      "Route corpus-sized query sets through srpCrossTopK candidates " +
        "ranked per (query, same-label) partition.")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), norm(col("embedding")).as("qnrm"),
      col(labelCol).as("qlabel"))
    val scored = corpusSide
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("clabel") === col("qlabel")).as("same"),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("same"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("same"), col("vec_id"))).as("pos_id"),
        max(when(col("same"), col("cos"))).as("pos_cos"),
        max(when(!col("same"), col("vec_id"))).as("neg_id"),
        max(when(!col("same"), col("cos"))).as("neg_cos"))
      .withColumn("margin_micro",
        expr("CAST(round((pos_cos - neg_cos) * 1e6) AS BIGINT)"))
  }

  /** Per-query rank window shared by the retrieval paths: `row_number`
    * over (cos desc, vec_id asc) partitioned by query_id — deterministic
    * cut (cos already rounded to 6 decimals), natural shuffle key. */
  private[ext] def rankPerQuery(kTop: Int)(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= kTop)
  }

  /** Approximate top-k for one query: candidates share ≥1 bucket table with
    * the query (broadcast semi-join on (table, bucket)), exact cosine on the
    * candidates only. Fixed 8×4-bit tables scan ~n/2 candidates — fine for
    * a one-off query; a repeated-query workload at corpus scale should
    * [[graft.ext.Ivf.buildIndex]] once and probe cells instead. */
  def lshTopK(emb: DataFrame, queryId: Long, kTop: Int, dim: Int = 64): DataFrame = {
    val bands = lshBands(emb, dim)
    val qBands = bands.filter(col("vec_id") === queryId)
      .select(col("t").as("qt"), col("bucket").as("qbucket"))
    val n = withNorms(emb)
    val qVec = n.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    bands.filter(col("vec_id") =!= queryId)
      .join(broadcast(qBands), col("t") === col("qt") && col("bucket") === col("qbucket"), "left_semi")
      .select(col("vec_id")).dropDuplicates("vec_id")
      .join(n, "vec_id")
      .crossJoin(broadcast(qVec))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(kTop)
  }
}
