package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Curation, Dedup, Export, Ivf, Multimodal, Pack, Retrieval, Similarity, TextAnalysis}

/** Shared builds and oracle fragments used across the split catalog
  * families (one build per (session, sf, tag) — see [[shared]]). Moved
  * verbatim from the monolithic ExtQueries; visibility widened to the
  * queries package so every family file sees them. */
private[queries] object ExtShared {

  /** Shared oracle for x07/x08: exact word-3-gram Jaccard pairs ≥ 0.6.
    * x08's LSH path exact-verifies candidates with recall 1−(1−j²)^32
    * (≈ 1 − 6e-7 at j=0.6), so both produce the identical pair set. */
  private[queries] val jaccardOracle =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
             FROM t WHERE len(toks) >= 3),
       z AS (SELECT doc_id, len(sh) AS n FROM s),
       e AS (SELECT doc_id, unnest(sh) AS g FROM s),
       p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
             FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT ia, ib, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 4) AS jacc
       FROM p JOIN z za ON za.doc_id = p.ia JOIN z zb ON zb.doc_id = p.ib
       WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.6
       ORDER BY ia, ib"""

  /** Shared CTE prefix of the x138/x139 DSIR oracles: hashed unigram+bigram
    * feature buckets (md5 hex-cast — bit-identical to Spark's
    * conv(substring(md5,1,6),16,10)), Laplace log-ratio per bucket in
    * integer micro-nats. */
  private[queries] val dsirOracleBase =
    """WITH d AS (SELECT doc_id, (lang = 'en') AS tgt,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE length(trim(text)) > 0),
          f AS (SELECT doc_id, tgt,
                  unnest(list_concat(toks,
                    list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1]))) AS g
                FROM d),
          h AS (SELECT doc_id, tgt,
                  CAST(('0x' || substr(md5(g), 1, 6))::BIGINT % 4096
                       AS BIGINT) AS b
                FROM f),
          c AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                  count(*) AS cr FROM h GROUP BY b),
          t AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM c),
          lr AS (SELECT b,
                   CAST(round((ln((ct + 1) / (CAST(tt AS DOUBLE) + 4096.0))
                               - ln((cr + 1) / (CAST(tr AS DOUBLE) + 4096.0)))
                              * 1e6) AS BIGINT) AS q
                 FROM c CROSS JOIN t)"""

  /** 32-token chunks at stride 24, chunk index carried — shared by x22
    * (chunk emission) and x38 (boilerplate-chunk detection).
    * posexplode_outer + null filter on the OUTPUT attribute (the
    * InferFiltersFromGenerate dodge — see Dedup.minHashLshPairs). */
  private[queries] def tokenChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) > 0,
          expr("""transform(sequence(0, cast(floor((size(toks) - 1) / 24) as int)),
                            i -> array_join(slice(toks, i * 24 + 1, 32), ' '))"""))
          .otherwise(array().cast("array<string>")).as("chunks"))
      .select(col("doc_id"), posexplode_outer(col("chunks")).as(Seq("chunk_no", "chunk")))
      .filter(col("chunk").isNotNull)
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"), col("chunk"))

  /** Single-pass pair-recall gate shared by x40/x43/x51/x55: ONE scan of
    * the exact set — left join against the approx set with a hit marker,
    * then count / count(marker) in the same aggregate — where separate
    * `hits` and `tot` aggregates would each re-run the quadratic exact
    * subtree (and the approx side once more). tot = 0 (nothing to recall
    * at this SF/threshold) is vacuous success, not failure. Both sides
    * carry distinct keys by construction; the approx side is re-deduped so
    * an upstream change cannot silently inflate the left join. */
  private[queries] def recallGate(exact: DataFrame, appr: DataFrame,
                         keys: Seq[String], floor: Double): DataFrame =
    exact.join(appr.dropDuplicates(keys).withColumn("hit", lit(1)), keys, "left")
      .agg(count(lit(1)).as("tot"), count(col("hit")).as("hits"))
      .select((col("tot") === 0L ||
        col("hits").cast("double") >= col("tot").cast("double") * floor)
        .as("recall_ok"))

  /** Expensive-subtree reuse across catalog entries — the
    * compute-once/consume-many shape of a real pipeline DAG (the pair set,
    * graph, or flag frame is ONE artifact with several consumers), applied
    * to the catalog: built on first use per (session, sfDir, tag),
    * returned verbatim afterwards. The tag pins EVERY knob of the shared
    * build — a consumer with different knobs gets its own tag.
    *
    * Sharing is only ever between an operator entry and consumers of the
    * SAME logical computation (its gates, its downstream composites) —
    * never across algorithm variants: x08/x36 deliberately recompute x07's
    * pair set by different algorithms and stay independent, as does the
    * x12 LSH path.
    *
    * ONE registry holds every shared build, persisted frames and
    * driver-side values (BPE merges, samples, models, centroids, event
    * rows) alike, each entry with its exclusive build seconds; the tag
    * list, the build times and the clear below are views over it, so no
    * shared value can be left out of any of them. A TrieMap because its
    * getOrElseUpdate tolerates a builder that forces another shared build
    * (ConcurrentHashMap.computeIfAbsent throws on that recursive update).
    * Each key builds exactly once: threads asking for an unbuilt key
    * (Bench's parallel warm-up) serialize on that key's lock, and the
    * later ones find the first one's value. The lock is per key, so
    * unrelated builds still run concurrently; monitors are re-entrant and
    * the builds form a DAG (a builder only forces builds it depends on),
    * so nested builds cannot deadlock. */
  private final case class Built(value: Any, secs: Double)
  private type Key = (SparkSession, String, String)
  private val registry = scala.collection.concurrent.TrieMap.empty[Key, Built]
  private val buildLocks = scala.collection.concurrent.TrieMap.empty[Key, AnyRef]

  private[queries] def shared[T](s: SparkSession, d: String, tag: String)(mk: => T): T = {
    val key = (s, d, tag)
    registry.getOrElse(key, buildLocks.getOrElseUpdate(key, new AnyRef).synchronized {
      registry.getOrElseUpdate(key, timedBuild(mk))
    }).value.asInstanceOf[T]
  }

  private[queries] def sharedFrame(s: SparkSession, d: String, tag: String)
                         (mk: => DataFrame): DataFrame =
    shared(s, d, tag) {
      val f = mk.persist()
      // Materialize the cache NOW, inside the timed build, so the one-time
      // cost is attributable to the frame rather than smeared into whatever
      // consumer plan first forces it (count() populates every partition of
      // a freshly-persisted frame; consumers then read cached blocks).
      f.count()
      f
    }

  /** Each build's EXCLUSIVE seconds: a nested shared build forced from
    * inside a builder is timed as its own entry and subtracted from its
    * parent, so every interval is attributed to exactly one tag. The
    * stack is per thread because builds run concurrently (Bench's
    * warm-up pool); each slot sums the wall time of its direct children. */
  private val buildStack = ThreadLocal.withInitial[List[Array[Double]]](() => Nil)
  private def timedBuild(mk: => Any): Built = {
    val outer = buildStack.get
    val nested = Array(0.0)
    buildStack.set(nested :: outer)
    val t0 = System.nanoTime()
    val v = try mk finally buildStack.set(outer)
    val wall = (System.nanoTime() - t0) / 1e9
    outer.headOption.foreach(_(0) += wall)
    Built(v, wall - nested(0))
  }

  /** The tags of every shared build currently registered — lets a
    * measurement harness attribute each build's one-time cost to the
    * catalog query that first forced it (Bench diffs this set around each
    * timed query; without the attribution, whichever query alphabetically
    * first touches an expensive shared subtree looks like a regression
    * whenever the catalog's run order shifts).
    *
    * Tags are DIR-QUALIFIED (`sf0.1:jacc-n3-t06`): builds are registered
    * per (session, dir, tag), so the warm-up pass at the tiny SF builds
    * its own entries and the timed pass at the bench SF builds distinct
    * ones — an unqualified tag set made the timed pass's diff come up
    * empty (every bare tag already present from warm-up) and silently
    * blanked the default pass's attribution block. */
  def sharedFrameTags: Set[String] =
    registry.keySet.map { case (_, d, tag) => qualifiedTag(d, tag) }.toSet

  /** Exclusive build seconds of every registered build, keyed like
    * [[sharedFrameTags]]. A harness reads the new tags' seconds here and
    * reports them as first-class `frame:<tag>` entries; since nested
    * builds are subtracted from their parents, a query's frame rows plus
    * its own time add up to its wall time. */
  def sharedFrameBuildSecs: Map[String, Double] =
    registry.iterator.map { case ((_, d, tag), b) => qualifiedTag(d, tag) -> b.secs }.toMap

  private def qualifiedTag(d: String, tag: String): String =
    s"${d.replaceAll("/+$", "").split('/').last}:$tag"

  /** x80's export scratch location: ONE deterministic dir per sf-dir
    * (Overwrite reuse bounds disk) with a single process-wide cleanup
    * hook, however many times the query runs in this JVM. */
  private[queries] val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.values().forEach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))))
  private[queries] def exportScratchDir(sfDir: String, tag: String = "x80"): String = {
    scratchHook
    scratchDirs.computeIfAbsent(s"$tag:$sfDir", _ =>
      java.nio.file.Files.createTempDirectory(s"graft-$tag-export").toString)
  }

  /** Drop every shared build (unpersist each frame, forget every entry).
    * For measurement harnesses that re-run the catalog under a different
    * runtime config (Bench's AQE twin): without this, the second pass
    * would read the first pass's cached blocks and driver values and
    * measure cache hits instead of its own execution. */
  def clearSharedFrames(): Unit = {
    registry.values.map(_.value).foreach {
      case f: org.apache.spark.sql.Dataset[_] => f.unpersist()
      case _ => ()
    }
    registry.clear()
    buildLocks.clear()
  }

  /** x138/x139's shared DSIR weight frame — the per-doc importance scores
    * computed once (target = lang 'en', 4096 hashed buckets), consumed by
    * the weight report and the selection. */
  private[queries] def dsirShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "dsir-b4096-en") {
      TextAnalysis.dsirWeights(Tables.documents(s, d),
        isTarget = col("lang") === "en", buckets = 4096)
    }

  /** x135/x135b/x136/x75's shared packing layout — ONE deterministic
    * artifact (the two-phase prefix-sum plan) with four consumers: the
    * per-doc plan, the segment explode, the capacity gate, and the
    * budget-curve evaluation (cum_before is capacity-independent, so one
    * layout serves every budget). Catalog knobs: capacity 128 (small
    * enough that sf-corpus docs straddle boundaries), seed 42. */
  private[queries] def packPlanShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pack-plan-c128-s42") {
      Pack.packPlan(Tables.documents(s, d), capacity = 128L, seed = 42L)
    }

  /** x29 (pairs), x45 (removal), x48 (gate): the bipartite contamination
    * pair set — decontaminate once, reuse the flag frame. */
  private[queries] def contaminationShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "contam-n3-min3") {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", n = 3, minShared = 3L)
    }

  /** x99 (heavy hitters) and x99b (bound gate): ONE sketch build + exact
    * candidate aggregate — the gate checks the very estimates x99 reports,
    * so sharing is the point (recallGate's relationship to its pair
    * frames), unlike x91 which re-derives its expectation independently.
    * The gate sorts AFTER the operator ("x99_" < "x99b"), so in Bench's
    * name-ordered pass the operator pays the build and the gate times the
    * cached 20-row frame — the attribution every shared pair keeps. */
  private[queries] def cmsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cms-hh-k20") {
      TextAnalysis.cmsHeavyHitters(
        Tables.documents(s, d).filter(length(trim(col("text"))) > 0))
    }

  /** x192 (per-source HLL shingle cardinality) and x192b (bound gate): ONE
    * frame holding, per source, the Datasketches-HLL(lgK=12) estimate of
    * its distinct 3-token shingles beside the exact count, plus one
    * '<ALL>' row whose estimate comes from UNIONING the per-source
    * sketches — never re-scanning the corpus. The mergeable-sketch shape
    * IS the 100 TB distinct-count pattern: per-shard sketches are tiny
    * persistent artifacts (2^12 buckets), and corpus/day/epoch roll-ups
    * are sketch unions, not second passes over the data. The exact counts
    * here are gate-side fixtures (a production run would drop them — they
    * are the second pass the sketch exists to avoid). */
  private[queries] def hllShinglesShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "hll-shingles") {
      val sh = graft.ext.Par.fanOutScan(Tables.documents(s, d), col("doc_id"))
        .select(col("source"), TextAnalysis.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(ts) - 2), " +
            "i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))")).as("shingle"))
      val per = sh.groupBy(col("source"))
        .agg(hll_sketch_agg(col("shingle"), 12).as("sk"),
          count_distinct(col("shingle")).as("exact_shingles"))
        .withColumn("est_shingles",
          hll_sketch_estimate(col("sk")).cast("long"))
      val all = per.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long")
            .as("est_shingles"))
        .crossJoin(broadcast(
          sh.agg(count_distinct(col("shingle")).as("exact_shingles"))))
        .select(lit("<ALL>").as("source"), col("exact_shingles"),
          col("est_shingles"))
      per.select(col("source"), col("exact_shingles"), col("est_shingles"))
        .unionByName(all)
    }

  /** x47 (flags) and x48 (superset gate): the Bloom-flagged train set. */
  private[queries] def bloomFlaggedShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "bloom-n3-min3") {
      val docs = Tables.documents(s, d)
      Dedup.bloomContamination(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", n = 3, minShared = 3L)
    }

  /** x73 (catalog entry) and x80 (export round-trip): the end-to-end
    * curation pipeline — exact dedup → eval holdout → per-source relative
    * quality filter → decontamination → deterministic content-hash
    * sharding. See the x73 catalog comment for the stage-by-stage design. */
  private[queries] def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepIds = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val train = docs.join(keepIds, Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % 7 =!= 0)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    val quality = train
      .withColumn("score", TextAnalysis.qualityScore(col("text")))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= 0.5)
    val flagged = Dedup.contaminationPairs(
        quality, docs.filter(col("doc_id") % 7 === 0),
        "text", "doc_id", n = 3, minShared = 3L)
      .select(col("train_id").as("doc_id")).distinct()
    val ws = Window.partitionBy(col("shard")).orderBy(col("ok"), col("doc_id"))
    quality.join(flagged, Seq("doc_id"), "left_anti")
      .withColumn("ok", md5(col("text")))
      .withColumn("shard",
        expr("CAST(instr('0123456789abcdef', substring(ok, 1, 1)) - 1 AS BIGINT)"))
      .withColumn("pos", row_number().over(ws))
      .select(col("doc_id"), col("source"), col("score"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  private[queries] val curationOracle: String = {
    val stopPat = TextAnalysis.langProfiles.flatMap(_._2).mkString("|")
    s"""WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
            base AS (SELECT d.doc_id, d.text, d.source FROM documents d
                     JOIN dd ON dd.doc_id = d.doc_id WHERE d.doc_id % 7 <> 0),
            m AS (SELECT doc_id, source, text, floor((
                    least(CAST(w AS DOUBLE) / 100.0, 1.0) * 0.4
                  + least(CAST(st AS DOUBLE) / greatest(CAST(w AS DOUBLE), 1.0), 1.0) * 0.3
                  + (1.0 - least(CAST(p AS DOUBLE) / greatest(CAST(ch AS DOUBLE), 1.0), 1.0)) * 0.2
                  + (1.0 - least(CAST(u AS DOUBLE) / greatest(CAST(ch AS DOUBLE), 1.0), 1.0)) * 0.1
                  ) * 10000.0 + 0.5) / 10000.0 AS score
                FROM (SELECT doc_id, source, text,
                        CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
                        length(text) AS ch,
                        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS p,
                        len(regexp_extract_all(text, '[A-Z]')) AS u,
                        len(regexp_extract_all(lower(text), '\\b($stopPat)\\b')) AS st
                      FROM base) t),
            r AS (SELECT doc_id, source, text, score,
                    percent_rank() OVER (PARTITION BY source
                      ORDER BY score DESC, doc_id) AS pr
                  FROM m),
            qf AS (SELECT doc_id, source, text, score FROM r WHERE pr <= 0.5),
            tt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
            ss AS (SELECT doc_id,
                     list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                   FROM tt WHERE len(toks) >= 3),
            ee AS (SELECT doc_id, unnest(sh) AS g FROM ss),
            flag AS (SELECT DISTINCT doc_id FROM (
                       SELECT tr.doc_id AS doc_id, ev.doc_id AS eval_id
                       FROM (SELECT e.doc_id, e.g FROM ee e JOIN qf ON qf.doc_id = e.doc_id) tr
                       JOIN (SELECT doc_id, g FROM ee WHERE doc_id % 7 = 0) ev
                         ON tr.g = ev.g
                       GROUP BY 1, 2 HAVING count(*) >= 3)),
            clean AS (SELECT qf.* FROM qf
                      WHERE doc_id NOT IN (SELECT doc_id FROM flag))
        SELECT doc_id, source, score,
               CAST(instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1 AS BIGINT) AS shard,
               row_number() OVER (PARTITION BY substring(md5(text), 1, 1)
                 ORDER BY md5(text), doc_id) AS pos
        FROM clean ORDER BY shard, pos"""
  }

  /** The word-3-gram hashed-shingle table — the ENTIRE shingle family's
    * shared upstream scan (x07/x08/x36 pair mining, x59 novelty, x72
    * calibration, and the pair-set consumers behind them): tokenize + hash
    * once, persist, fan out. Sharing the INPUT frame is orthogonal to the
    * never-share-across-algorithm-variants rule — each variant still runs
    * its own candidate generation and verification over it. */
  private[queries] def shinglesShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "hashed-shingles-n3")(
      Dedup.hashedShingles(Tables.documents(s, d), "text", "doc_id", n = 3))

  /** x194 (catalog row) and x198b (approx-bound gate): ONE exact lineitem
    * profile — the gate compares the approx pass against the very rows
    * x194 reports (the cmsShared relationship), so it never recomputes
    * the exact distinct pass. */
  private[queries] def profileShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "lineitem-profile-exact")(
      graft.ext.Audit.profile(Tables.lineitem(s, d)))

  /** x198 (catalog row) and x198b (gate): ONE single-scan approx profile
    * of lineitem at the catalog rsd. */
  private[queries] def approxProfileShared(s: SparkSession,
                                           d: String): DataFrame =
    sharedFrame(s, d, "lineitem-profile-approx")(
      graft.ext.Audit.approxProfile(Tables.lineitem(s, d), rsd = 0.05))

  /** x186 (catalog row) and x186b (stream-parity gate): ONE mined
    * containment pair set at threshold 0.9 — the gate asserts the flagger
    * reproduces the very pair set x186 reports (the cmsShared
    * relationship: sharing IS the contract), so the gate never re-mines.
    * x187 still derives the same set via its own prefix algorithm — the
    * never-share-across-algorithm-variants rule applies to it, not here. */
  private[queries] def containmentPairsShared(s: SparkSession,
                                              d: String): DataFrame =
    sharedFrame(s, d, "containment-pairs-t09")(
      Dedup.containmentPairsOf(shinglesShared(s, d), threshold = 0.9))

  /** x73 (catalog entry) and x80 (export round-trip): ONE persisted run of
    * the curation pipeline — the export query's cost is the write+read
    * round-trip, not a second execution of the whole upstream. */
  private[queries] def curationShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "x73-curation")(curationPipeline(s, d))

  /** x92 (unigram log-prob), x93 (TF-IDF), x95 (vocab coverage), x102
    * (Zipf slope) and x103 (bigram vocab size): ONE exploded
    * (doc_id, source, tok) frame — x92 alone consumes it twice (vocab
    * aggregate + score join), x93 three times (tf, df, doc count).
    * Input-frame sharing, same as [[shinglesShared]] — orthogonal to the
    * never-share-across-algorithm-variants rule. */
  private[queries] def tokensShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "tokens-exploded")(
      graft.ext.Par.fanOutScan(Tables.documents(s, d), col("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok")))

  /** x103 (bigram log-prob) and x104 (conditional bigram entropy): ONE
    * exploded (doc_id, source, w1, w2) adjacent-pair frame — the bigram
    * explode is the corpus-sized pass, so the two consumers share it the
    * way x92/x93 share [[tokensShared]]. Single-token docs contribute no
    * rows (both consumers treat them as out of domain, like blank docs
    * in x92). */
  private[queries] def bigramsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "bigrams-exploded")(
      graft.ext.Par.fanOutScan(Tables.documents(s, d), col("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(expr(
            """transform(sequence(0, size(t) - 2),
                         i -> struct(t[i] AS w1, t[i + 1] AS w2))"""))
            .as("b"))
        .select(col("doc_id"), col("source"),
          col("b.w1").as("w1"), col("b.w2").as("w2")))

  /** DuckDB translation of [[TextAnalysis.langGuess]]: per-profile stopword
    * hit counts and the greatest/alphabetical-tie-break CASE fold — shared
    * by the x04 and x115 oracles so the two gates cannot drift from each
    * other (or from a langProfiles edit). */
  private[queries] def oracleLangHits(textExpr: String): Seq[(String, String)] =
    TextAnalysis.langProfiles.map { case (code, words) =>
      code ->
        s"len(regexp_extract_all(lower($textExpr), '\\b(${words.mkString("|")})\\b'))"
    }
  private[queries] def oracleLangCase(textExpr: String): String = {
    val hits = oracleLangHits(textExpr)
    val best = hits.map(_._2).mkString("greatest(", ", ", ")")
    hits.init.reverse.foldLeft(s"'${hits.last._1}'") {
      case (acc, (code, e)) => s"CASE WHEN $e = $best THEN '$code' ELSE $acc END"
    }
  }

  /** x110 (Heaps curve) and x112 (source Jaccard): ONE exploded
    * (doc_id, source, tri) word-trigram frame — the trigram explode is
    * the corpus-sized pass, so the two consumers share it the way
    * x92/x93 share [[tokensShared]] (the superset rule: each consumer
    * projects the columns it needs). */
  /** x112 (catalog row) and x151b (sketch-accuracy gate): the EXACT
    * per-source-pair shingle Jaccard — full distinct-(source, trigram)
    * postings self-join. Shared as a FRAME (r21): the self-join is the
    * family's corpus-sized pass and its output is |sources|²/2 rows, so
    * the two consumers read a tiny cached table instead of re-mining —
    * same input-frame-sharing discipline as [[shinglesShared]], with the
    * build timed under its own `frame:` key. */
  private[queries] def sourceShingleJaccard(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "src-tri-jacc-exact") {
      val g = trigramsShared(s, d)
        .select(col("source"), col("tri").as("sh"))
        .distinct()
      val n = g.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      g.select(col("source").as("source_a"), col("sh"))
        .join(g.select(col("source").as("source_b"), col("sh")), "sh")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("inter"))
        .join(n.select(col("source").as("source_a"), col("ns").as("n_a")),
          "source_a")
        .join(n.select(col("source").as("source_b"), col("ns").as("n_b")),
          "source_b")
        .select(col("source_a"), col("source_b"), col("inter"),
          col("n_a"), col("n_b"),
          expr("inter * 1000000 div (n_a + n_b - inter)").as("jacc_ppm"))
    }

  /** x151 (estimator row) and x151b (gate): per-source BOTTOM-K minhash
    * sketches (k = 256 smallest md5-48 trigram hashes — deterministic AND
    * engine-portable, so even the "approximate" path hash-matches its
    * oracle) and the standard single-sketch pairwise Jaccard estimate:
    * rank the UNION of two sketches, keep the k smallest, estimate
    * J ≈ |kept ∩ both| / k_used with k_used = min(k, |union|). The scale
    * answer to x112's full postings self-join: per-source state is k
    * 8-byte hashes (mergeable — bottom-k of a union is the bottom-k of
    * concatenated sketches), pair estimates run on k-row frames, and the
    * sources×sources pair seed is a broadcast nested loop over the tiny
    * source list (the x53 deliberate-bounded shape). */
  private[queries] def sourceSketchJaccard(s: SparkSession, d: String): DataFrame =
    graft.ext.Sketch.pairEstimates(sketchesShared(s, d))

  /** Corpus lexical postings — (doc_id, tok, tf, df, cf, dl) — shared by
    * x127, x128, x130, x132 (BM25, via df) and x147, x152 (QL, via cf)
    * (r21): the postings build is the family's one corpus tokenize + two
    * aggregates, and every consumer's scoring is a filter/join over it,
    * so the six queries read ONE cached table where each previously
    * re-tokenized the corpus (x132's three postings references relied on
    * runtime exchange reuse; now they are cache scans in the static
    * plan). Selection-identical to the per-query builds — see
    * Retrieval.bm25Of/qlTopKOf. The one-row stats recompute from the
    * cached postings per consumer (Retrieval.statsOfPostings). */
  private[queries] def bm25PostingsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "lex-postings")(
      Retrieval.bm25Postings(Tables.documents(s, d))._1)

  /** Per-source bottom-k sketch frame (|sources| × k rows of 8-byte
    * hashes) shared by x151 and x151b. Without the cache every one of
    * [[graft.ext.Sketch.estimates]]'s FOUR references to the sketch frame
    * (pair seed left/right, contribution union left/right) re-ran the
    * corpus-sized distinct + md5 + bottom-k window chain — the x151 plan
    * carried 4 copies of the sketch subtree (48 Exchanges, r21 measured
    * x151 4.4 s / x151b 6.3 s scoped); on the cached form the estimate
    * math runs on k-row frames, which is the operator's whole scale
    * story anyway (the sketch IS the persistent artifact at 100 TB). */
  private[queries] def sketchesShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "src-sketch-k256")(
      graft.ext.Sketch.sketches(
        trigramsShared(s, d).select(col("source"), col("tri"))))

  /** Shared CTE prefix of the x151/x151b oracles: distinct per-source
    * trigram hashes, bottom-256 sketches, per-pair union ranking and the
    * estimate — mirrors [[sourceSketchJaccard]] exactly. */
  private[queries] val sketchJaccOracle =
    """WITH t AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
                  FROM documents WHERE length(trim(text)) > 0),
          g0 AS (SELECT DISTINCT source,
                   toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS sh
                 FROM t, unnest(range(0, len(toks) - 2)) AS u(i)
                 WHERE len(toks) >= 3),
          g AS (SELECT DISTINCT source,
                  ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h FROM g0),
          bk AS (SELECT source, h FROM (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS r
                 FROM g) WHERE r <= 256),
          srcs AS (SELECT DISTINCT source FROM bk),
          prs AS (SELECT a.source AS sa, b.source AS sb
                  FROM srcs a JOIN srcs b ON a.source < b.source),
          contrib AS (
            SELECT prs.sa, prs.sb, bk.h, 1 AS ia, 0 AS ib
            FROM prs JOIN bk ON bk.source = prs.sa
            UNION ALL
            SELECT prs.sa, prs.sb, bk.h, 0, 1
            FROM prs JOIN bk ON bk.source = prs.sb),
          merged AS (SELECT sa, sb, h, max(ia) AS ia, max(ib) AS ib
                     FROM contrib GROUP BY 1, 2, 3),
          ranked AS (SELECT sa, sb, ia, ib,
                       row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS r
                     FROM merged),
          est AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_used,
                    CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS est_inter
                  FROM ranked WHERE r <= 256 GROUP BY 1, 2)
       """

  private[queries] def trigramsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "trigrams-exploded")(
      graft.ext.Par.fanOutScan(Tables.documents(s, d), col("doc_id"))
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), col("source"),
          explode(expr(
            """transform(sequence(0, size(t) - 3),
                         i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))"""))
            .as("tri")))

  /** x90 (sample) and x91 (quota gate): ONE ranked cell assignment —
    * deterministic k-means cells (k pinned for the fixture; production uses
    * the adaptive k ≈ n/targetCell sizing) joined to quality scores and
    * ranked per cell. The centroids are a shared build of their own
    * (driver-side k×dim doubles, deterministic) so the x91 gate can
    * re-derive cell populations INDEPENDENTLY of this frame's window path. */
  private[queries] def diverseCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    shared(s, d, "diverse-centroids-k16")(
      Ivf.trainCentroidsFromSample(embSampleShared(s, d), k = 16, iters = 2))
  private[queries] def diverseRankedShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "diverse-k16-ranked") {
      val quality = Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"),
          TextAnalysis.qualityScore(col("text")).as("score"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("score").desc, col("vec_id"))
      Ivf.assign(Tables.embeddings(s, d), diverseCentroids(s, d))
        .join(quality, "vec_id")
        .select(col("vec_id"), col("cluster"), col("score"))
        .withColumn("rnk", row_number().over(w))
    }

  /** x07 (pairs) and x25 (clusters): the uncapped exact Jaccard pair set
    * (maxDf disabled — the oracle contract; see the x07 comment). */
  private[queries] def jaccardPairsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "jacc-n3-t06-uncapped")(
      Dedup.ngramJaccardPairsOf(shinglesShared(s, d),
        threshold = 0.6, maxDf = Int.MaxValue))

  /** The exact quadratic baseline mined ONCE at the catalog's LOWEST
    * threshold (0.2, the x49 floor): the same algorithm at 0.35 produces a
    * strict SUBSET (the threshold only filters verified cosines — Spark
    * orders NaN above every double, so degenerate rows survive the filter
    * identically), so every 0.35 consumer derives from this persisted
    * superset by a filter instead of paying a second quadratic pass. */
  private[queries] def cosinePairs02Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cos-t02-exact")(
      Similarity.cosinePairs(Tables.embeddings(s, d), threshold = 0.2))

  /** x11 (pairs), x40/x43 (gate exact sides), x46 (cluster source): the
    * exact cosine-0.35 pair set — a filter over the 0.2 superset. */
  private[queries] def cosinePairs035Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cos-t035-exact")(
      cosinePairs02Shared(s, d).filter(col("cos") >= 0.35))

  /** x25 (clusters) and x65 (source-spread audit): the transitive closure
    * over the uncapped Jaccard pair set. */
  private[queries] def jacClustersShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "jacc-n3-t06-clusters")(
      Dedup.dupClusters(jaccardPairsShared(s, d)))

  /** x46 (clusters) and x61 (purity audit): the transitive closure over the
    * exact cosine pair set — the iterative min-label propagation runs
    * once. */
  private[queries] def embClustersShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cos-t035-clusters")(
      Dedup.dupClusters(cosinePairs035Shared(s, d).select(col("ia"), col("ib"))))

  /** x58's split and x125b's naive side: the per-source md5-order
    * stratified split (integer-arithmetic boundaries — see x58's entry for
    * the float-vs-decimal ceiling rationale). */
  private[queries] def stratifiedSplit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("ok"), col("doc_id"))
    val wn = Window.partitionBy(col("source"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("ok"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .select(col("doc_id"), col("source"),
        when((col("rn") - 1) * 10 < col("n"), lit("test"))
          .when((col("rn") - 1) * 5 < col("n"), lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** x125/x125b: leakage-safe train/val/test assignment — every doc keyed
    * by its near-dup CLUSTER (singletons are their own cluster), the split
    * decided by a uniform hash of the cluster rep (x98's md5-derived-
    * uniform idiom), so an entire cluster lands in ONE split and a
    * near-dup pair can never straddle the train/eval boundary. Scale: one
    * keyed left join against the (dup-sized, persisted) cluster frame,
    * then map-side hashing — no rank window, no global ordering at any
    * corpus size; the trade vs x58 is hash-approximate (not exact-ceil)
    * proportions, which is what cluster atomicity costs. */
  private[queries] def clusterSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(jacClustersShared(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        graft.ext.Curation.hashSplit(col("cluster_rep")).as("split"))

  /** The SRP-banded pair set mined once at 0.2 (candidate generation is
    * threshold-independent — the [[cosinePairs02Shared]] superset rule). */
  private[queries] def srpPairs02Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "srp-t02")(
      Similarity.srpCosinePairs(Tables.embeddings(s, d), threshold = 0.2))

  /** x12 (pairs) and x17's LSH dedup twin: the hyperplane-table LSH pair
    * set at 0.35, mined once (identical knobs in both consumers). */
  private[queries] def lshPairs035Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "lsh-t035")(
      Similarity.lshCosinePairs(Tables.embeddings(s, d), threshold = 0.35))

  /** x39 (pairs) and x40 (gate approx side): filter over the 0.2 superset. */
  private[queries] def srpPairs035Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "srp-t035")(
      srpPairs02Shared(s, d).filter(col("cos") >= 0.35))

  /** x42 (pairs) and x43 (gate approx side). */
  private[queries] def ivfPairs035Shared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "ivf-t035-adaptive")(
      Ivf.ivfCosinePairs(Tables.embeddings(s, d), threshold = 0.35))

  /** x49 (graph) and x51 (gate exact side): rank the shared 0.2 exact pair
    * superset — the quadratic baseline runs once for x11/x40/x43/x46/x49. */
  private[queries] def knnGraphShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "knn-k5-c02-exact")(
      Similarity.knnFromPairs(cosinePairs02Shared(s, d), kTop = 5))

  /** x50 (graph) and x51 (gate approx side): rank the shared SRP 0.2 pair
    * superset — one banded mining pass serves x39/x40/x50/x51. */
  private[queries] def srpKnnGraphShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "knn-k5-c02-srp")(
      Similarity.knnFromPairs(srpPairs02Shared(s, d), kTop = 5))

  /** x53 (retrieval) and x55 (gate exact side). */
  private[queries] def crossTopKShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cross-k3-c02-exact") {
      val emb = Tables.embeddings(s, d)
      Similarity.crossTopK(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), kTop = 3, minCos = 0.2)
    }

  /** x54 (retrieval) and x55 (gate approx side). */
  private[queries] def srpCrossTopKShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cross-k3-c02-srp") {
      val emb = Tables.embeddings(s, d)
      Similarity.srpCrossTopK(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), kTop = 3, minCos = 0.2)
    }

  /** x66 (retrieval) and x67 (gate approx side). */
  private[queries] def ivfCrossTopKShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cross-k3-c02-ivf") {
      val emb = Tables.embeddings(s, d)
      Ivf.ivfCrossTopK(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), kTop = 3, minCos = 0.2)
    }

  /** x116 (merge-pair table) and x117 (iteration 2): the occurrence-
    * weighted token-TYPE vocabulary — the one corpus-sized aggregate of
    * BPE training; every iteration re-derives pair counts from this
    * |V|-row frame, never from the token stream. */
  private[queries] def vocabShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "vocab-counts")(
      tokensShared(s, d).groupBy(col("tok")).agg(count(lit(1)).as("cnt")))

  /** x118 (compressed-domain top-k) and x118b (recall gate): ONE PQ
    * train + encode + ADC scan. m=16 on the 64-dim fixture → 4-dim
    * subspaces, 16-byte codes (16× compression). */
  private[queries] def pqTopKShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pq-topk-q0-m16") {
      val emb = Tables.embeddings(s, d)
      graft.ext.Pq.pqTopK(emb, queryId = 0L, kTop = 10,
        graft.ext.Pq.trainFromSample(embSampleShared(s, d), m = 16, k = 16))
    }

  /** x119 (IVF-PQ retrieval) and x119b (gate approx side). refine=16:
    * ADC shortlist of 48/query, exact re-rank — measured recall 0.93 at
    * sf0.01 (vs 0.24 unrefined), the FAISS IVFPQ+refine operating
    * point. */
  private[queries] def ivfPqCrossTopKShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "cross-k3-c02-ivfpq") {
      val emb = Tables.embeddings(s, d)
      graft.ext.Pq.ivfPqCrossTopK(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), kTop = 3, minCos = 0.2,
        m = 16, k = 16, refine = 16)
    }

  /** x120 (audit table) and x120b (health gate): ONE train + encode +
    * stats aggregate — the gate checks the very figures x120 reports
    * (the x99/x99b relationship). */
  private[queries] def pqStatsShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pq-stats-m16") {
      val emb = Tables.embeddings(s, d)
      graft.ext.Pq.pqStats(emb,
        graft.ext.Pq.trainFromSample(embSampleShared(s, d), m = 16, k = 16))
    }

  /** x121 (merge table), x122 (fertility) and x126 (compression curve):
    * ONE 4-iteration BPE training run, kept as a driver value (merges +
    * curve are tiny local Seqs, not frames). */
  private[queries] def bpeTrainedShared(s: SparkSession, d: String,
                               nMerges: Int = 4): (Seq[String], Seq[Long]) =
    shared(s, d, s"bpe-train-n$nMerges")(
      graft.ext.Bpe.trainWithCurve(Tables.documents(s, d), "text", nMerges))
  private[queries] def bpeMergesShared(s: SparkSession, d: String): Seq[String] =
    bpeTrainedShared(s, d)._1

  /** The ONE seeded driver sample every sample-based training consumes
    * (PCA k16 AND k32, the PQ m16 codebooks, the diverse-subsample
    * centroids): [[graft.ext.Ivf.collectSample]] is a corpus scan, and
    * unshared, each model training would re-run it — five identical scans
    * per catalog pass. A shared driver value, its one-time cost attributed
    * as its own `frame:` tag. */
  private[queries] def embSampleShared(s: SparkSession, d: String,
      cap: Int = graft.ext.Ivf.defaultSampleCap): Array[Array[Double]] =
    shared(s, d, s"emb-sample-n$cap")(
      graft.ext.Ivf.collectSample(Tables.embeddings(s, d), cap))

  /** x123 (projection) and x123b (variance gate): ONE PCA training run
    * (a shared driver value) and ONE projected frame. */
  private[queries] def pcaModelShared(s: SparkSession, d: String,
                             k: Int = 16): graft.ext.Pca.PcaModel =
    shared(s, d, s"pca-model-k$k")(
      graft.ext.Pca.trainFromSample(embSampleShared(s, d), nComponents = k))
  private[queries] def pcaProjShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pca-proj-k16")(
      graft.ext.Pca.project(Tables.embeddings(s, d), pcaModelShared(s, d))
        .select(col("vec_id"), expr("transform(proj, y -> round(y, 6))").as("proj")))

  /** x124 (reranked retrieval) and x124b (recall gate): ONE
    * project → shortlist → exact-rerank run at 32 components. 32, not
    * x123's 16: the x124b-style evaluation run at 16 components scores
    * 1–3/10 on this corpus (near-uniform spectrum — the tail dimensions
    * carry over 60% of the signal), which is precisely the unsafe-
    * reduction verdict this evaluation exists to deliver before a
    * pipeline commits to a reduced-dim index. */
  private[queries] def pcaRerankShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pca-rerank-q0-k32") {
      val emb = Tables.embeddings(s, d)
      val proj = graft.ext.Pca.project(emb, pcaModelShared(s, d, k = 32))
      val q = proj.filter(col("vec_id") === 0L).select(col("proj").as("qp"))
      val shortlist = proj.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (Similarity.dot(col("proj"), col("qp")) /
            (Similarity.norm(col("proj")) * Similarity.norm(col("qp")))).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(40)
        .select(col("vec_id"))
      Similarity.cosineTopKWithin(emb, queryId = 0L, kTop = 10, shortlist)
    }

  /** x161's batch funnel frame, shared with the x161b streaming-parity
    * gate (which must compare against the EXACT batch plan, not a copy
    * that could drift). Unordered; consumers sort. */
  private[queries] def eventFunnelBatch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1_ms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") > col("t1_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t2_ms"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ms") > col("t2_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t3_ms"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_ms"), col("t2_ms"), col("t3_ms"),
        (col("t3_ms").isNotNull &&
          col("t3_ms") - col("t1_ms") <= 86400000L).as("completed_24h"))
  }

  /** x163's per-(from, to) transition counts, shared with the x163b
    * streaming-parity gate (same no-drift rule as [[eventFunnelBatch]]). */
  private[queries] def transitionCountsBatch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** The event stream as driver-side rows in (ms, event_id) order — the
    * ts-ordered delivery both streaming monitors contract on. Bounded by
    * the fixture event table (100 k rows at sf0.1); the gates replay it
    * through a real MemoryStream in uneven chops. A shared driver value:
    * FOUR gates (x161b/x161c/x163b/x163c) replay the same fixture, and
    * re-collecting it per gate was pure repeated scan cost; the one-time
    * collect attributes to the `event-rows` tag like any shared build. */
  private[queries] def orderedEventRows(s: SparkSession, d: String): Seq[(Long, String, Long, Long)] =
    shared(s, d, "event-rows") {
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ms"), col("event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._3, r._4)).toSeq
    }

  /** The x161b/x163b replay harness, defined ONCE: feed the chopped event
    * rows through `monitor` via a real MemoryStream query, collecting
    * every emission decoded by `decode`. One shared lifecycle (foreachBatch
    * accumulator, processAllAvailable per chop, stop in finally) so a fix
    * to one gate's replay cannot silently miss the other. */
  private[queries] def replayMonitor[T: scala.reflect.ClassTag](s: SparkSession,
      chops: Seq[Seq[(Long, String, Long, Long)]],
      monitor: DataFrame => DataFrame)(
      decode: org.apache.spark.sql.Row => T): Seq[T] = {
    // The replay's cost is dominated by per-micro-batch state-store task
    // overhead (a fixed price × shuffle partitions × chops, independent of
    // the fixture's row count) — pin the gate's stateful shuffle to a few
    // partitions so the parity check stays far inside the per-query
    // budget. The override lives on a CLONED session (same SparkContext,
    // isolated SQLConf), so a query running concurrently on the shared
    // session — a parallel bench twin — never sees it. Note newSession()
    // starts from the BASE SparkConf, not the shared session's runtime
    // conf: the replay always runs with the pins below regardless of what
    // the caller set at runtime — deliberate, because these gates check
    // batch-parity SEMANTICS, and e.g. adaptive re-planning only adds
    // per-micro-batch overhead to every state-store round (measured 2×
    // on the 5-chop out-of-order replays under the bench's AQE twin).
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Long)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[T]
    val query = monitor(
        mem.toDF().toDF("user_id", "event_type", "ms", "event_id"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val got = batch.collect().map(decode)
        acc.synchronized { acc ++= got }
        ()
      }
      .outputMode("append").start()
    try chops.foreach { c => mem.addData(c); query.processAllAvailable() }
    finally query.stop()
    acc.toSeq
  }

  /** x178/x179's shared related-packing layout: the multi-member near-dup
    * clusters' cluster-contiguous pack coordinates (capacity 128), every
    * window partitioned by cluster_rep — consumed by the per-doc plan and
    * the segment explode. */
  private[queries] def relatedPlanShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "related-pack-c128") {
      val toks = Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("cluster_rep"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      toks.join(jacClustersShared(s, d), "doc_id")
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("cluster_rep"), col("n_tokens"),
          col("cum_before"),
          expr("cum_before div 128").as("start_seq"),
          pmod(col("cum_before"), lit(128L)).as("start_off"),
          expr("(cum_before + n_tokens - 1) div 128").as("end_seq"))
    }

  /** x166/x167's shared pixel-fingerprint frame: each doc rendered as a
    * REAL 9×8 grayscale PNG (first 72 char codes as luma, cyclic —
    * deterministic and engine-reproducible), pushed through the FULL
    * pixel chain: pngEncode → pngPixels decode → luma → dHash. The
    * oracle recomputes the hash from char codes directly (it never sees a
    * PNG), so a hash-match proves the encode → decode → hash pipeline is
    * pixel-exact — the catalog-level twin of MultimodalSpec's raster
    * round-trip tests. */
  private[queries] def pixelDHashShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "pixel-dhash-9x8") {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            // CODEPOINTS, not UTF-16 units: the oracle indexes with
            // substr/ord (codepoint semantics), and the two diverge on any
            // astral char — cyclic length AND sample values both shift
            val cps = text.codePoints().toArray
            val px = new Array[Byte](72)
            var i = 0
            while (i < 72) {
              px(i) = (cps(i % cps.length) % 256).toByte
              i += 1
            }
            Multimodal.MediaFile(id, "image",
              Multimodal.MediaCodecs.pngEncode(Multimodal.Raster(9, 8, 1, px)),
              Map.empty)
          }
        }
      Multimodal.perceptualHashes(media)
    }

  /** x181/x182's shared video frame-fingerprint frame: each doc rendered
    * as a REAL 2-frame 9×8 uncompressed AVI (frame f's luma = char codes
    * starting at cyclic offset f*72 — frame 0 is exactly x166's image),
    * pushed through the FULL video chain: aviEncode mux → aviFrames
    * container parse → per-frame luma → dHash. The oracle recomputes each
    * frame's hash from char codes directly (it never sees an AVI), so a
    * hash match proves the mux → demux → raster → hash pipeline is
    * pixel-exact — video near-dup on PIXELS, not x31's compressed-byte
    * blocks. */
  private[queries] def videoDHashShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "video-dhash-9x8x2") {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            // codepoint indexing — the pixelDHashShared rationale
            val cps = text.codePoints().toArray
            val frames = (0 until 2).map { f =>
              val px = new Array[Byte](72)
              var i = 0
              while (i < 72) {
                px(i) = (cps((f * 72 + i) % cps.length) % 256).toByte
                i += 1
              }
              Multimodal.Raster(9, 8, 1, px)
            }
            Multimodal.MediaFile(id, "video",
              Multimodal.MediaCodecs.aviEncode(frames), Map.empty)
          }
        }
      Multimodal.videoFrameHashes(media)
    }

  /** x172/x173's shared audio-fingerprint frame — the x166 pattern on the
    * audio axis: each doc rendered as a REAL PCM16 mono WAV (130 samples
    * from char codes, exactly 2 per envelope window), pushed through the
    * full wavEncode → wavSamples parse → energy-envelope fingerprint
    * chain; the oracle recomputes the envelope from char codes without
    * ever seeing a WAV. */
  private[queries] def audioFpShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "audio-fp-130") {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            // codepoint indexing — the pixelDHashShared rationale
            val cps = text.codePoints().toArray
            val sm = new Array[Short](130)
            var i = 0
            while (i < 130) {
              sm(i) = (((cps(i % cps.length) % 256) - 128) * 256).toShort
              i += 1
            }
            Multimodal.MediaFile(id, "audio",
              Multimodal.MediaCodecs.wavEncode(sm), Map.empty)
          }
        }
      Multimodal.audioFingerprints(media)
    }

  /** x168/x168b's shared matryoshka retrieval frame: query vec 0's exact
    * cosine top-10 at each embedding PREFIX length (8/16/32/64 dims) —
    * the MRL truncation evaluation run once, consumed by the ranking
    * report and the overlap verdict. */
  private[queries] def matryoshkaShared(s: SparkSession, d: String): DataFrame =
    sharedFrame(s, d, "matryoshka-topk-q0") {
      val emb = Tables.embeddings(s, d)
      Seq(8, 16, 32, 64).map { m =>
        val e = expr(s"transform(slice(embedding, 1, $m), x -> CAST(x AS DOUBLE))")
        val sliced = emb.filter(col("vec_id") =!= 0L)
          .select(col("vec_id"), e.as("e"))
        val qs = emb.filter(col("vec_id") === 0L).select(e.as("qe"))
        sliced.crossJoin(broadcast(qs))
          .select(lit(m.toLong).as("m"), col("vec_id"),
            round(Similarity.dot(col("e"), col("qe")) /
              (Similarity.norm(col("e")) * Similarity.norm(col("qe"))), 6)
              .as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(10)
      }.reduce(_ unionAll _)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("m"))
            .orderBy(col("cos").desc, col("vec_id"))))
    }

  /** The x121/x122 oracle's shared CTE chain: re-derive `n` BPE merges in
    * pure SQL — the exact recurrence [[graft.ext.Bpe.train]] runs as Spark
    * jobs, unrolled (iteration i: pair counts of s(i-1) → argmax m(i) →
    * replace into s(i)). Ends with vocab symbol frames s0..s(n) and merge
    * CTEs m1..m(n) in scope. */
  private[queries] def bpeOracleCtes(n: Int): String = {
    // wrapped-symbol representation ("·t· ·h· ·e·"): anchors the literal
    // replace to whole-symbol boundaries — see the graft.ext.Bpe scaladoc
    val base =
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                    FROM documents WHERE length(trim(text)) > 0),
              v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
              s0 AS (SELECT cnt, array_to_string(list_transform(
                       range(0, length(tok)),
                       i -> '·' || substr(tok, i + 1, 1) || '·'), ' ') AS sym
                     FROM v)"""
    val iters = (1 to n).map { i =>
      s"""p$i AS (SELECT syms[j + 1] || ' ' || syms[j + 2] AS pair, cnt
                  FROM (SELECT cnt, string_split(sym, ' ') AS syms FROM s${i - 1}),
                       unnest(range(0, len(syms) - 1)) AS u(j)
                  WHERE len(syms) >= 2),
          m$i AS (SELECT pair
                  FROM (SELECT pair, sum(cnt) AS n FROM p$i GROUP BY pair)
                  ORDER BY n DESC, replace(pair, '·', '') LIMIT 1),
          s$i AS (SELECT cnt, replace(sym,
                    coalesce((SELECT pair FROM m$i), chr(1)),
                    coalesce((SELECT replace(pair, '· ·', '') FROM m$i), '')) AS sym
                  FROM s${i - 1})"""
    }
    (base +: iters).mkString(",\n")
  }

  /** Shared CTE prefix of the x144/x145 stitch oracles: per-doc k-token
    * head/tail strings (k = 3, proper prefix/suffix only), 48-bit
    * md5-derived keys (bit-identical to Spark's conv(substring(md5,1,12),
    * 16,10)), and the per-side df ≤ 16 cap. */
  private[queries] val stitchPairsOracle =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                  FROM documents WHERE length(trim(text)) > 0),
            e AS (SELECT doc_id,
                    array_to_string(toks[1:3], ' ') AS head,
                    array_to_string(toks[(len(toks)-2):len(toks)], ' ') AS tail
                  FROM t WHERE len(toks) > 3),
            tl AS (SELECT doc_id, tail AS ov,
                     ('0x' || substr(md5(tail), 1, 12))::BIGINT AS h FROM e),
            hd AS (SELECT doc_id, head AS ov,
                     ('0x' || substr(md5(head), 1, 12))::BIGINT AS h FROM e),
            tk AS (SELECT tl.* FROM tl JOIN (SELECT h FROM tl GROUP BY h
                     HAVING count(*) <= 16) ct USING (h)),
            hk AS (SELECT hd.* FROM hd JOIN (SELECT h FROM hd GROUP BY h
                     HAVING count(*) <= 16) ch USING (h))
       """
}
