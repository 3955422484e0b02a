package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exactDedup keeps the minimum id per distinct content") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exactDedup(d, "text", "doc_id")
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (3L, 1L)))
  }

  test("ngramJaccardPairs: identical docs give jacc 1.0, disjoint give no pair") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now today"))
    val got = Dedup.ngramJaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 2L, 1.0)))
  }

  test("minHashLshPairs finds every pair the exact shingle join finds (recall 1 on near-dups)") {
    // near-duplicates: one word changed out of 12 => high shingle jaccard
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val d = docs(
      (1L, base),
      (2L, base.replace("w7", "zz")),
      (3L, base),
      (4L, "unrelated totally other content with many different words"))
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(d, "text", "doc_id", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("minhash jaccard values equal the exact computation on candidates") {
    val base = "a b c d e f g h i j k l m n o p"
    val d = docs((1L, base), (2L, base + " q"), (3L, base))
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.minHashLshPairs(d, "text", "doc_id", 3, 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(lsh === exact)
  }

  test("simHash: identical docs collide; near-identical docs are hamming-close") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, base),
      (2L, base),
      (3L, base.replace("tok15", "changed")),
      (4L, (100 to 130).map(i => s"other$i").mkString(" ")))
    val sigs = Dedup.simHash(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sigs(1L) === sigs(2L))
    assert(hamming(sigs(1L), sigs(3L)) <= 12, s"near-dup hamming ${hamming(sigs(1L), sigs(3L))}")
    assert(hamming(sigs(1L), sigs(4L)) > 12, s"unrelated hamming ${hamming(sigs(1L), sigs(4L))}")
  }

  test("containmentPairs mines excerpts symmetric Jaccard is blind to") {
    val long = (1 to 300).map(i => s"tok$i").mkString(" ")
    val excerpt = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (500 to 560).map(i => s"alien$i").mkString(" ")
    val d = docs((1L, long), (2L, excerpt), (3L, other))
    // the excerpt's shingles are all inside the long doc: containment 1.0
    val cont = Dedup.containmentPairs(d, "text", "doc_id", 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont === Seq((1L, 2L, 1.0)))
    // Jaccard at the x07 threshold never surfaces the pair (≈ 28/298)
    assert(Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, threshold = 0.6)
      .count() === 0L)
    // threshold is respected: a half-contained doc stays out at 0.9
    val half = ((1 to 15).map(i => s"tok$i") ++ (900 to 915).map(i => s"new$i"))
      .mkString(" ")
    val d2 = docs((1L, long), (2L, half))
    assert(Dedup.containmentPairs(d2, "text", "doc_id", 3, threshold = 0.9)
      .count() === 0L)
    assert(Dedup.containmentPairs(d2, "text", "doc_id", 3, threshold = 0.4)
      .count() === 1L)
  }

  test("containmentPairsPrefix equals the full postings join, excerpts included") {
    val docs3 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (tau <- Seq(0.9, 0.6)) {
      val full = pairSet(Dedup.containmentPairs(docs3, "text", "doc_id", 3, tau))
      val pref = pairSet(Dedup.containmentPairsPrefix(docs3, "text", "doc_id", 3, tau))
      assert(pref === full, s"prefix containment diverged at tau=$tau")
    }
    // the excerpt case survives the prefix filter: the smaller side's
    // rarest-prefix must hit the host even though the host's own prefix
    // misses the excerpt
    val long = (1 to 300).map(i => s"tok$i").mkString(" ")
    val excerpt = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs((1L, long), (2L, excerpt))
    assert(pairSet(Dedup.containmentPairsPrefix(d, "text", "doc_id", 3, 0.9))
      === Set((1L, 2L, 1.0)))
  }

  test("containmentFlagger: corpus-self ≡ x186 pairs; one saved index serves both scores") {
    val docs3 = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // corpus-self flagging (minus self rows) reproduces exactly the x186
    // miner's pair membership at the same threshold
    val wantPairs = Dedup.containmentPairs(docs3, "text", "doc_id", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flag = Dedup.containmentFlagger(docs3, "text", "doc_id", 3, 0.9)
    try {
      val self = flag(docs3).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      assert(self === wantPairs)
      assert(wantPairs.nonEmpty, "fixture has no containment pairs to pin")
    } finally flag.close()
    // the SAME saveNearDupIndex directory serves the containment probe:
    // reload with a containment threshold, identical flags
    val dir = java.nio.file.Files.createTempDirectory("cont-idx").toString
    try {
      Dedup.saveNearDupIndex(docs3, dir, n = 3, threshold = 0.8)
      val loaded = Dedup.loadContainmentFlagger(spark, dir, threshold = 0.9)
      try {
        val viaDisk = loaded(docs3).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .filter { case (a, b) => a != b }
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
        assert(viaDisk === wantPairs)
        // and the Jaccard flagger still reads the same index unchanged
        val jacc = Dedup.loadNearDupFlagger(spark, dir)
        try assert(jacc(docs3).filter(col("doc_id") =!= col("ref_id")).count() >= 0L)
        finally jacc.close()
      } finally loaded.close()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("postingsDfStats reports what a maxDf cap drops") {
    val d = docs((1L to 100L).map(i => (i, "same boilerplate text repeated in every doc")): _*)
    val row = Dedup.postingsDfStats(d, "text", "doc_id", 3, maxDf = 10).head()
    // 5 distinct trigrams, each in all 100 docs: every posting is over a
    // cap of 10 and the audit must say so
    assert(row.getLong(0) === 5L, "n_shingles")
    assert(row.getLong(1) === 100L, "max_df")
    assert(row.getLong(2) === 5L, "n_over_cap")
    // and with the cap above the df, nothing would drop
    val ok = Dedup.postingsDfStats(d, "text", "doc_id", 3, maxDf = 100).head()
    assert(ok.getLong(2) === 0L)
  }

  test("maxDf cap bounds a pathological corpus of identical docs") {
    // 1000 identical docs: every shingle's posting holds all 1000 ids, so an
    // uncapped join would emit ~500k pairs per shingle. With maxDf=50 the
    // postings (and LSH buckets) are dropped and the op completes empty.
    val d = docs((1L to 1000L).map(i => (i, "same boilerplate text repeated in every doc")): _*)
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.5, maxDf = 50)
    assert(exact.count() === 0L)
    val lsh = Dedup.minHashLshPairs(d, "text", "doc_id", 3, 0.5, maxDf = 50)
    assert(lsh.count() === 0L)
    // and with the cap above the corpus size the pairs come back
    val uncapped = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, 0.5, maxDf = 1000)
    assert(uncapped.count() === 1000L * 999L / 2)
  }

  test("x08's corpus-adaptive df cap (max(64, n/10)) is not binding on the fixtures") {
    // The catalog x08 entry runs capped at max(64, n/10) while keeping the
    // exact uncapped oracle contract — valid only while no fixture shingle
    // df (and hence no LSH bucket) reaches the cap. Pin that invariant at
    // every fixture SF, and pin pair-set equality capped-vs-uncapped where
    // the corpus is small enough to verify cheaply.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = graft.Tables.documents(spark, s"/root/testdata/$sf")
      // n here = document count, which equals the catalog's
      // shinglesShared.count() (hashedShingles emits exactly ONE row per
      // doc — shingles are an array column), so this pins the same cap
      // value x08 actually runs with
      val n = d.count()
      val cap = math.max(64L, n / 10L).toInt
      val audit = Dedup.postingsDfStats(d, "text", "doc_id", 3, maxDf = cap).head()
      assert(audit.getLong(2) === 0L,
        s"$sf: ${audit.getLong(2)} shingles over cap $cap (max_df ${audit.getLong(1)})")
      assert(audit.getLong(1) < cap,
        s"$sf: max_df ${audit.getLong(1)} too close to cap $cap")
    }
    val small = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val cap = math.max(64L, small.count() / 10L).toInt
    val capped = Dedup.minHashLshPairs(small, "text", "doc_id", 3, 0.6, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = Dedup.minHashLshPairs(small, "text", "doc_id", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("prefix filtering keeps a boilerplate corpus linear without losing pairs") {
    // Pathological corpus for the postings path: every doc shares a 12-token
    // license header (df = corpus for every header shingle), plus unique
    // content; docs 1 and 2 are true near-dups of each other.
    // Prefix math: n_sh ≈ 25 shingles/doc, threshold 0.5 → prefix keeps the
    // 13 rarest — the ≥15 df=1 content shingles fill it, so the df=200
    // header shingles are never indexed.
    val header = "licensed under the apache license version two point zero see notice file"
    val payload = "payload alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    val d = docs(((1L to 200L).map { i =>
      val text =
        if (i == 1L) s"$header $payload one"
        else if (i == 2L) s"$header $payload two"
        else s"$header " + ('a' to 'o').map(c => s"unique$i$c").mkString(" ")
      (i, text)
    }): _*)
    val threshold = 0.5
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.ngramJaccardPairsPrefix(d, "text", "doc_id", 3, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exact AND boilerplate-proof: identical result set, no cap involved
    assert(prefix === exact)
    assert(exact.contains((1L, 2L, exact.find(p => p._1 == 1L && p._2 == 2L).get._3)))
    // the audit shows the collapse: full postings are quadratic in the
    // header's df (~200^2/2 per header shingle); the rarest-first prefix
    // index stays linear in the corpus
    val stats = Dedup.prefixCandidateStats(d, "text", "doc_id", 3, threshold).head()
    val full = stats.getAs[Long]("full_candidates")
    val pref = stats.getAs[Long]("prefix_candidates")
    assert(full > 100000L, s"expected quadratic full postings, got $full")
    assert(pref <= 3 * 200L, s"prefix candidates not linear: $pref")
  }

  test("embeddingDedup approx path recalls most exact-survivor decisions") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.embeddingDedup(emb, 0.35)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.embeddingDedup(emb, 0.35, approx = true)
      .collect().map(_.getLong(0)).toSet
    // LSH misses pairs, never invents them => approx keeps a superset
    assert(exact.subsetOf(approx))
    val removedExact = emb.count().toInt - exact.size
    val removedApprox = emb.count().toInt - approx.size
    assert(removedExact > 0)
    assert(removedApprox.toDouble / removedExact >= 0.5,
      s"approx dedup removed only $removedApprox of $removedExact")
  }

  test("bloomContamination flags a superset of the exact bipartite scan") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val train = docs(
      (1L, shared),                                        // heavy overlap
      (2L, "t1 t2 " + shared.split(" ").take(5).mkString(" ")), // 3 shared shingles
      (3L, "clean content with no overlap at all here"))
    val ev = docs((100L, shared + " extra tail words"))
    val exact = Dedup.contaminationPairs(train, ev, "text", "doc_id", 3, 3L)
      .select("train_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.bloomContamination(train, ev, "text", "doc_id", 3, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact.nonEmpty)
    assert(exact.subsetOf(bloom.keySet))
    // corpus-level maybe-counts dominate the per-eval-doc exact counts
    // (no false negatives: every truly shared shingle hits the filter)
    val exactCounts = Dedup.contaminationPairs(train, ev, "text", "doc_id", 3, 1L)
      .groupBy("train_id").agg(max("n_shared").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exactCounts.filter(_._2 >= 3L).foreach { case (id, m) =>
      assert(bloom.getOrElse(id, 0L) >= m)
    }
  }

  test("bloomContamination on an empty eval corpus flags nothing") {
    val train = docs((1L, "a b c d e f"))
    val ev = docs()
    val got = Dedup.bloomContamination(train, ev, "text", "doc_id", 3, 1L)
    assert(got.count() === 0L)
    assert(got.columns.toSeq === Seq("doc_id", "n_maybe_shared"))
  }

  test("bloomContamination never misses at tight fpp and stays deterministic") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val train = docs((1L, base), (2L, base.replace("w20", "zz")),
      (3L, "other unrelated words entirely different from the rest"))
    val ev = docs((9L, base))
    val a = Dedup.bloomContamination(train, ev, "text", "doc_id", 3, 3L, fpp = 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.bloomContamination(train, ev, "text", "doc_id", 3, 3L, fpp = 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b) // fixed-seed hashing + literal sizing => reproducible
    assert(a.map(_._1).contains(1L))
  }

  test("dupClusters closes chains transitively and keeps components apart") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (diameter 3) plus separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("ia", "ib")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters matches brute-force union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 2 + rnd.nextInt(25)
      val edges = (0 until n).flatMap { _ =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
      }.distinct
      if (edges.nonEmpty) {
        // brute force: union-find with min-id representative
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.map(v => v -> find(v)).toMap
        // local union-find tier (default cap)
        val got = Dedup.dupClusters(edges.toDF("ia", "ib"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"edges=$edges")
        // distributed propagation tier (cap disabled) must agree exactly
        val gotDist = Dedup.dupClusters(edges.toDF("ia", "ib"), localEdgeCap = 0)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotDist === expected, s"distributed tier diverged: edges=$edges")
      }
    }
  }

  test("dupClusters output schema is tier-invariant for int pair ids") {
    import spark.implicits._
    // int-typed input: both tiers must long-cast at the top, so downstream
    // joins/unions see one schema regardless of which tier fired
    val intPairs = Seq((1, 2), (2, 3)).toDF("ia", "ib")
    for (cap <- Seq(1 << 20, 0)) {
      val out = Dedup.dupClusters(intPairs, localEdgeCap = cap)
      assert(out.schema.map(_.dataType.simpleString) === Seq("bigint", "bigint"),
        s"cap=$cap")
      assert(out.columns.toSeq === Seq("doc_id", "cluster_rep"))
    }
  }

  test("contaminationPairs finds cross-split leaks and counts shared shingles") {
    val train = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training material right here"))
    val eval_ = docs(
      (10L, "the quick brown fox jumps somewhere else today"),  // shares 3 trigrams with 1
      (11L, "nothing in common with anything at all"))
    val got = Dedup.contaminationPairs(train, eval_, "text", "doc_id", 3, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 10L, 3L)))
    // raising the floor above the overlap empties the report
    assert(Dedup.contaminationPairs(train, eval_, "text", "doc_id", 3, minShared = 4L)
      .count() === 0L)
  }

  test("shingleArray guards docs shorter than n tokens") {
    import spark.implicits._
    val got = docs((1L, "only two"), (2L, "one"), (3L, ""))
      .select(Dedup.shingleArray(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(got.forall(_.isEmpty))
  }

  test("incrementalDedup matches brute-force token-set dedup on random corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d") // tiny vocab forces set collisions
    def randDoc(): String =
      Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (_ <- 1 to 3) {
      val corpusRows = (1L to 8L).map(i => (i, randDoc()))
      val batchRows = (101L to 112L).map(i => (i, randDoc()))
      def bag(t: String): Set[String] = t.split("\\s+").toSet
      val corpusBags = corpusRows.map(r => bag(r._2)).toSet
      val want = batchRows.map { case (id, t) =>
        val b = bag(t)
        val status =
          if (corpusBags(b)) "dup_corpus"
          else if (batchRows.exists(o => o._1 < id && bag(o._2) == b)) "dup_batch"
          else "kept"
        (id, status)
      }
      val got = Dedup.incrementalDedup(
          docs(batchRows: _*), docs(corpusRows: _*), "text", "doc_id")
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === want, s"corpus=$corpusRows batch=$batchRows")
    }
  }

  test("incrementalDedup labels corpus dups, batch dups, and keeps the rest") {
    val corpus = docs(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"))
    val batch = docs(
      (10L, "gamma beta alpha"),        // token set == corpus doc 1 → dup_corpus
      (11L, "eta theta iota"),          // fresh → kept
      (12L, "iota eta theta"),          // same set as 11, later id → dup_batch
      (13L, "kappa lambda mu"))         // fresh → kept
    val got = Dedup.incrementalDedup(batch, corpus, "text", "doc_id")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq(
      (10L, "dup_corpus"), (11L, "kept"), (12L, "dup_batch"), (13L, "kept")))
  }

  test("contaminationFraction matches brute-force trigram overlap") {
    val train = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training material right here"),
      (3L, "the quick brown fox sat still"),
      (4L, "too short"))
    val eval_ = docs(
      (10L, "the quick brown fox jumps somewhere else today"),
      (11L, "nothing in common with anything at all"))
    def tri(t: String): Set[String] =
      t.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val evalSh = Set(
      "the quick brown fox jumps somewhere else today",
      "nothing in common with anything at all").flatMap(tri)
    val want = Seq(
      "the quick brown fox jumps over the lazy dog",
      "completely unrelated training material right here",
      "the quick brown fox sat still").zip(Seq(1L, 2L, 3L)).map { case (t, id) =>
      val sh = tri(t)
      (id, sh.size.toLong, sh.count(evalSh).toLong)
    }.map { case (id, n, s) =>
      (id, n, s, BigDecimal(s.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Dedup.contaminationFraction(train, eval_, "text", "doc_id", 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === want)
    // a doc with < n tokens has no shingles and must not appear (no 0/0 row)
    assert(!got.exists(_._1 == 4L))
  }

  test("round-9 dedup operators stay total on an empty corpus") {
    val empty = docs().filter(col("doc_id") > 0)
    assert(Dedup.simHashNearDupPairs(empty).count() === 0L)
    val gate = Dedup.simHashBandCompletenessGate(empty).collect()(0)
    assert(gate.getLong(0) === 0L && gate.getBoolean(1))
    val sf = Dedup.simHashFlagger(empty)
    try assert(sf(docs(1L -> "a b c")).count() === 0L)
    finally sf.close()
    val ef = Dedup.editDistFlagger(empty)
    try {
      val r = ef(docs(1L -> "some text")).collect()
      assert(r.length === 1 && !r(0).getBoolean(3))
    } finally ef.close()
  }

  test("simHashNearDupPairs pairs twins at distance 0 and leaves strangers unpaired") {
    val base = (1 to 60).map(i => s"w${i % 23}").mkString(" ")
    val other = (1 to 60).map(i => s"z${i * 7 % 41}").mkString(" ")
    val got = Dedup.simHashNearDupPairs(docs(
      1L -> base, 2L -> base,          // exact twins: Hamming 0
      3L -> other))                    // disjoint vocab: far away
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 2L, 0L)))
    // the completeness gate agrees with brute force on real data
    val gate = Dedup.simHashBandCompletenessGate(
      graft.Tables.documents(spark, "/root/testdata/sf0.001")).collect()(0)
    assert(gate.getBoolean(1), "banded pairs diverged from brute force")
  }

  test("simHashFlagger corpus-self flagging reproduces x111 pair membership") {
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
    val pairs = Dedup.simHashNearDupPairs(all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs.nonEmpty, "fixture must contain simhash near-dups")
    // each unordered pair appears in BOTH directions of the flagger output
    val expected = pairs.flatMap(p =>
      Seq((p._1, p._2, p._3), (p._2, p._1, p._3))).sorted
    val flag = Dedup.simHashFlagger(all)
    try {
      val got = flag(all).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got === expected)
    } finally flag.close()
  }

  test("saved near-dup index reloads to a flagger identical to the in-memory build") {
    val ref = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    val mem = Dedup.nearDupFlagger(ref, "text", "doc_id", n = 3, threshold = 0.6)
    try {
      Dedup.saveNearDupIndex(ref, dir, n = 3, threshold = 0.6)
      val loaded = Dedup.loadNearDupFlagger(spark, dir)
      try {
        val probe = ref.limit(50)
        val want = mem(probe).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
        val got = loaded(probe).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
        assert(want.nonEmpty, "fixture probe must flag at least one near-dup")
        assert(got === want)
      } finally loaded.close()
      // empty reference round-trips schema-complete
      val emptyDir = java.nio.file.Files.createTempDirectory("ndidx0").toString
      Dedup.saveNearDupIndex(ref.limit(0), emptyDir, n = 3, threshold = 0.6)
      val emptyFlag = Dedup.loadNearDupFlagger(spark, emptyDir)
      try assert(emptyFlag(ref.limit(5)).count() === 0L)
      finally {
        emptyFlag.close()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(emptyDir))
      }
    } finally {
      mem.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("editDistFlagger flags typo dups against the frozen corpus, excluding self") {
    val base = "the quick brown fox jumps over the lazy dog today ok"
    val corpus = docs(1L -> base, 2L -> ("zz completely unrelated text " * 3))
    val flag = Dedup.editDistFlagger(corpus)
    try {
      val byId = flag(docs(
        10L -> base.replace("quick", "qwick"),           // 1 edit in the head
        11L -> ("aa " * 30).trim))                       // nothing nearby
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))).toMap
      assert(byId(10L) === ((1L, 1L, true)))
      assert(byId(11L) === ((0L, -1L, false)))
      // self-exclusion: the corpus doc itself is clean against the corpus
      val self = flag(docs(1L -> base)).collect()
      assert(self.length === 1 && !self(0).getBoolean(3))
    } finally flag.close()
  }

  test("editDistFlagger corpus-self flagging reproduces x101 pair membership") {
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
    val pairs = graft.SparkEntry.queries("x101_editdist_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // expected per-doc neighbor count and min dist from the pair list
    val neigh = pairs.flatMap(p => Seq(p._1 -> p._3, p._2 -> p._3))
      .groupBy(_._1).map { case (id, ds) => id -> (ds.length.toLong, ds.map(_._2).min) }
    val flag = Dedup.editDistFlagger(all)
    try {
      val got = flag(all).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      got.foreach { case (id, n, md, dup) =>
        neigh.get(id) match {
          case Some((en, emd)) => assert(dup && n === en && md === emd, s"doc $id")
          case None => assert(!dup && n === 0L && md === -1L, s"doc $id")
        }
      }
      assert(got.count(_._4) === neigh.size)
    } finally flag.close()
  }

  test("grouped editDistPairs equals ungrouped pairs restricted to same-group") {
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
    val src = all.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ungrouped = Dedup.editDistPairs(all)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ungrouped.filter(p => src(p._1) == src(p._2)).toSet
    val grouped = Dedup.editDistPairs(all, groupCols = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // within-group pair sets are identical — grouping only removes the
    // cross-group candidates (the scale lever), never a same-group pair
    assert(expected.nonEmpty, "fixture must contain same-source typo dups")
    assert(ungrouped.length > expected.size,
      "fixture must contain cross-source typo dups for the restriction to bite")
    assert(grouped === expected)
  }

  test("mining postings shuffles are user-pinned so AQE cannot coalesce them") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // the SOAK-measured AQE lever as default behavior: the shuffle feeding
    // the pair explosion/verification stage must be a user-NUMBERED
    // repartition (REPARTITION_BY_NUM), which AQE's partition coalescing
    // skips — byte-sized coalescing starved exactly that stage at 10x
    val miners = Seq(
      "jaccard" -> Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.6),
      "prefix" -> Dedup.ngramJaccardPairsPrefix(docs, "text", "doc_id", 3, 0.8),
      "lsh" -> Dedup.minHashLshPairs(docs, "text", "doc_id", 3, 0.6),
      "containment" ->
        Dedup.containmentPairsPrefix(docs, "text", "doc_id", 3, 0.9))
    miners.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$name miner lost its pinned postings shuffle:\n${p.take(1500)}")
    }
  }

  test("grouped editDist paths refuse null group keys loudly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", "the quick brown fox"),
      (2L, null.asInstanceOf[String], "the quick brown fox!"),
      (3L, "alpha", "the quick brown fox?"))
      .toDF("doc_id", "source", "text")
    // null-group rows would match NOTHING in the inner band join and
    // silently escape dedup — both entry points refuse up front instead
    val e1 = intercept[IllegalArgumentException](
      Dedup.editDistPairs(docs, groupCols = Seq("source")))
    assert(e1.getMessage.contains("editDistPairs") &&
      e1.getMessage.contains("null"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.editDistFlagger(docs, groupCols = Seq("source")))
    assert(e2.getMessage.contains("editDistFlagger"))
    // clean groups still build and pair as before
    val clean = docs.filter(col("source").isNotNull)
    assert(Dedup.editDistPairs(clean, groupCols = Seq("source"))
      .count() === 1L)
  }

  test("grouped editDistFlagger matches the grouped pair set on corpus-self") {
    val d = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, d)
    val pairs = Dedup.editDistPairs(all, groupCols = Seq("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val neigh = pairs.flatMap(p => Seq(p._1 -> p._3, p._2 -> p._3))
      .groupBy(_._1)
      .map { case (id, ds) => id -> (ds.length.toLong, ds.map(_._2).min) }
    val flag = Dedup.editDistFlagger(all, groupCols = Seq("source"))
    try {
      val got = flag(all).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      got.foreach { case (id, n, md, dup) =>
        neigh.get(id) match {
          case Some((en, emd)) => assert(dup && n === en && md === emd, s"doc $id")
          case None => assert(!dup && n === 0L && md === -1L, s"doc $id")
        }
      }
      assert(got.count(_._4) === neigh.size)
    } finally flag.close()
  }

  test("saved simhash index reloads to a flagger identical to the in-memory build") {
    val ref = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("shidx").toString
    val mem = Dedup.simHashFlagger(ref)
    try {
      Dedup.saveSimHashIndex(ref, dir)
      val loaded = Dedup.loadSimHashFlagger(spark, dir)
      try {
        val want = mem(ref).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        val got = loaded(ref).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(want.nonEmpty, "fixture must contain simhash near-dups")
        // save → load → flag reproduces the in-memory flagger's x111 pair
        // membership exactly (the flagger itself is pinned against
        // simHashNearDupPairs above)
        assert(got === want)
      } finally loaded.close()
      // empty corpus round-trips schema-complete
      val emptyDir = java.nio.file.Files.createTempDirectory("shidx0").toString
      Dedup.saveSimHashIndex(ref.limit(0), emptyDir)
      val emptyFlag = Dedup.loadSimHashFlagger(spark, emptyDir)
      try assert(emptyFlag(ref.limit(5)).count() === 0L)
      finally {
        emptyFlag.close()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(emptyDir))
      }
    } finally {
      mem.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a simhash index whose meta holds only h_max still loads") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w${i % 23}").mkString(" ")
    val other = (1 to 60).map(i => s"z${i * 7 % 41}").mkString(" ")
    val ref = docs(1L -> base, 2L -> base, 3L -> other)
    val dir = java.nio.file.Files.createTempDirectory("shidx-hmax").toString
    try {
      Dedup.saveSimHashIndex(ref, dir, hMax = 2)
      // the meta layout written before it carried the signature column
      Seq(2).toDF("h_max").coalesce(1).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/meta")
      val loaded = Dedup.loadSimHashFlagger(spark, dir)
      try {
        val got = loaded(ref).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(got === Seq((1L, 2L, 0L), (2L, 1L, 0L)))
      } finally loaded.close()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("substringDupStats catches a repeat straddling an x97 block boundary") {
    def toks(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    val span = toks("s", 16) // the shared 16-token span
    // doc 1 carries the span at offset 8 (straddles the 16-token block
    // boundary); doc 2 at offset 0; doc 3 repeats it twice WITHIN itself
    val corpus = docs(
      1L -> s"${toks("a", 8)} $span ${toks("t", 8)}",
      2L -> s"$span ${toks("u", 16)}",
      3L -> s"$span x $span")
    // x97's fixed non-overlapping 16-token blocks: doc 1's blocks are
    // [a1..a8 s1..s8] and [s9..s16 t1..t8] — no block content repeats
    // corpus-wide except doc 2/3's aligned [s1..s16], so the straddling
    // copy in doc 1 is INVISIBLE to the block rule
    val scrub = graft.ext.TextAnalysis.blockScrubber(corpus, blockTokens = 16)
    try {
      val kept = scrub(corpus).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(kept(1L)._1 === kept(1L)._2, "x97 must NOT scrub the straddling doc")
    } finally scrub.close()
    // x100's overlapping windows catch all three occurrences
    val got = Dedup.substringDupStats(corpus, windowTokens = 16, minOcc = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // doc 1: 32 tokens → 17 windows, 1 dup (pos 8), 16 covered tokens
    assert(got(0) === ((1L, 17L, 1L, 16L, true)))
    // doc 2: 32 tokens → 17 windows, 1 dup (pos 0)
    assert(got(1) === ((2L, 17L, 1L, 16L, true)))
    // doc 3: 33 tokens → 18 windows, 2 dups (pos 0, 17), two disjoint
    // 16-token intervals → 32 covered tokens (within-doc repeats count)
    assert(got(2) === ((3L, 18L, 2L, 32L, true)))
  }

  test("substringFlagger: corpus-self ≡ x100 stats; saved index reloads identically; frozen semantics on new docs") {
    def toks(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    val span = toks("s", 16)
    val corpus = docs(
      1L -> s"${toks("a", 8)} $span ${toks("t", 8)}",
      2L -> s"$span ${toks("u", 16)}",
      3L -> toks("c", 20)) // clean doc
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    val want = rows(Dedup.substringDupStats(corpus, windowTokens = 16, minOcc = 2L))
    assert(want.count(_._5) === 2, "fixture must contain a cross-doc repeat")
    val flag = Dedup.substringFlagger(corpus, windowTokens = 16, minOcc = 2L)
    val dir = java.nio.file.Files.createTempDirectory("ssidx").toString
    try {
      // corpus-self application reproduces x100 exactly (occurrence counts
      // are corpus-wide either way)
      assert(rows(flag(corpus)) === want)
      // frozen-model semantics on NEW docs: a corpus-duplicated span flags,
      // a batch-only repeat does not
      val batch = docs(
        10L -> s"${toks("z", 4)} $span",        // carries the frozen dup span
        11L -> s"${toks("n", 16)} end one",     // new span, repeated only...
        12L -> s"${toks("n", 16)} end two")     // ...within this batch
      val got = rows(flag(batch))
      assert(got(0) === ((10L, 5L, 1L, 16L, true)))
      assert(!got(1)._5 && !got(2)._5, "batch-only repeats must not flag (frozen model)")
      // save → load → probe parity with the in-memory flagger
      Dedup.saveSubstringIndex(corpus, dir, windowTokens = 16, minOcc = 2L)
      val loaded = Dedup.loadSubstringFlagger(spark, dir)
      try {
        assert(rows(loaded(corpus)) === want)
        assert(rows(loaded(batch)) === got)
      } finally loaded.close()
    } finally {
      flag.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("substringScrub keeps each repeated span exactly once corpus-wide") {
    def toks(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    val span = toks("s", 16)
    val d1 = s"${toks("a", 8)} $span ${toks("t", 8)}"
    val corpus = docs(
      1L -> d1,                        // canonical occurrence (min (doc, pos))
      2L -> s"$span ${toks("u", 16)}", // cross-doc copy — scrubbed
      3L -> s"$span x $span",          // two more copies — BOTH scrubbed
      4L -> "   ")                     // blank doc stays, returns ''
    val got = Dedup.substringScrub(corpus, windowTokens = 16, minOcc = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) === ((1L, 32L, 0L, d1)))
    assert(got(1) === ((2L, 32L, 16L, toks("u", 16))))
    assert(got(2) === ((3L, 33L, 32L, "x")))
    assert(got(3) === ((4L, 0L, 0L, "")))
  }

  test("substringScrubber scrubs known-duplicated spans from new batches, leaves novel text") {
    def toks(prefix: String, n: Int) = (1 to n).map(prefix + _).mkString(" ")
    val span = toks("s", 16)
    val corpus = docs(
      1L -> s"${toks("a", 8)} $span ${toks("t", 8)}",
      2L -> s"$span ${toks("u", 16)}")
    val scrub = Dedup.substringScrubber(corpus, windowTokens = 16, minOcc = 2L)
    try {
      val batch = docs(
        10L -> s"${toks("z", 4)} $span",    // carries the corpus-duplicated span
        11L -> toks("n", 20))               // novel text — untouched
      val got = scrub(batch).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      // every arriving copy of a known-duplicated span is non-canonical
      assert(got(0) === ((10L, 20L, 16L, toks("z", 4))))
      assert(got(1) === ((11L, 20L, 0L, toks("n", 20))))
    } finally scrub.close()
  }

  test("substringDupStats is total: blank and short docs report zero windows") {
    val corpus = docs(1L -> "a b c", 2L -> "   ", 3L -> ((1 to 60).map("w" + _).mkString(" ")))
    val got = Dedup.substringDupStats(corpus, windowTokens = 50, minOcc = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(got === Array((1L, 0L, 0L, false), (2L, 0L, 0L, false), (3L, 11L, 0L, false)))
  }

  test("pairTokenOverlap counts multiset overlap, F1 and containments exactly") {
    import spark.implicits._
    val corpus = docs(
      1L -> "a a b c",        // tf: a=2 b=1 c=1, n=4
      2L -> "a b b d",        // tf: a=1 b=2 d=1, n=4
      3L -> "a a",            // contained in 1: overlap=2, n=2
      4L -> "zz yy")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("ia", "ib")
    val got = Dedup.pairTokenOverlap(corpus, pairs).orderBy("ia", "ib")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // (ia, ib, n_a, n_b, overlap, f1_ppm, cont_a_ppm, cont_b_ppm)
    assert(got(0) === ((1L, 2L, 4L, 4L, 2L, 500000L, 500000L, 500000L)))
    // quote relation: low-ish F1 but full containment on the short side
    assert(got(1) === ((1L, 3L, 4L, 2L, 2L, 666666L, 500000L, 1000000L)))
    // disjoint pair survives with zero overlap (left join, not dropped)
    assert(got(2) === ((1L, 4L, 4L, 2L, 0L, 0L, 0L, 0L)))
  }
}
