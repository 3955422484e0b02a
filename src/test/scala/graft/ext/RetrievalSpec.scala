package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25, reciprocal-rank fusion, and hard-negative mining on crafted
  * fixtures where the correct ranking is known by hand. */
class RetrievalSpec extends SparkSpec {

  test("bm25 ranks by term frequency, rarity, and length normalization") {
    import spark.implicits._
    val docs = Seq(
      (0L, "cat cat cat dog"),          // tf(cat)=3, short
      (1L, "cat dog fish bird mouse"),  // tf(cat)=1
      (2L, "dog dog dog dog"),          // no cat
      (3L, "cat " + ("filler " * 40).trim), // tf(cat)=1 but long doc
      (4L, "   ")                        // blank: excluded from the universe
    ).toDF("doc_id", "text")
    val scored = Retrieval.bm25(docs, Seq("cat"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // only cat-matching docs appear
    assert(scored.keySet === Set(0L, 1L, 3L))
    // higher tf wins; longer doc is length-penalized below the short one
    assert(scored(0L) > scored(1L))
    assert(scored(1L) > scored(3L))
    // a rare term outscores a common one at equal tf and length
    val two = Seq(
      (0L, "rare common"), (1L, "other common"), (2L, "other common"))
      .toDF("doc_id", "text")
    val s2 = Retrieval.bm25(two, Seq("rare", "common"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(s2(0L)._1 === 2L)   // doc 0 hits both terms
    assert(s2(0L)._2 > s2(1L)._2)
  }

  test("bm25 is exactly the textbook formula on a tiny fixture") {
    import spark.implicits._
    // N = 3 docs, dl = 2/3/4, avgdl = 3; df(cat) = 2, df(fish) = 1
    val docs = Seq(
      (0L, "cat dog"), (1L, "cat cat fish"), (2L, "dog bird bird mouse"))
      .toDF("doc_id", "text")
    val (k1, b) = (1.2, 0.75)
    val got = Retrieval.bm25(docs, Seq("cat", "fish"), k1, b)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the Lucene idf ln(1 + (N - df + 0.5)/(df + 0.5)) times the saturated,
    // length-normalized tf, rounded to micro-units per (doc, term)
    def c(tf: Double, df: Double, dl: Double): Long = Math.round(
      Math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1.0)) /
        (tf + k1 * ((1.0 - b) + b * dl / (9.0 / 3))) * 1e6)
    assert(got === Map(
      0L -> (1L, c(1, 2, 2)),
      1L -> (2L, c(2, 2, 3) + c(1, 1, 3))))
  }

  test("rrfFuse sums exact reciprocal-rank terms over a full outer join") {
    import spark.implicits._
    val l = Seq((10L, 1), (20L, 2)).toDF("id", "rnk")
    val r = Seq((20L, 1), (30L, 2)).toDF("id", "rnk")
    val fused = Retrieval.rrfFuse(l, r, "id")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    def t(rnk: Int) = math.round(1e9 / (60 + rnk))
    assert(fused === Map(
      10L -> t(1), 20L -> (t(2) + t(1)), 30L -> t(2)))
  }

  test("bm25Prf expands the query and degrades to plain BM25 at kExpand=0") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // kExpand=0 must reproduce the plain seed ranking exactly
    val plain = Retrieval.bm25(docs, Seq("dup", "vector"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val noExp = Retrieval.bm25Prf(docs, Seq("dup", "vector"), kExpand = 0)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(noExp === plain)
    // with expansion, some returned doc hits more terms than the seeds
    // offer — proof the expanded terms actually scored
    val exp = Retrieval.bm25Prf(docs, Seq("dup", "vector"), kExpand = 2)
      .collect()
    assert(exp.nonEmpty)
    assert(exp.map(_.getLong(1)).max > 2,
      "expansion terms never contributed to any returned doc")
  }

  test("contrastiveTriplets pairs each anchor with its true nearest pos/neg") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 8)
    val got = Similarity.contrastiveTriplets(qs, emb)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got.size === 8)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // negative matches hardNegativeTopK's rank-1 exactly
    val negRank1 = Similarity.hardNegativeTopK(qs, emb, kTop = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    for ((qid, (posId, posCos, negId, negCos, margin)) <- got) {
      assert(labels(posId) === labels(qid), s"positive label mismatch for $qid")
      assert(labels(negId) !== labels(qid), s"negative label match for $qid")
      assert((negId, negCos) === negRank1(qid))
      assert(margin === math.round((posCos - negCos) * 1e6))
      assert(posId !== qid)
    }
  }

  test("hardNegativeTopK returns only other-label neighbors, ranked") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 5)
    val got = Similarity.hardNegativeTopK(qs, emb, kTop = 3)
    val qLabels = qs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
    assert(rows.length === qLabels.size * 3)
    rows.foreach { r =>
      assert(r.getInt(2) !== qLabels(r.getLong(0)),
        s"query ${r.getLong(0)} got a same-label 'negative'")
    }
    // ranks are 1..3 per query, cosine non-increasing within a query
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq === Seq(1, 2, 3))
      assert(sorted.sliding(2).forall(p =>
        p.head.getDouble(3) >= p.last.getDouble(3)))
    }
  }

  test("qlTopK ranks by smoothed likelihood with length normalization") {
    import spark.implicits._
    val docs = Seq(
      (0L, "cat cat cat dog"),               // tf(cat)=3, short
      (1L, "cat dog fish bird mouse"),       // tf(cat)=1
      (2L, "dog dog dog dog"),               // no cat: not a candidate
      (3L, "cat " + ("filler " * 40).trim),  // tf(cat)=1 but long doc
      (4L, "   ")                             // blank: out of the universe
    ).toDF("doc_id", "text")
    val got = Retrieval.qlTopK(docs, Seq("cat"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(got.keySet === Set(0L, 1L, 3L))
    // higher tf wins; the longer doc pays the (dl + mu) norm
    assert(got(0L)._2 === 1 && got(0L)._1 > got(1L)._1)
    assert(got(1L)._1 > got(3L)._1)
  }

  test("qlTopK multi-term: matching both terms beats matching one") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha other filler words"),
      (2L, "beta other filler words"),
      (3L, "none of the query words")).toDF("doc_id", "text")
    val got = Retrieval.qlTopK(docs, Seq("alpha", "beta"), kTop = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.head._1 === 0L && got.head._2 === 2L) // both terms, rank 1
    assert(got.map(_._1).toSet === Set(0L, 1L, 2L))
  }

  test("qlCrossTopK with one query reproduces qlTopK's ranking") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val single = Retrieval.qlTopK(docs, Seq("dup", "vector", "stream"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val cross = Retrieval.qlCrossTopK(docs,
        Seq((7L, Seq("dup", "vector", "stream"))).toDF("query_id", "terms"),
        kTop = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toSeq
    assert(single.nonEmpty && single.sorted === cross.sorted)
  }

  test("qlTopK is exactly the textbook formula on a tiny fixture") {
    import spark.implicits._
    // corpus: |C| = 6 tokens, cf(cat) = 2
    val docs = Seq(
      (0L, "cat dog"), (1L, "cat fish bird"), (2L, "mouse")).toDF("doc_id", "text")
    val mu = 10.0
    val got = Retrieval.qlTopK(docs, Seq("cat"), mu = mu)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def exp(tf: Long, dl: Long): Long =
      Math.round(Math.log(1.0 + tf * 6.0 / (mu * 2.0)) * 1e6) -
        Math.round(Math.log(dl + mu) * 1e6)
    assert(got === Map(0L -> exp(1, 2), 1L -> exp(1, 3)))
  }
}
