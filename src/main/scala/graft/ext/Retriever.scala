package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}

/** Build/apply handle for the build-once operators ([[Similarity.srpRetriever]],
  * [[Ivf.ivfRetriever]], [[Dedup.nearDupFlagger]], ...): `apply` answers any
  * query/batch frame against the prebuilt corpus-side state, and `close`
  * releases whatever that state persisted — the lifecycle a long-lived
  * session (a streaming job that rebuilds its corpus version nightly) needs,
  * which a bare `DataFrame => DataFrame` cannot express. Extends the function
  * type, so existing call sites (`retrieve(batch)`) are unchanged. `close` is
  * idempotent; applying after close still works but recomputes the corpus
  * state per query batch.
  */
final class Retriever private[ext] (
    f: DataFrame => DataFrame,
    release: () => Unit = () => ()) extends (DataFrame => DataFrame) {
  def apply(queries: DataFrame): DataFrame = f(queries)

  /** Unpersist the corpus-side state this retriever built. */
  def close(): Unit = release()

  /** The same frozen state probed with `prep(batch)` — for a family whose
    * index is another family's (text SimHash over the Hamming index). */
  private[ext] def probing(prep: DataFrame => DataFrame): Retriever =
    new Retriever(f compose prep, release)
}

/** The frozen-index lifecycle every flagger family shares. An index is one
  * or more corpus-side tables; in memory they are persisted and counted at
  * build time (the first probe batch pays probe cost only), and on disk
  * they are `dir/<table>` parquet tables beside a one-row `dir/meta` that
  * carries the build's knobs, so a loaded flagger reproduces the build's
  * semantics without the caller re-supplying them. Hadoop-FS URIs
  * throughout; an empty index writes empty, schema-complete tables (no
  * partitionBy, so no missing-directory trap) and round-trips. */
object Retriever {

  /** Persist and materialize `tables`, then probe them with `probe`;
    * `close()` unpersists them. */
  private[ext] def freeze(tables: DataFrame*)(
      probe: Seq[DataFrame] => DataFrame => DataFrame): Retriever = {
    val frozen = tables.map(_.persist())
    frozen.foreach(_.count())
    new Retriever(probe(frozen), () => frozen.foreach(_.unpersist()))
  }

  /** Write each named table to `dir/<name>` and the `meta` columns as the
    * one row of `dir/meta`, replacing what was there. */
  private[ext] def save(dir: String, tables: (String, DataFrame)*)(
      meta: Column*): Unit = {
    tables.foreach { case (name, t) =>
      t.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    }
    tables.head._2.sparkSession.range(1).select(meta: _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
  }

  /** Read back what [[save]] wrote and [[freeze]] it; `probe` gets the
    * meta row beside the tables, in the order named. */
  private[ext] def load(spark: SparkSession, dir: String, tables: String*)(
      probe: (Row, Seq[DataFrame]) => DataFrame => DataFrame): Retriever = {
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    freeze(tables.map(t => spark.read.parquet(s"$dir/$t")): _*)(probe(meta, _))
  }
}
