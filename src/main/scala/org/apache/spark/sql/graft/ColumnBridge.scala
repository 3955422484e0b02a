package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression,
  InterpretedMutableProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters, so graft's
  * native Catalyst expressions can surface as `Column`s. Same namespace
  * technique the reference uses for `SparkEnv` access
  * (ref `org/apache/spark/sql/streaming/qubole/.../StreamingLensMetricsReporter.scala:19,54`).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The value of a literal Column, read without planning a query. */
  def literalValue(c: Column): Any = ColumnNodeToExpressionConverter(c.node).eval()
}

/** Columns analyzed once against an empty relation of `schema` and bound to
  * its field ordinals, so the driver can evaluate them on Scala rows without
  * planning a query per call. The analyzed plan is bound, not the optimized
  * one: the optimizer folds a projection of an empty relation away. */
final class BoundColumns private (exprs: Seq[Expression], input: StructType,
                                  output: StructType) {

  /** A row of `schema` to a row of the columns' values. Each evaluator owns
    * one mutable projection: take a fresh one per call and thread. */
  def evaluator(): Row => Row = {
    val projection = InterpretedMutableProjection.createProjection(exprs)
    projection.initialize(0)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(input)
    val toScala = CatalystTypeConverters.createToScalaConverter(output)
    row => toScala(projection(toCatalyst(row).asInstanceOf[InternalRow])).asInstanceOf[Row]
  }
}

object BoundColumns {
  def apply(spark: SparkSession, schema: StructType, cols: Column*): BoundColumns =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema).select(cols: _*)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.analyzed match {
      case p @ Project(list, child) =>
        new BoundColumns(BindReferences.bindReferences(list, AttributeSeq(child.output)),
          schema, p.schema)
      case other => throw new IllegalStateException(s"expected a projection, got $other")
    }

  private val memo = scala.collection.concurrent.TrieMap.empty[Any, BoundColumns]

  /** [[apply]] once per `key` for the JVM: later calls with the same key
    * reuse the binding and do not build `cols`. */
  def memoized(key: Any, spark: SparkSession, schema: StructType)(cols: => Seq[Column]): BoundColumns =
    memo.getOrElseUpdate(key, apply(spark, schema, cols: _*))
}

/** Bridge for Dataset internals the public API does not expose: freeing the
  * storage blocks behind a `localCheckpoint(eager = true)`. `Dataset
  * .unpersist()` only uncaches CacheManager entries (from `persist()`), so a
  * checkpoint-per-round loop (e.g. iterative label propagation) would leak
  * executor storage linearly with rounds without this. */
object DatasetInternals {

  /** Unpersist the RDD backing a locally-checkpointed Dataset. No-op for
    * frames that are not checkpoint-backed. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
}

/** Imperative SQL-function registration for sessions created without
  * `spark.sql.extensions` (the extensions path is [[graft.GraftExtensions]]).
  * Needs the sql namespace: `sessionState.functionRegistry` is private[sql]. */
object FunctionRegistration {

  /** Integer literal argument of a SQL function call (widths/counts must be
    * plan-time constants — they size codegen'd loops). */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** The SQL builders, shared by temp registration and the extensions path
    * (public: `graft.GraftExtensions` lives outside this package tree). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { exprs =>
      require(exprs.length == 2,
        s"graft_dot requires exactly 2 arguments, got ${exprs.length}")
      DotProductExpr(exprs(0), exprs(1))
    },
    "graft_shingle_hash" -> { exprs =>
      require(exprs.length == 2,
        s"graft_shingle_hash requires (tokens, n), got ${exprs.length} arguments")
      ShingleHashExpr(exprs(0), litInt(exprs(1), "graft_shingle_hash", "n"))
    },
    "graft_minhash_bands" -> { exprs =>
      require(exprs.length == 3,
        s"graft_minhash_bands requires (shingles, k, bands), got ${exprs.length} arguments")
      MinHashBandsExpr(exprs(0),
        litInt(exprs(1), "graft_minhash_bands", "k"),
        litInt(exprs(2), "graft_minhash_bands", "bands"))
    },
    "graft_token_window_hash" -> { exprs =>
      require(exprs.length == 2,
        s"graft_token_window_hash requires (tokens, w), got ${exprs.length} arguments")
      TokenWindowHashExpr(exprs(0), litInt(exprs(1), "graft_token_window_hash", "w"))
    },
    "graft_simhash" -> { exprs =>
      require(exprs.length == 1,
        s"graft_simhash requires exactly 1 argument, got ${exprs.length}")
      SimHashExpr(exprs(0))
    },
    "graft_sorted_intersect" -> { exprs =>
      require(exprs.length == 2,
        s"graft_sorted_intersect requires exactly 2 arguments, got ${exprs.length}")
      SortedIntersectCountExpr(exprs(0), exprs(1))
    },
    "graft_srp_sketch" -> { exprs =>
      require(exprs.length == 2,
        s"graft_srp_sketch requires (vector, nBits), got ${exprs.length} arguments")
      SrpSketchExpr(exprs(0), litInt(exprs(1), "graft_srp_sketch", "nBits"))
    },
    "graft_deflate_len" -> { exprs =>
      require(exprs.length == 1,
        s"graft_deflate_len requires exactly 1 argument, got ${exprs.length}")
      DeflateLenExpr(exprs(0))
    })

  def registerGraftFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
