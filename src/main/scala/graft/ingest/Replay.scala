package graft.ingest

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.model.{ProgressEvent, SchedulerEvent}

/** Replay sources: load recorded telemetry from files for offline analysis
  * and tests — the batch counterpart of the live listener bridges
  * (SURVEY.md §2.1-A "replay/testing: file source"). JSON and parquet, with
  * the schema derived from the case-class encoders so it cannot drift: a
  * file's columns outside that schema, such as the executor columns older
  * files carry, are not read. */
object Replay {

  def schedulerEventsJson(spark: SparkSession, path: String): Dataset[SchedulerEvent] = {
    implicit val enc = Encoders.product[SchedulerEvent]
    spark.read.schema(enc.schema).json(path).as[SchedulerEvent]
  }

  def schedulerEventsParquet(spark: SparkSession, path: String): Dataset[SchedulerEvent] = {
    implicit val enc = Encoders.product[SchedulerEvent]
    spark.read.schema(enc.schema).parquet(path).as[SchedulerEvent]
  }

  def progressEventsJson(spark: SparkSession, path: String): Dataset[ProgressEvent] = {
    implicit val enc = Encoders.product[ProgressEvent]
    spark.read.schema(enc.schema).json(path).as[ProgressEvent]
  }

  def progressEventsParquet(spark: SparkSession, path: String): Dataset[ProgressEvent] = {
    implicit val enc = Encoders.product[ProgressEvent]
    spark.read.schema(enc.schema).parquet(path).as[ProgressEvent]
  }
}
