package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config._
import graft.operators.{Envelope, Joins, Transforms}
import graft.sinks.GraftSink

/** A2: run accounting, parity with the reference's `ProcessSummary`
  * (`/root/reference/src/kafka_source.py:24-45`; xcom emission
  * `/root/reference/src/main.py:40-53`). Collected via `Dataset.observe`
  * metrics — aggregated on executors as the job runs, no second pass and no
  * driver-side loop.
  */
final case class ProcessSummary(
    eventCount: Long,
    emptyCount: Long,
    nonEmptyCount: Long,
    errorCount: Long,
    writtenToDbCount: Long,
    /** Messages successfully collected into the run (reference `data_count`,
      * `/root/reference/src/kafka_source.py:328`): events minus hard errors.
      */
    dataCount: Long = -1,
    /** −1 outside producer mode, like the reference's assign-strategy marker
      * (`/root/reference/src/kafka_source.py:295`).
      */
    committedToProducerCount: Long = -1) {
  private def data: Long = if (dataCount >= 0) dataCount else eventCount - errorCount
  def xcomJson: String =
    s"""{"event_count":$eventCount,"data_count":$data,"empty_count":$emptyCount,""" +
      s""""non_empty_count":$nonEmptyCount,"error_count":$errorCount,""" +
      s""""written_to_db_count":$writtenToDbCount,""" +
      s""""committed_to_producer_count":$committedToProducerCount,""" +
      s""""messages":$eventCount,"errors":$errorCount}"""
}

/** The reference's `Mapping` (`/root/reference/src/mapping.py:13-65`) as a
  * plan compiler: one validated [[PipelineConfig]] + a message frame becomes
  * ONE declarative DataFrame plan (envelope → payload ops → k6 mask →
  * transform select-list → dedup anti-join → sink append). The envelope
  * decodes each message once, in a projection the ones above do not
  * re-inline ([[operators.Envelope]]: CSE does not reach into `CASE WHEN`
  * branches); on JSON input these run outside whole-stage codegen. The only
  * shuffles are the J2 anti-join (keyed) and none when dedup keys are absent.
  *
  * `$$BATCH_TIME` is frozen here, at plan build, and is therefore constant
  * across every micro-batch of a run (T1 parity,
  * `/root/reference/src/development/test_transform.py:46-66`).
  */
final class Pipeline(
    val cfg: PipelineConfig,
    payloadSchema: StructType,
    avroWriterSchemaJson: Option[String] = None,
    val batchTime: Timestamp = new Timestamp(System.currentTimeMillis()),
    /** id → writer schema JSON, registry-resolved at plan build. When
      * non-empty, S5 dispatches per message on the wire schema id (the
      * production shape — schema evolution means mixed ids in one read);
      * `avroWriterSchemaJson` alone keeps the single-schema fast path.
      */
    avroSchemasById: Map[Int, String] = Map.empty) {

  /** Envelope stage (S3–S7 + F1–F3) over a canonical message frame. */
  def envelope(raw: DataFrame): DataFrame = cfg.source.schemaMode match {
    case SchemaMode.Json => Envelope.json(raw, cfg.source, payloadSchema)
    case SchemaMode.Str => Envelope.string(raw, cfg.source)
    case SchemaMode.Avro if avroSchemasById.nonEmpty =>
      Envelope.avroMulti(raw, cfg.source, avroSchemasById, payloadSchema)
    case SchemaMode.Avro =>
      val writer = avroWriterSchemaJson.getOrElse(
        throw new IllegalArgumentException("avro schema-mode requires a writer schema (registry-resolved)"))
      Envelope.avro(raw, cfg.source, writer, payloadSchema)
  }

  /** Full transform plan minus the sink-side dedup (which needs the sink). */
  def transformed(raw: DataFrame, k6Dim: Option[DataFrame] = None): DataFrame =
    maskAndTransform(envelope(raw), k6Dim)

  /** Mask + transform stages over an already-built envelope frame (lets
    * [[run]] interpose an `observe` between envelope and the rest).
    */
  private def maskAndTransform(env: DataFrame, k6Dim: Option[DataFrame]): DataFrame = {
    val masked = (cfg.target.k6Filter, k6Dim) match {
      case (Some(k6), Some(dim)) => Joins.k6Mask(env, dim, k6)
      case (Some(_), None) =>
        throw new IllegalArgumentException("k6-filter configured but no screening dimension supplied")
      case _ => env
    }
    Transforms(masked, cfg.transform, batchTime)
  }

  /** Execute one bounded run: plan, dedup against the sink, write, account.
    * Error tolerance (ST5): malformed payloads surface as NULL payload with
    * non-NULL value (PERMISSIVE-style) and are *counted*, not fatal — the
    * reference's count-and-continue channel.
    */
  def run(spark: SparkSession, raw: DataFrame, sink: GraftSink, k6Dim: Option[DataFrame] = None): ProcessSummary = {
    // BOTH accounting facets ride the write job itself via the Observation
    // API: one observe on the envelope stage (source facets) and one on the
    // final frame (written count). ONE job, ONE source scan — with a real
    // Kafka source a second pass would be a full topic re-read.
    val facetObs = org.apache.spark.sql.Observation()
    val env = envelope(raw).observe(
      facetObs,
      count(lit(1)).as("events"),
      count(when(col("kafka_message").isNull, 1)).as("empty"),
      count(when(col("kafka_message").isNotNull, 1)).as("non_empty"),
      count(when(col("kafka_error"), 1)).as("errors"))
    val out = maskAndTransform(env, k6Dim)
    val deduped = cfg.target.skipDuplicatesWith match {
      case Nil => out
      case keys => sink.existing(spark, keys) match {
        case Some(ex) => Joins.dedupAgainst(out, ex, keys)
        case None => out.dropDuplicates(keys)
      }
    }
    val obs = org.apache.spark.sql.Observation()
    val observed = deduped.observe(obs, count(lit(1)).as("written"))
    sink.write(observed)
    val written = obs.get("written").asInstanceOf[Long]
    val facets = facetObs.get

    ProcessSummary(
      eventCount = facets("events").asInstanceOf[Long],
      emptyCount = facets("empty").asInstanceOf[Long],
      nonEmptyCount = facets("non_empty").asInstanceOf[Long],
      errorCount = facets("errors").asInstanceOf[Long],
      writtenToDbCount = written)
  }

}
