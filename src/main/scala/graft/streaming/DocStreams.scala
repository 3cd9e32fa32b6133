package graft.streaming

import graft.functions.{CurationQueries, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the `documents` table: curation at ingest time.
  *
  * The batch curation operators (graft.functions.CurationQueries /
  * TextFunctions) are stateless per-row Column expressions, so the SAME
  * expressions run unchanged inside a stream — a landing pipeline can
  * fingerprint, score and keep/drop-classify documents before they ever reach
  * storage, with zero state beyond the exact-dedup watermark. This module
  * wires them to a readStream source; StreamingSpec proves stream == batch.
  */
object DocStreams {

  /** Streaming source over the documents parquet (same staging pattern as
    * EventStreams.source: watch a directory, stage a single-file fixture). */
  def source(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "documents.parquet"))) {
        s"$dir/documents.parquet"
      } else {
        val tmp = java.nio.file.Files.createTempDirectory("graft-docs-stream")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "documents.parquet"),
          tmp.resolve("documents.parquet"))
        tmp.toString
      }
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** Ingest-time curation: per-document fingerprint, token count and keep/drop
    * decision — one map-only stage, no shuffle, no state. */
  def curated(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      CurationQueries.keepReason(col("text")).as("reason"))

  /** Ingest-time exact dedup on the fingerprint: first arrival of each
    * normalized text wins; later copies are dropped while the key is inside
    * the (processing-time) dedup horizon. */
  def dedupedByFingerprint(docs: DataFrame): DataFrame =
    curated(docs).dropDuplicates("fp")

  /** BOUNDED-STATE exact dedup: the 100 TB-correct variant of
    * [[dedupedByFingerprint]]. Plain `dropDuplicates` keeps every key it has
    * ever seen — on an unbounded ingest stream that state grows forever.
    * `dropDuplicatesWithinWatermark` expires a key once the event-time
    * watermark passes it, so state is proportional to the dedup horizon, not
    * the stream's lifetime — the same horizon/expiry contract a production
    * landing pipeline declares. The fixture has no ingest timestamp, so a
    * deterministic event-time derives from doc identity (stands in for the
    * real arrival time); the horizon exceeds the fixture's time spread, so
    * stream == batch distinct is exact and spec-checkable. */
  def dedupedByFingerprintBounded(docs: DataFrame): DataFrame =
    curated(docs)
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id") % 3600))
      .withWatermark("ingest_ts", "2 hours")
      .dropDuplicatesWithinWatermark("fp")

  /** Ingest-time near-dup screening — a STREAM-STATIC join: arriving
    * documents compute their MinHash-LSH band keys (stateless expressions,
    * the same index definition as the batch pair join) and equi-join against
    * the stored corpus's band index. Output = (doc_id, corpus_id) candidate
    * matches; a match means the arriving doc is LSH-near an existing one and
    * should be held for exact re-check. The static side is just a DataFrame —
    * at 100 TB it is the bucketed band-index table, and the join stays a
    * keyed equi-join per micro-batch with NO streaming state at all. */
  def nearDupScreen(stream: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.functions.DedupQueries
    val index = DedupQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_id")
    DedupQueries.bandKeysOf(stream.select(col("doc_id"), col("text")))
      .join(index, Seq("band_idx", "band_key"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .select(col("doc_id"), col("corpus_id"))
  }

  /** Multi-batch variant of [[source]]: stage the fixture as `nFiles`
    * parquet files and feed ONE file per trigger, so a test observes a real
    * sequence of micro-batches (the single-file source collapses to one
    * batch, which would make any incremental-maintenance claim vacuous). */
  def sourceChunked(spark: SparkSession, docs: DataFrame, nFiles: Int): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-docs-chunks")
    docs.repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
    spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp.toString)
  }

  /** Streaming IVM: land each micro-batch into a catalog BASE table through
    * the INSERT path — which maintains every registered materialized view
    * over that table incrementally (one summary-delta merge per micro-batch,
    * O(batch) work; see [[graft.MatViews]]). This is the streaming face of
    * the same maintenance the batch DML runs: a continuously-ingesting
    * corpus keeps its rollup views fresh without ever rescanning the base. */
  def maintainViews(stream: DataFrame, cat: graft.Catalog, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        cat.insert(table, batch.localCheckpoint(true))
      }
      .start()

  /** Landing sink: each micro-batch of curated documents appends into the
    * engine's own Catalog through its INSERT path (foreachBatch = the bridge
    * from Structured Streaming to arbitrary batch sinks; per-batch this is
    * exactly-once into the statement-level-snapshot catalog because a batch
    * re-run replaces the same registration). Returns the running query;
    * callers stop it when the landing directory drains. */
  def landToCatalog(docs: DataFrame, cat: graft.Catalog, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    curated(docs).writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val materialized = batch.localCheckpoint(true)
        if (cat.exists(table)) cat.insert(table, materialized)
        else cat.register(table, materialized)
      }
      .start()
}
