package graft.streaming

import graft.corpus.CorpusDoc
import graft.index.IndexBuilder
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/**
 * Streaming side of the engine (SURVEY.md §2.9) — the reference ingests
 * forever from a push stream + 120 s polls (/root/reference/
 * sentiment.py:886-896,336-337); here that becomes Structured Streaming
 * micro-batches over an arriving corpus directory:
 *
 *  - W1: `readStream` over the corpus table dir; each micro-batch is
 *    indexed as ONE ingest batch (docId space (batchId+1) << 52), so
 *    segments stay immutable and merge-free ingest just appends.
 *  - W5: exactly-once: foreachBatch + the builder's idempotence guard
 *    (a re-delivered batchId finds its segment in the manifest and
 *    no-ops) + the streaming checkpoint.
 *  - W2/W3: tumbling-window aggregation with a watermark (the dashboard's
 *    30 s date_histogram as a live stream).
 *  - W4: dedup with BOUNDED state (`dropDuplicatesWithinWatermark`) —
 *    the reference's in-memory `tweet_ids` list grows forever
 *    (/root/reference/sentiment.py:54,158); the watermark bounds ours.
 */
object StreamIngest {
  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** Continuous index ingest from a directory of arriving parquet files
    * with the corpus schema. Returns the started query. */
  def indexStream(spark: SparkSession, sourceDir: String, indexRoot: String,
                  numShards: Int, checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[CorpusDoc].schema
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .as[CorpusDoc]
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[CorpusDoc], batchId: Long) =>
        // batch 0 is reserved for the bulk build; stream batches are 1-based
        IndexBuilder.build(batch.sparkSession, batch, indexRoot, numShards,
          batch = (batchId + 1).toInt, resume = false)
        ()
      }
      .start()
  }

  /** Continuous ANN-store ingest: arriving embedding batches APPEND to
    * the committed store for `datasetDir` (built by AnnIndex.ensure)
    * against its frozen planes/quantizer — the same exactly-once recipe
    * as indexStream: streaming checkpoint + foreachBatch + the store's
    * idempotent batch lineage (a re-delivered batchId no-ops). Stream
    * batches are 1-based; batch 0 stays the base build. `params`
    * must match the ensure() call that built the store (they are part
    * of the store root). The checkpoint and the store form a PAIR: deleting
    * the checkpoint while keeping the store restarts batch numbering
    * from 0, and already-committed low ids are skipped by lineage — such
    * skips are logged at WARN so a lost-checkpoint restart cannot
    * silently drop data that arrived after the original batches. */
  def annStream(spark: SparkSession, sourceDir: String, datasetDir: String,
                checkpointDir: String,
                params: graft.ops.AnnIndex.BuildParams =
                  graft.ops.AnnIndex.BuildParams(),
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = spark.read
      .parquet(s"$datasetDir/embeddings.parquet").schema
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val appended = graft.ops.AnnIndex.append(batch.sparkSession,
          datasetDir, batch, batchId = batchId + 1, p = params)
        if (!appended)
          log.warn(s"annStream: batch ${batchId + 1} already " +
            s"committed in the ANN store for $datasetDir — skipped (expected " +
            "on re-delivery; if the checkpoint was deleted, rows in this " +
            "batch that postdate the original commit are NOT ingested)")
        ()
      }
      .start()
  }

  /** W2/W3: the dashboard's date_histogram as a stream — tumbling 30 s
    * windows with a 2 min watermark (late rows beyond it are dropped,
    * a documented completeness tradeoff vs the reference's
    * recompute-over-everything model). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "30 seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("event_type"), col("cnt"))

  /** W4: bounded-state dedup by content hash within the watermark —
    * replaces the reference's unbounded in-memory dedup lists. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("sha256", sha2(col("content"), 256))
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("sha256")
}
