package graft.llm

import graft.storage.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The runnable LLM ingest pipeline — the composition
  * [[graft.llm.CrawlPipelineSpec]] proves, packaged as ONE streaming
  * job over a landing directory of JSONL shards:
  *
  *   [[CorpusIo.readJsonlStream]] (declared schema, corrupt routing)
  *     → error TxTable (corrupt/blank lines, countable forever)
  *     → Gopher word-count gate ([[QualityRules.okWordCount]])
  *     → [[IncrementalDedup.admitBatch]] (exact + near-dup vs ALL
  *       history; TxTable state, bucketed Band/Digest indexes)
  *     → admitted corpus TxTable (+ optional [[CorpusProfile]] HLL
  *       register log folded from the sink's change feed)
  *
  * Partitions are DATA-DERIVED everywhere (`p_date` from the doc's
  * own source column when present, constants otherwise) so a
  * checkpoint reset re-delivers as a no-op — the
  * [[IncrementalDedup.admitStream]] caveat, exercised by the spec.
  * Every per-increment cost is O(new data): the error/sink
  * insertIgnores scope to touched partitions, admission reads the
  * bucketed indexes, the profile appends batch-local registers.
  */
object CuratePipeline {

  /** Start the pipeline. `once = true` drains what's in `input` and
    * stops (Trigger.AvailableNow — the batch-style backfill run);
    * otherwise it follows the directory until stopped.
    */
  def run(spark: SparkSession, input: String, state: TxTable, sink: TxTable,
          errors: TxTable, checkpoint: String,
          bands: Option[BandIndex] = None,
          digests: Option[DigestIndex] = None,
          profile: Option[TxTable] = None,
          once: Boolean = false): StreamingQuery = {
    val base = CorpusIo.readJsonlStream(spark, input)
      .writeStream
      .option("checkpointLocation", checkpoint)
    (if (once) base.trigger(Trigger.AvailableNow()) else base)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(state, sink, errors, batch, bands, digests, profile)
      }
      .start()
  }

  /** [[run]] with the crawl-native front end: a landing directory of
    * .warc files instead of JSONL shards ([[CorpusIo.readWarcStream]]
    * — record split, HTML→text extraction, canonical-URL doc ids,
    * registered-domain `source`), then the identical batch body: the
    * URL-keyed ids mean a recrawled page is an EXACT dup the history
    * state collapses before near-dup even runs.
    */
  def runWarc(spark: SparkSession, input: String, state: TxTable,
              sink: TxTable, errors: TxTable, checkpoint: String,
              bands: Option[BandIndex] = None,
              digests: Option[DigestIndex] = None,
              profile: Option[TxTable] = None,
              once: Boolean = false): StreamingQuery = {
    val base = CorpusIo.readWarcStream(spark, input)
      .writeStream
      .option("checkpointLocation", checkpoint)
    (if (once) base.trigger(Trigger.AvailableNow()) else base)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(state, sink, errors, batch, bands, digests, profile)
      }
      .start()
  }

  /** One micro-batch — exposed so tests and replay jobs can drive it
    * directly (the [[IncrementalDedup.admitBatch]] pattern).
    */
  def processBatch(state: TxTable, sink: TxTable, errors: TxTable,
                   batch: DataFrame,
                   bands: Option[BandIndex] = None,
                   digests: Option[DigestIndex] = None,
                   profile: Option[TxTable] = None): Unit = {
    val bad = batch.filter(col("is_corrupt"))
      .select(col("raw_line"), lit("errors").as("p_date"))
    errors.insertIgnore(bad, Seq("raw_line"))
    val clean = batch.filter(!col("is_corrupt"))
      .filter(QualityRules.okWordCount(size(TextOps.words(col("text")))))
    val before = sink.version
    IncrementalDedup.admitBatch(state, sink, clean,
      col("doc_id"), col("text"), date = "corpus", k = 8, bandsOf = 2,
      threshold = 0.5, sinkPartOf = Some(sinkPartition),
      bands = bands, digests = digests)
    profile.foreach { p =>
      if (sink.version > before) {
        // the sink rows carry the source AS their partition column
        // (see sinkPartition), so the per-source profile groups on it
        val feed = sink.readChangesSince(before, sink.version)
        if (!feed.isEmpty)
          CorpusProfile.appendHll(p, feed, col(sink.partitionCol), col("doc_id"))
      }
    }
  }

  /** Data-derived sink partition: the doc's `source` (reset-proof —
    * the data, not the scheduler, names it), 'unknown' when absent.
    */
  private def sinkPartition: Column =
    coalesce(col("source"), lit("unknown"))
}
