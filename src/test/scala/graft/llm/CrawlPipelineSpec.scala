package graft.llm

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.storage.TxTable

/** END-TO-END LLM ingest pipeline — the "daily crawl" composition a
  * training-data deployment actually runs, driven as ONE streaming
  * query over landing JSONL shards:
  *
  *   readJsonlStream (declared schema, corrupt routing)
  *     → error side-channel (countable, never a silent drop)
  *     → quality gate (Gopher word-count rule)
  *     → IncrementalDedup.admitBatch (exact + near-dup vs ALL history,
  *       TxTable state, bucketed Band/Digest indexes)
  *     → admitted corpus TxTable + CorpusProfile HLL registers
  *
  * Pins the cross-component contracts no single-component spec can:
  * corrupt/blank lines count as errors while clean rows flow on; a
  * near-duplicate arriving in a LATER drop is suppressed by the
  * state, not just within its batch; the quality gate runs before
  * admission (rejected docs never pollute the dedup state); the
  * profile's distinct estimate reflects exactly the admitted docs;
  * and re-delivering a processed drop is a no-op everywhere.
  */
class CrawlPipelineSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def jline(id: Long, text: String, src: String): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "$src", "n_chars": ${text.length}}"""

  private val longA = (1 to 80).map(i => s"alpha$i").mkString(" ")
  private val longB = (1 to 80).map(i => s"beta$i").mkString(" ")
  private val longADup = (1 to 77).map(i => s"alpha$i").mkString(" ") // near-dup of longA

  test("drops -> errors/quality/dedup/profile, exactly once, history-aware") {
    val land = Files.createTempDirectory("crawl_land").toString
    val base = Files.createTempDirectory("crawl_tbl").toString
    val state = new TxTable(spark, s"$base/state")
    val sink = new TxTable(spark, s"$base/sink")
    val errs = new TxTable(spark, s"$base/errs")
    val profile = new TxTable(spark, s"$base/profile", partitionCol = "g")
    val run = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val bi = new BandIndex(spark, s"crawl_b_$run")
    val di = new DigestIndex(spark, s"crawl_d_$run")

    def process(batch: DataFrame, date: String): Unit = {
      val wellFormed = !col("is_corrupt")
      // DATA-DERIVED partitions everywhere (admitStream's checkpoint-
      // reset caveat): insertIgnore's dedup is partition-scoped, so a
      // redelivered row must land where its first delivery did — a
      // batchId-derived date would duplicate across a checkpoint reset
      // (this spec's final act IS a reset).
      errs.insertIgnore(batch.filter(col("is_corrupt"))
        .select(col("raw_line"), lit("errors").as("p_date")), Seq("raw_line"))
      val clean = batch.filter(wellFormed)
        .filter(QualityRules.okWordCount(size(TextOps.words(col("text")))))
      val before = sink.version
      IncrementalDedup.admitBatch(state, sink, clean,
        col("doc_id"), col("text"), date, k = 8, bandsOf = 2,
        threshold = 0.5, sinkPartOf = Some(lit("corpus")),
        bands = Some(bi), digests = Some(di))
      // profile exactly the admissions THIS increment delivered: the
      // change feed since the pre-admit version is the O(new) source,
      // and a no-admission redelivery (version unchanged) appends
      // nothing — the once-only fold discipline from CorpusProfile
      if (sink.version > before) {
        val feed = sink.readChangesSince(before, sink.version)
        if (!feed.isEmpty)
          CorpusProfile.appendHll(profile, feed, lit("corpus"), col("doc_id"))
      }
    }

    val q = CorpusIo.readJsonlStream(spark, land)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("crawl_ck").toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        process(b, f"2021-01-${id + 1}%02d")
      }.start()
    try {
      // drop 1: two good docs, one too-short (quality), one garbage line
      Files.writeString(Paths.get(land, "drop-1.jsonl"), Seq(
        jline(1, longA, "web"), jline(2, longB, "web"),
        jline(3, "too short", "web"), "not json at all").mkString("\n"))
      q.processAllAvailable()
      // drop 2: an exact dup of 1, a near-dup of 1, one genuinely new,
      // a blank line
      Files.writeString(Paths.get(land, "drop-2.jsonl"), Seq(
        jline(4, longA, "web2"),
        jline(5, longADup, "web2"),
        jline(6, (1 to 80).map(i => s"gamma$i").mkString(" "), "web2"),
        "   ").mkString("\n"))
      q.processAllAvailable()
    } finally q.stop()

    // errors: the garbage line and the blank line, nothing else
    val errLines = errs.read().select("raw_line").as[String].collect().toSet
    assert(errLines.exists(_.contains("not json")) && errLines.exists(_.trim.isEmpty))
    assert(errLines.size === 2)
    // admitted: 1 and 2 from drop 1; only 6 from drop 2 (4 exact-dup,
    // 5 near-dup vs HISTORY, 3 quality-rejected before admission)
    val admitted = sink.read().select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted === Seq(1L, 2L, 6L))
    // the dedup state never saw the quality reject
    assert(!state.read().select("doc_id").as[Long].collect().contains(3L))
    // profile: distinct-doc estimate over exactly the 3 admitted ids
    val est = CorpusProfile.hllView(profile)
      .filter($"g" === "corpus").select($"est").as[Double].head()
    assert(math.abs(est - 3.0) < 0.7, s"HLL estimate $est far from 3")

    // redelivery of drop 2 through a fresh query is a no-op everywhere
    val q2 = CorpusIo.readJsonlStream(spark, land)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("crawl_ck2").toString)
      .foreachBatch { (b: DataFrame, _: Long) => process(b, "2021-01-02") }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(sink.read().count() === 3L)
    assert(errs.read().count() === 2L)
    assert(math.abs(CorpusProfile.hllView(profile)
      .filter($"g" === "corpus").select($"est").as[Double].head() - est) < 1e-9,
      "idempotent HLL max-merge must leave the estimate unchanged")

    spark.sql(s"DROP TABLE IF EXISTS ${bi.table}")
    spark.sql(s"DROP TABLE IF EXISTS ${di.table}")
  }
}
