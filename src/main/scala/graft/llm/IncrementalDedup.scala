package graft.llm

import graft.storage.{Bucketing, TxTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus dedup — the daily-crawl shape: each new batch
  * dedups against the ACCUMULATED corpus without ever rescanning the
  * corpus text, using a fingerprint state table ([[TxTable]]) of one
  * row per admitted document: (doc_id, digest, minhash m0..m{k−1},
  * p_date = admission date).
  *
  *  - exact: batch digests anti-join stored digests (plus in-batch
  *    keep-lowest-id on identical digests);
  *  - near: stored signatures re-derive their LSH band keys on the
  *    fly; batch bands join them bucket-locally and candidates verify
  *    with the standard MinHash estimate (fraction of equal signature
  *    components) ≥ threshold. Docs too short to shingle carry a null
  *    signature and participate in exact dedup only.
  *
  * Survivors' fingerprints fold back via [[TxTable.insertIgnore]]
  * keyed on doc_id, which makes the whole increment IDEMPOTENT: a
  * crash-redelivered batch anti-joins to nothing and the no-op
  * upsert does not even bump the table version, while a genuinely
  * new batch's admissions flow out of [[TxTable.readChangesSince]]
  * for downstream consumers (the exact shape a training-data
  * freshness pass wants).
  *
  * Scale notes: the state table holds k+2 small values per corpus
  * document — O(corpus) rows but O(1) width, partitioned by admission
  * date. Without an index the band join derives stored band keys per
  * increment — an O(state) map pass PLUS an O(state·bands) shuffle
  * per daily batch. Passing a [[BandIndex]] removes both: band keys
  * are materialized once per admitted document into a table bucketed
  * by the band key — WITH the signature columns riding along, so the
  * bucket-local candidate join hands the estimate verifier everything
  * it needs and the near-dup path never reads the state at all. A
  * [[DigestIndex]] does the same for the EXACT path (otherwise a
  * full-state digest scan + anti-join shuffle per increment); with
  * both, an increment touches no full-state data at all and catch-up
  * is O(new fingerprints) off the state's change feed — the 100 TB
  * layout. In-batch NEAR-dups are out of
  * scope here ([[Dedup.minHashNearDups]] + [[Dedup.components]] own
  * that); this component's contract is increment-vs-history: two
  * near-dup (not byte-identical) docs arriving in the SAME batch are
  * BOTH admitted when neither is in history. The full daily pipeline
  * composes the in-batch pass after admission (spec'd in
  * IncrementalDedupSpec "in-batch NEAR-dups are both admitted"):
  * {{{
  *   val admitted = IncrementalDedup.admit(state, batch, id, text, date)
  *     .localCheckpoint()
  *   val docs  = admitted.select(col("doc_id").as("id"),
  *     TextOps.wordNgrams(TextOps.words(col("text")), 3).as("sh"))
  *   val pairs = Dedup.minHashNearDups(docs, col("id"), col("sh"), 8, 2, 0.5)
  *   val label = Dedup.components(pairs, col("id_a"), col("id_b"), iters = 3)
  *   val kept  = admitted.join(                       // lowest id per cluster
  *     label.filter(col("id") =!= col("label")).select(col("id").as("doc_id")),
  *     Seq("doc_id"), "left_anti")
  * }}}
  * (Both near-dups stay in the STATE either way — each is a valid
  * suppression anchor for future increments.)
  */
object IncrementalDedup {

  /** The state-independent half of an admit: the batch's fingerprint
    * kernel (digest + minhash signature + in-batch keep-lowest-id),
    * kicked as a concurrent materialization at call time. The kernel
    * is the admit's CPU center, and it needs nothing from the state —
    * so a caller catching up over SEVERAL increments calls
    * [[prepare]] for all of them up front and the later batches'
    * kernels run UNDER the earlier increments' state-dependent joins
    * and commits (measured: hides most of increment 1's wall behind
    * increment 2's kernel in the two-increment catalog query).
    */
  def prepare(batch: DataFrame, id: Column, text: Column,
              k: Int = 8): Prepared = {
    val docs = batch.select(id.cast("long").as("doc_id"), text.as("text"))
    val fp = fingerprints(docs, k)
    // in-batch exact dedup first: lowest id wins per digest, as a
    // min_by aggregation rather than a row_number window — the
    // partial aggregate combines map-side, so the digest exchange
    // carries one row per (partition, digest) instead of every row
    // plus a per-partition sort.
    val batchUnique = fp
      .groupBy(col("digest"))
      .agg(min_by(struct(fp.columns.map(col): _*), col("doc_id")).as("__w"))
      .select(col("__w.*"))
      // m-columns extract AFTER the aggregation, off the agg-output
      // attribute — k getItems of an attribute, never k copies of the
      // signature kernel (see fingerprints)
      .select((col("doc_id") +: col("digest") +:
        (0 until k).map(j => col("__sig").getItem(j).as(s"m$j"))): _*)
    import scala.concurrent.Future
    Prepared(docs,
      Future(batchUnique.localCheckpoint(true))(graft.JobPool.ec), k)
  }

  /** A batch with its fingerprint kernel in flight — produced by
    * [[prepare]], consumed by [[admitPrepared]].
    */
  final case class Prepared private[llm] (
      docs: DataFrame,
      private[graft] val fpF: scala.concurrent.Future[DataFrame],
      k: Int)

  /** Admit `batch` against `state`, fold admissions in, and return
    * the admitted rows (original columns). `k` minhash components,
    * bands of `bandsOf`, estimate threshold `threshold`.
    */
  def admit(state: TxTable, batch: DataFrame, id: Column, text: Column,
            date: String, k: Int = 8, bandsOf: Int = 2,
            threshold: Double = 0.5,
            bands: Option[BandIndex] = None,
            digests: Option[DigestIndex] = None): DataFrame =
    admitPrepared(state, prepare(batch, id, text, k), date, bandsOf,
      threshold, bands, digests)

  /** [[admit]] with the batch kernel already in flight — the
    * multi-increment catch-up form (see [[prepare]]).
    * `withDigest = true` appends the admitted rows' content digest
    * (the state table's `digest` column) to the returned frame, so a
    * caller that wants fingerprints of the admissions reads them off
    * the admit it already paid for instead of re-hashing the text.
    */
  def admitPrepared(state: TxTable, p: Prepared, date: String,
                    bandsOf: Int = 2, threshold: Double = 0.5,
                    bands: Option[BandIndex] = None,
                    digests: Option[DigestIndex] = None,
                    withDigest: Boolean = false): DataFrame = {
    val k = p.k
    // fail-loudly hash-scheme contract: stored signatures are only
    // comparable to batch signatures computed under the SAME scheme
    // (see [[Dedup.MinHashScheme]] — a scheme change would otherwise
    // silently degrade near-dup suppression vs history to exact-only).
    // Pinned into the state's props at first admit; checked on every
    // later one. k rides along (a k change also invalidates bands,
    // though that one at least fails visibly at column resolution).
    val want = Map(Dedup.MinHashSchemeProp -> Dedup.MinHashScheme,
      "graft.minhash.k" -> k.toString)
    // Pin only while the state is EMPTY: a non-empty state with no
    // _props predates the pinning contract — its signatures may have
    // been computed under an older scheme, and stamping it with the
    // CURRENT scheme here would legitimize exactly the silent
    // exact-only degradation the check exists to prevent. Such a
    // state is unverifiable: fail and demand a rebuild (or an
    // explicit operator-supplied setPropsIfAbsent acknowledging the
    // scheme really is current).
    val pinned =
      if (state.version < 0) state.setPropsIfAbsent(want)
      else {
        val existing = state.props()
        require(existing.contains(Dedup.MinHashSchemeProp),
          s"fingerprint state ${state.root} is non-empty but has no pinned " +
            s"minhash scheme (predates the pinning contract) — its stored " +
            s"signatures are unverifiable against the current scheme " +
            s"'${Dedup.MinHashScheme}'. Rebuild the state, or pin the known " +
            "scheme explicitly with setPropsIfAbsent before admitting")
        existing
      }
    want.foreach { case (pk, pv) =>
      require(pinned.getOrElse(pk, pv) == pv,
        s"fingerprint state ${state.root} was built with $pk=${pinned(pk)}; " +
          s"this build uses $pv — rebuild the state (and any Band/Digest " +
          "index) under the current scheme, or run a matching build")
    }
    val sigCols = (0 until k).map(s => s"m$s")

    val admittedRaw =
      if (state.version < 0)
        scala.concurrent.Await.result(p.fpF, scala.concurrent.duration.Duration.Inf)
      else {
        val stored = state.read()
        // Kick BOTH index views off concurrently before either is
        // consumed: each view may trigger an independent fold job
        // (bucketed write + catalog ops) against its own table, and
        // those protocol floors (~0.6 s each at sf0.1, measured by
        // IncDedupProbe2) otherwise run back-to-back on the admit
        // path. Concurrent Spark job submission from separate threads
        // is the supported scheduler pattern; failures propagate
        // through Await.result, preserving the fail-loudly contracts.
        // The batch-side minhash kernel (the admit's CPU center) has
        // been materializing since prepare() — the fold floors hide
        // entirely under it instead of preceding it.
        import scala.concurrent.Await
        import scala.concurrent.duration.Duration
        val diViewF = digests.map(di =>
          scala.concurrent.Future(di.view(state))(graft.JobPool.ec))
        val biViewF = bands.map(bi =>
          scala.concurrent.Future(bi.view(state, k, bandsOf))(graft.JobPool.ec))
        val batchUniqueCk = Await.result(p.fpF, Duration.Inf)
        // exact: digest seen before. With a DigestIndex the stored
        // side is the bucketed digest table — zero Exchange, only the
        // batch side shuffles, and the un-folded tail anti-joins as
        // its own small leg; without one this is a full-state digest
        // scan AND shuffle per increment
        val noExact = diViewF match {
          case Some(vf) =>
            val v = Await.result(vf, Duration.Inf)
            val afterMain = batchUniqueCk.join(v.main, Seq("digest"), "left_anti")
            v.tail match {
              case Some(t) => afterMain.join(t, Seq("digest"), "left_anti")
              case None => afterMain
            }
          case None => batchUniqueCk.join(
            stored.select(col("digest")), Seq("digest"), "left_anti")
        }
        // near: candidates from shared LSH band buckets, verified by
        // the signature-overlap estimate. The NEW side's signature
        // rides its own band rows (renamed nm0..nm{k-1}) and the
        // stored side's rides the index rows / derived bands — so the
        // estimate is a FILTER on the candidate join's output, never
        // a separate join back to the signatures. Duplicate (new,old)
        // pairs from multiple matching bands get the same verdict, so
        // the distinct moves to the (far smaller) suppressed-id set.
        val newSig = noExact.filter(col("m0").isNotNull)
          .select((col("doc_id").as("id") +: sigCols.map(col)): _*)
        val nmCols = sigCols.map("n" + _)
        val newBands = Dedup.lshBands(newSig, k, bandsOf, carry = sigCols)
          .select((col("id") +: col("band") +: col("bk") +:
            sigCols.map(m => col(m).as(s"n$m"))): _*)
        val est = sigCols.map(m =>
          when(col(m) === col(s"n$m"), 1.0d).otherwise(0.0d))
          .reduce(_ + _) / k.toDouble
        val suppressed = (biViewF match {
          case Some(vf) =>
            // bucket-local path: the folded main reads with zero
            // Exchange; an un-folded tail (recent admissions below
            // the fold threshold) joins as its own tiny O(new) leg so
            // the union never breaks the main scan's bucketing
            val v = Await.result(vf, Duration.Inf)
            val nb = newBands
              .select((BandIndex.bkey.as("bkey") +: col("id").as("new_id") +:
                nmCols.map(col)): _*)
            def leg(stored: DataFrame) = stored.join(nb, Seq("bkey"))
              .filter(est >= threshold).select(col("new_id"))
            v.tail match {
              case Some(t) => leg(v.main).unionByName(leg(t))
              case None => leg(v.main)
            }
          case None =>
            // derive-from-state path: O(state·bands) shuffle per call
            val oldSig = stored.filter(col("m0").isNotNull)
              .select((col("doc_id").as("id") +: sigCols.map(col)): _*)
            newBands.select((col("band") +: col("bk") +:
                col("id").as("new_id") +: nmCols.map(col)): _*)
              .join(Dedup.lshBands(oldSig, k, bandsOf, carry = sigCols)
                .select((col("band") +: col("bk") +:
                  col("id").as("old_id") +: sigCols.map(col)): _*),
                Seq("band", "bk"))
              .filter(est >= threshold).select(col("new_id"))
        }).select(col("new_id").as("doc_id")).distinct()
        noExact.join(suppressed, Seq("doc_id"), "left_anti")
      }
    // Single-pass commit (round 17, replacing the r15 checkpoint-
    // after-aggregation): the admission frame (minhash + band join +
    // anti-joins) is consumed by the state fold's anti-join, its
    // stage write, AND the returned join — the r15 fix was a
    // localCheckpoint (measured 11.9 s → 3.0 s at sf0.1, vs per-
    // action lineage re-execution); now the commit's own stage write
    // is the ONLY execution of the lineage and the committed files
    // double as the checkpoint the returned join reads
    // (insertIgnoreReturning — one materialization instead of
    // checkpoint-store + stage-read, and no lazy checkpoint left to
    // race under AQE). Interleaved A/B (IncDedupProbe6, 10 rounds,
    // sf0.1): WALL-NEUTRAL (medians
    // 2.54 vs 2.55 s, 26→25 jobs) — the checkpoint job was fully
    // hidden under concurrent protocol work at this size; the win is
    // one fewer pass of the admission lineage in CPU and no pinned
    // executor copy, which is what matters on a busy cluster. (A
    // coalesce(4) of the stage write was A/B'd alongside and was
    // also a wash: renames are not the floor on this fs.) The
    // partition is the literal stamped here — no touchedPartitions job
    // on the commit hot path; an empty state takes the whole admission
    // as its first commit.
    val admitted = state.insertIgnoreReturning(
      admittedRaw.select(
        (col("doc_id") +: col("digest") +: sigCols.map(col)) :+ lit(date).as("p_date"): _*),
      Seq("doc_id"), knownParts = Some(Set(date)))._2
    if (withDigest)
      p.docs.join(admitted.select(col("doc_id"), col("digest")), Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("digest"))
    else
      p.docs.join(admitted.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("text"))
  }

  /** [[admit]] as a streaming sink — the live form of the daily-crawl
    * shape: every micro-batch dedups against the accumulated corpus
    * and appends its admissions to `sink`, both TxTables.
    *
    * Exactly-once from at-least-once redelivery, WITHOUT relying on
    * the micro-batch running to completion: the delivery frame is NOT
    * [[admit]]'s return value but `batch ⋈ state` on doc_id —
    * a doc_id is in the state iff some attempt admitted it, so a
    * batch that crashed AFTER the state fold but BEFORE the sink
    * write still delivers those docs when redelivered (admit itself
    * re-admits nothing on the retry), and a redelivery after a
    * complete batch no-ops in both tables via insertIgnore. The
    * composition requires globally unique doc_ids across batches —
    * the same key contract the state fold already has.
    *
    * SINK PARTITIONING AND CHECKPOINT RESETS: the sink's insertIgnore
    * dedup is scoped to the partitions a batch touches, so exactly-
    * once holds only while a redelivered doc lands in the SAME sink
    * partition as its first delivery. The default (`sinkPartOf` =
    * None) partitions by `dateOf(batchId)`, which is stable across
    * ordinary redeliveries (same checkpoint ⇒ same batchId) but NOT
    * across a checkpoint RESET — reprocessed data arrives under new
    * batchIds, lands in a different partition, and duplicates. A
    * deployment that may reset checkpoints must pass `sinkPartOf`, a
    * Column over the stream's own columns (e.g.
    * `date_format(col("ts"), "yyyy-MM-dd")` from a document
    * timestamp): a data-derived partition is reset-proof because the
    * data, not the scheduler, names it. (The STATE table needs no
    * such care — admission dedups against the full stored digest/
    * signature set regardless of partition.)
    *
    * Scale: the recovery join is a doc_id semi-join against the
    * state's two narrow columns — same O(state) cost class as the
    * band derivation inside [[admit]], and only the key column is
    * read off the columnar state.
    */
  def admitStream(state: TxTable, sink: TxTable, stream: DataFrame,
                  id: Column, text: Column, checkpoint: String,
                  dateOf: Long => String = _ => "1970-01-01",
                  k: Int = 8, bandsOf: Int = 2,
                  threshold: Double = 0.5,
                  sinkPartOf: Option[Column] = None,
                  bands: Option[BandIndex] = None,
                  digests: Option[DigestIndex] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(state, sink, batch, id, text, dateOf(batchId), k, bandsOf,
          threshold, sinkPartOf, bands, digests)
      }
      .start()

  /** One micro-batch of [[admitStream]], exposed so specs can drive
    * the crash-between-fold-and-delivery redelivery directly.
    */
  private[llm] def admitBatch(state: TxTable, sink: TxTable, batch: DataFrame,
                              id: Column, text: Column, date: String,
                              k: Int, bandsOf: Int, threshold: Double,
                              sinkPartOf: Option[Column] = None,
                              bands: Option[BandIndex] = None,
                              digests: Option[DigestIndex] = None): Unit = {
    // the sink partition is evaluated over the ORIGINAL batch columns
    // (before the id/text projection) so callers can derive it from a
    // document timestamp — see the checkpoint-reset caveat above
    val docs = batch.select(id.cast("long").as("doc_id"), text.as("text"),
      sinkPartOf.getOrElse(lit(date)).cast("string").as(sink.partitionCol))
    admit(state, batch, id, text, date, k, bandsOf, threshold, bands, digests)
    // recovery-safe delivery: admitted-by-ANY-attempt, not by this one.
    val delivered = docs.join(state.read().select(col("doc_id")), Seq("doc_id"))
    sink.insertIgnore(delivered, Seq("doc_id"))
  }

  /** (doc_id, digest, __sig) — `__sig` the k-component minhash
    * signature array, null for docs too short to shingle (< 3 words).
    *
    * Plan shape (round 16, replacing the r15 explode+agg form): the
    * whole signature kernel is ONE scan-local projection — the native
    * [[graft.functions.MinHashSig]] expression computes the k
    * min-slices over the shingle array in a single pass (same
    * md5x2-slice32 scheme, value-identical; MinHashSigSpec pins the
    * equality), so the per-shingle row explosion, the doc-keyed
    * 8×min hash aggregate, AND the d0 checkpoint the old Generate
    * needed as a CollapseProject barrier all disappear. The caller
    * extracts m0..m{k−1} AFTER its digest aggregation, where `__sig`
    * is a plain attribute — item extraction there cannot duplicate
    * the kernel (the DupExprAudit discipline).
    */
  private def fingerprints(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("digest"),
      graft.functions.MinHashSig.minHashSig(
        TextOps.wordNgrams(TextOps.words(col("text")), 3), k).as("__sig"))
}

/** Bucketed band-key companion index for [[IncrementalDedup.admit]] —
  * the 100 TB layout lever its scaladoc names: instead of re-deriving
  * LSH band keys from the ENTIRE fingerprint state on every increment
  * (an O(corpus) map pass plus an O(corpus·bands) shuffle per daily
  * batch), band keys are materialized ONCE per admitted document into
  * a managed parquet table bucketed (and sorted) by the folded band
  * key `bkey = band|bk` via [[Bucketing]] — with the k signature
  * columns carried on each row, so a candidate pair leaves the join
  * already holding what the estimate verifier needs. Each increment's
  * candidate join then:
  *  - reads the stored side with ZERO Exchange — the scan's bucket
  *    layout IS the join partitioning, so only the (small) batch side
  *    shuffles, into `buckets` tasks;
  *  - is bucket-local: a join task holds one stored bucket and
  *    exactly the batch keys that hash to it, so stored band keys
  *    colliding with nothing in the batch never leave their scan.
  *
  * The index is main+delta (the LSM/Delta compaction pattern),
  * because the probe that motivated it (BandIndexProbe) showed the
  * bucketed APPEND's fixed cost (~3 s of table write + catalog ops at
  * local[32]) recurring every increment if catch-up always folds:
  *  - the MAIN is the bucketed table, covering state versions
  *    ≤ `graft.state.version` (TBLPROPERTIES);
  *  - the TAIL — state rows committed after that version, read off
  *    [[TxTable.readChangesSince]] — is served at query time by
  *    deriving its bands on the fly, an O(tail) map, and joins as its
  *    own leg so the union never breaks the main scan's bucketing;
  *  - [[view]] FOLDS the tail into the main only once it exceeds
  *    `minFoldRows` — the append cost is amortized over the
  *    increments that rode the tail for free.
  * A crash between the fold's append and its version bump makes the
  * next view re-append those bands; duplicate band rows only produce
  * duplicate candidate pairs, which the admit verifier's distinct
  * absorbs — correctness never depends on fold timing. Two
  * operational contracts: state-table vacuum retention must cover the
  * index's lag (the standard change-feed horizon), and the band
  * geometry (k, bandsOf) is pinned at first fold — a mismatched call
  * fails loudly rather than mixing incompatible keys.
  *
  * `buckets` is a layout constant (see [[Bucketing]]'s sizing note):
  * pick ≈ corpus band rows / target partition size at the LARGEST
  * expected corpus, not today's. `minFoldRows` trades tail-derivation
  * work (an O(tail) map per increment) against append fixed cost;
  * the default folds once the tail outgrows a few bucket files.
  */
final class BandIndex(spark: SparkSession, table: String,
                      buckets: Int = 32, minFoldRows: Long = 100000L)
    extends FoldIndex(spark, table, buckets, minFoldRows) {

  override protected def keyCol: String = "bkey"

  /** The candidate join's stored side at `state`'s current version:
    * bucketed main + optional derived tail. Folds the tail into the
    * main when it has outgrown `minFoldRows` (or the main doesn't
    * exist yet — the one-time backfill). The main's rows are
    * (bkey, old_id, m0..m{k−1}) — the signature columns make
    * verification bucket-local, not just candidate generation.
    */
  def view(state: TxTable, k: Int, bandsOf: Int): FoldIndex.View =
    viewWith(state,
      Map(BandIndex.KProp -> k.toString, BandIndex.BandsOfProp -> bandsOf.toString,
        Dedup.MinHashSchemeProp -> Dedup.MinHashScheme),
      { src =>
        val sig = src.filter(col("m0").isNotNull)
          .select((col("doc_id").as("id") +: (0 until k).map(i => col(s"m$i"))): _*)
        // the signature rides into the index rows so the estimate
        // verification never has to hydrate it from the state again
        Dedup.lshBands(sig, k, bandsOf, carry = (0 until k).map(i => s"m$i"))
          .select((BandIndex.bkey.as("bkey") +: col("id").as("old_id") +:
            (0 until k).map(i => col(s"m$i"))): _*)
      })
}

/** Bucketed digest companion index — the EXACT-dedup counterpart of
  * [[BandIndex]]: without it, every increment's digest anti-join
  * sort-merges the FULL stored digest set (an O(corpus) shuffle per
  * daily batch — the last full-state shuffle left on the admit path).
  * Digests are materialized once per admitted document into a table
  * bucketed by digest, so the anti-join's stored side reads with ZERO
  * Exchange and only the (small) batch side shuffles; the un-folded
  * tail anti-joins as its own tiny O(new) leg. Same main+delta fold,
  * crash, and vacuum-retention contracts as [[BandIndex]].
  */
final class DigestIndex(spark: SparkSession, table: String,
                        buckets: Int = 32, minFoldRows: Long = 100000L)
    extends FoldIndex(spark, table, buckets, minFoldRows) {

  override protected def keyCol: String = "digest"

  /** The exact anti-join's stored side at `state`'s current version:
    * bucketed main + optional derived tail, one `digest` column.
    */
  def view(state: TxTable): FoldIndex.View =
    viewWith(state, Map.empty, _.select(col("digest")))
}

/** Main+delta bucketed fold machinery shared by [[BandIndex]] and
  * [[DigestIndex]]: a managed table bucketed by `keyCol` (the MAIN),
  * TBLPROPERTIES pinning the covered state version + any geometry,
  * and a derived TAIL for state rows committed past that version,
  * folded in once it outgrows `minFoldRows`. Subclasses supply the
  * key column and a per-call derivation; `viewWith` owns the catalog
  * round-trip caching, the fail-loudly property checks, and the fold
  * decision.
  */
sealed abstract class FoldIndex(val spark: SparkSession, val table: String,
                                val buckets: Int, val minFoldRows: Long)
    extends Serializable {

  protected def keyCol: String

  private def exists: Boolean = spark.catalog.tableExists(table)

  private def props(): Map[String, String] =
    if (!exists) Map.empty
    else spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** The state version the bucketed MAIN covers (−1 = no main yet);
    * newer state rows are served from the derived tail until folded.
    */
  def coveredVersion: Long =
    props().get(FoldIndex.VersionProp).map(_.toLong).getOrElse(-1L)

  /** The bucketed main with the bucket layout exposed. */
  def read(): DataFrame = spark.table(table)

  /** The stored side at `state`'s current version: bucketed main +
    * optional derived tail (`derive` over the state rows not yet
    * folded). Folds the tail into the main when it has outgrown
    * `minFoldRows` (or the main doesn't exist yet — the one-time
    * backfill); `geometry` is pinned into TBLPROPERTIES at first fold
    * and a mismatched later call fails loudly rather than mixing
    * incompatible keys.
    */
  protected def viewWith(state: TxTable, geometry: Map[String, String],
                         derive: DataFrame => DataFrame): FoldIndex.View = {
    val cur = state.version
    // one catalog round-trip per call: tableExists + SHOW TBLPROPERTIES
    // are metastore RPCs on the daily-increment hot path
    val tableExists = exists
    val p = if (tableExists)
      spark.sql(s"SHOW TBLPROPERTIES $table").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    else Map.empty[String, String]
    if (tableExists) {
      // data without the version/geometry props = a crash between the
      // first fold's table write and its property commit; the promised
      // fail-loudly contract must hold HERE, or a later call with
      // different geometry would silently append mixed keys
      require(p.contains(FoldIndex.VersionProp) && geometry.keys.forall(p.contains),
        s"index $table exists but its fold properties are missing — " +
          s"likely a crashed first fold; DROP TABLE $table and re-run to rebuild")
      geometry.foreach { case (gk, gv) =>
        require(p(gk) == gv,
          s"index $table was built with $gk=${p(gk)}, called with $gk=$gv")
      }
    }
    val from = p.get(FoldIndex.VersionProp).map(_.toLong).getOrElse(-1L)
    if (cur < 0 || from >= cur) return FoldIndex.View(read(), None)

    val src = if (from < 0) state.read() else state.readChangesSince(from, cur)
    val tailRows = derive(src)
    // fold decision on the narrow state-row count (columnar, O(tail));
    // the first call always folds — it IS the backfill
    if (!tableExists || src.count() >= minFoldRows) {
      if (!tableExists) Bucketing.writeBucketed(tailRows, table, keyCol, buckets)
      else Bucketing.appendBucketed(tailRows, table, keyCol, buckets)
      val propsSql = (geometry + (FoldIndex.VersionProp -> cur.toString))
        .map { case (gk, gv) => s"'$gk'='$gv'" }.mkString(",")
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES($propsSql)")
      FoldIndex.View(read(), None)
    } else FoldIndex.View(read(), Some(tailRows))
  }
}

object FoldIndex {
  private[llm] val VersionProp = "graft.state.version"

  /** The stored side of an increment's join: the bucketed `main` scan
    * plus the optional un-folded `tail` (derived O(new) at query
    * time). Joined as separate legs to preserve the main's
    * bucket-local plan.
    */
  final case class View(main: DataFrame, tail: Option[DataFrame])
}

object BandIndex {
  private[llm] val KProp = "graft.band.k"
  private[llm] val BandsOfProp = "graft.band.bandsOf"

  /** The folded single-column bucket key over a (band, bk) frame; the
    * delimiter keeps (1,"23") and (12,"3") distinct.
    */
  private[llm] def bkey: Column = concat_ws("|", col("band"), col("bk"))
}
