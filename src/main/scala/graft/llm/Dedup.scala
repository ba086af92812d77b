package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash. Designed for the 100 TB case:
  *
  *  - exact dedup is one hash-groupBy (shuffle on the digest);
  *  - MinHash/LSH shuffles (doc → shingle → signature → band bucket)
  *    are all key-partitioned with map-side combines; candidate
  *    verification joins only within LSH buckets, never all-pairs;
  *  - hashes are md5-derived (deterministic everywhere) rather than
  *    JVM hashCode, so results are reproducible across engines and
  *    runs — which also makes them oracle-checkable.
  */
object Dedup {

  /** Exact-duplicate mapping: for each id whose digest has a smaller
    * canonical id, emit (id, canon_id). Input cols: (idCol, digest =
    * e.g. TextOps.fingerprint(text)).
    */
  def exactDupMapping(df: DataFrame, id: Column, digest: Column): DataFrame = {
    // Window-min instead of groupBy+self-join: one digest computation
    // and one shuffle on digest, no second scan of the input.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))
    df.select(id.as("id"), digest.as("digest"))
      .withColumn("canon_id", min(col("id")).over(w))
      .filter(col("id") =!= col("canon_id"))
      .select(col("id"), col("canon_id"))
  }

  /** The shared minhash hashing scheme: ONE md5 per shingle per FOUR
    * seeds, sliced into disjoint 8-hex (32-bit) values — md5's 128
    * bits carry four independent uniform orderings, so hashing once
    * and slicing is the same hash family as four seeded digests at a
    * quarter of the CPU (the dominant map cost of every minhash
    * operator; the one-permutation-hashing observation of Li et al.,
    * NIPS'12, applied conservatively — four slices, not one pass).
    * The digests are PROJECTED below the aggregate ([[minHashDigests]])
    * rather than repeated inside each min() so evaluation-once is plan
    * structure, not a codegen-CSE hope (the DupExprAudit lesson).
    * Slice width 32 bits: a cross-shingle slice collision needs 2^32
    * agreement, immaterial to a min over ≤10^5-shingle documents,
    * and the narrower values also shrink every signature row, band
    * key, and estimate comparison downstream.
    */
  private[llm] def minHashDigests(shingle: Column): Seq[Column] =
    Seq(shingle.as("__sh"),
      md5(concat(lit("0|"), shingle)).as("__mh0"),
      md5(concat(lit("1|"), shingle)).as("__mh1"))

  /** Version tag of the [[minHashDigests]] hash scheme. Persisted
    * signatures (IncrementalDedup fingerprint state, [[BandIndex]]
    * tables) are only comparable to signatures computed under the
    * SAME scheme — a scheme change makes old m-values never equal new
    * ones, silently degrading near-dup suppression to exact-only — so
    * the tag is pinned into state props / index TBLPROPERTIES at
    * first write and checked on every later use. Bump it whenever the
    * hash family changes (it did once: per-seed full md5 → 8-hex
    * slices of two md5s, which this tag names).
    */
  val MinHashScheme = "md5x2-slice32"

  /** Property key [[MinHashScheme]] is pinned under. */
  private[llm] val MinHashSchemeProp = "graft.minhash.scheme"

  /** The k min-aggregates over [[minHashDigests]]' projected columns:
    * seed j reads slice j%4 of digest j/4. Supports k ≤ 8 (two
    * digests); widen minHashDigests for larger k.
    */
  private[llm] def minHashAggs(k: Int): Seq[Column] = {
    require(k <= 8, s"minhash scheme carries 2 digests = 8 slices, got k=$k")
    (0 until k).map { j =>
      min(substring(col(s"__mh${j / 4}"), 1 + 8 * (j % 4), 8)).as(s"m$j")
    }
  }

  /** LSH band keys from a signature row: `bandsOf` consecutive hashes
    * join (in seed order, ``-delimited) into one bucket key per
    * (id, band). The delimiter matters for variable-width hash strings
    * (xxhash64 decimals in [[minHashCandidates]]): separator-less
    * concat would let "12"+"3" collide with "1"+"23", inflating
    * candidate counts unpredictably at scale (harmless to results —
    * the exact verifier filters — but not to cost).
    */
  def lshBands(sig: DataFrame, k: Int, bandsOf: Int,
               blockCols: Seq[Column] = Nil,
               carry: Seq[String] = Nil): DataFrame = {
    require(k % bandsOf == 0,
      s"k=$k must be a multiple of bandsOf=$bandsOf (trailing hashes would be silently dropped)")
    val bands = (0 until k / bandsOf).map { b =>
      // blockCols fold hard-blocking keys (e.g. lang, source) INTO the
      // bucket key, so cross-block candidate pairs never materialize --
      // strictly cheaper than generating candidates globally and
      // filtering the block predicate after the join.
      val key = concat_ws("",
        blockCols ++
          (b * bandsOf until (b + 1) * bandsOf).map(s => col(s"m$s")): _*)
      struct(lit(b.toLong).as("band"), key.as("bk"))
    }
    // `carry` rides extra columns through the explode (e.g. the
    // signature itself, for a band table that answers verification
    // without re-reading the signature source)
    sig.select((col("id") +: carry.map(col)) :+ explode(array(bands: _*)).as("bb"): _*)
      .select((col("id") +: carry.map(col)) :+
        col("bb.band").as("band") :+ col("bb.bk").as("bk"): _*)
  }

  /** Candidate pairs: ids sharing any LSH band bucket (id_a < id_b). */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("bk"), col("id").as("id_a"))
    val b = bands.select(col("band"), col("bk"), col("id").as("id_b"))
    a.join(b, Seq("band", "bk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Cross-document VERBATIM span pairs — the exact-substring form of
    * near-dup detection (Lee/Ippolito et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22): two documents pair
    * iff they share at least one exact `n`-token span, found by
    * joining on the span text itself (each n-gram is its own bucket —
    * no hashing, no false positives, candidates ARE verifications).
    * Returns (id_a, id_b, n_shared = number of distinct shared spans,
    * span = lexicographically-first witness).
    *
    * `maxDf` prunes spans present in more than that many documents
    * before the pair join — boilerplate (license headers, navigation
    * chrome) would otherwise go quadratic, exactly the [[simHashPairs]]
    * / video shared-frame df-prune rule; dropped spans are the ones a
    * dedup decision should not be based on anyway. Shape: one distinct
    * + one df aggregation + a per-span bucket join — nothing all-pairs.
    * `assumeDistinct` skips the (id, gram) dedup exchange when the
    * caller already exploded a per-document-distinct gram set (the
    * usual `explode(array_distinct(...))` shape) — that distinct is
    * the widest shuffle in the operator (full n-gram strings), and
    * re-running it on already-unique rows buys nothing.
    */
  def sharedSpanPairs(exploded: DataFrame, id: Column, gram: Column,
                      minDf: Long = 2L, maxDf: Long = 32L,
                      assumeDistinct: Boolean = false): DataFrame = {
    val raw = exploded.select(id.as("id"), gram.as("g"))
    val g = if (assumeDistinct) raw else raw.distinct()
    // measured and rejected (SpanAbProbe, 10x corpus, interleaved):
    // keying the df-prune and pair-join on md5(g) instead of the span
    // text is a WASH here (3.2 s text vs 3.3 s digest) — the witness
    // gram must ride the a-leg for min(span) anyway, so the digest
    // only narrows half the shuffle while paying a hash per row.
    // (Contrast llm_kmv_setops, where NO text survives the join and
    // the digest key won 4.4 → 2.6 s.)
    // df as a WINDOW over the gram, not groupBy + join back: the join
    // form consumed `g` twice, so the explode+distinct kernel ran
    // twice (RecomputeScan r15: 5.5 + 4.6 s CPU twin jobs; the
    // containmentPairs fix applied here). The two pair-join legs
    // below share the window's exchange via ReuseExchange.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val pruned = g.withColumn("__df", count(lit(1)).over(wg))
      .filter(col("__df") >= minDf && col("__df") <= maxDf)
      .select(col("g"), col("id"))
    pruned.select(col("g"), col("id").as("id_a"))
      .join(pruned.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"), min(col("g")).as("span"))
  }

  /** Asymmetric containment pairs over informative grams — the
    * quote/excerpt detector the Jaccard family misses: containment
    * C(A ⊆ B) = |grams(A) ∩ grams(B)| / |grams(A)| (Broder's
    * containment coefficient, "On the resemblance and containment of
    * documents", SEQUENCES'97) is ≈ 1 for an excerpt inside a much
    * larger source while their Jaccard is only ≈ |A|/|B|.
    * Gram roles differ by document frequency: boilerplate (df >
    * maxDf, the [[sharedSpanPairs]] bound) is excluded from BOTH the
    * shared count and the |grams(A)| denominator — template text is
    * evidence of nothing, and pruning it must not deflate a true
    * excerpt's score; df-1 grams stay in the DENOMINATOR (unique
    * content is evidence AGAINST being contained) but skip the pair
    * join, where minDf ≥ 2 is purely an optimization (a df-1 gram
    * cannot form a pair). Pairs come from that posting join keyed on
    * md5(g): no
    * gram text survives the join, so the 16-byte digest key narrows
    * the whole shuffle (the llm_kmv_setops precedent; contrast
    * sharedSpanPairs, where the witness span must ride anyway).
    * Emitted in BOTH directions (containment is asymmetric), cut by
    * integer cross-multiplication (shared·100 ≥ pct·n_a). Returns
    * (id_a, id_b, n_a, shared, containment): A = the contained side.
    */
  def containmentPairs(exploded: DataFrame, id: Column, gram: Column,
                       minDf: Long = 2L, maxDf: Long = 32L,
                       minContainPct: Int = 80,
                       assumeDistinct: Boolean = false): DataFrame = {
    val raw = exploded.select(id.as("id"), md5(gram.cast("string")).as("d"))
    // callers exploding array_distinct'd gram sets skip the exchange
    // (the sharedSpanPairs contract)
    val g = if (assumeDistinct) raw else raw.distinct()
    // df as a WINDOW over the digest, not a groupBy + join back: the
    // join form consumed `g` twice, so the tokenize + n-gram + md5 +
    // distinct kernel ran twice before the checkpoint (IncDedupProbe4:
    // two concurrent 64-task jobs, 8.7 + 4.2 s CPU); the window runs
    // it once into a single digest-keyed exchange.
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("d"))
    // Materialize the df-pruned posting frame ONCE: it is consumed
    // three times below (sizes, both pair-join sides), and unlike the
    // marginScore counter-case its upstream kernel is far heavier
    // than the narrow (digest, id, df) rows it produces. Measured
    // (ContainProbe, sf0.1, same-session A/B): 2.75 s → 1.71 s. At
    // cluster scale the same move is persist(DISK) or a staging table
    // if executor-loss recomputability matters — localCheckpoint
    // truncates lineage.
    // EAGER (r17): CheckpointRaceSpec caught the lazy form racing
    // under AQE — the nA and pair-join map stages both computed the
    // kernel before the checkpoint materialized (shipped stage CPU
    // ~2x the kernel-once reference). ContainCkProbe interleaved A/B
    // (7 rounds, sf0.1): lazy 1.19 s vs eager 1.25 s median — wall
    // within noise on 32 idle cores, so the single-pass CPU wins (the
    // r16 winnow/source_overlap rule: CPU-halved wall-neutral fixes
    // are kept for the busy-cluster property).
    // A numbered repartition on the digest before the window was
    // A/B-REJECTED (R16AbProbe, interleaved in-session, 5 rounds:
    // 1.65 vs 1.23 s — 34% WORSE). Per-job cpuMs suggested AQE's
    // 8-task coalescing of the posting stages was the bottleneck, but
    // wall says the fewer/bigger tasks win at this size — cpuMs
    // inflates ~10x under 32-thread contention and must not drive
    // plan choices (the r15 lesson, reconfirmed).
    val informative = g.withColumn("__df", count(lit(1)).over(wd))
      .filter(col("__df") <= maxDf)
      .localCheckpoint(true)
    val nA = informative.groupBy(col("id")).agg(count(lit(1)).as("n_a"))
    val pruned = informative.filter(col("__df") >= minDf)
    pruned.select(col("d"), col("id").as("id_a"))
      .join(pruned.select(col("d"), col("id").as("id_b")), Seq("d"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(nA.select(col("id").as("id_a"), col("n_a")), "id_a")
      .filter(col("shared") * lit(100L) >= lit(minContainPct.toLong) * col("n_a"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("shared"),
        (col("shared").cast("double") / col("n_a").cast("double")).as("containment"))
  }

  /** THE sigd/docsig construction shared by [[minHashNearDups]] and
    * [[minHashEstimates]] (factored round 17 so a kernel change cannot
    * drift the twins apart): docs → (id, gs distinct-shingle set,
    * m0..m{k−1} signature components), one kernel pass, checkpointed.
    *
    * Plan-shape discipline, all measured (round 16):
    *  - the signature kernel is scan-local — the native
    *    [[graft.functions.MinHashSig]] expression (md5x2-slice32,
    *    value-identical to the explode→2×md5→groupBy(8×min) scheme;
    *    MinHashSigSpec) means no per-shingle rows and no doc-keyed
    *    hash aggregate exist at all;
    *  - the distinct shingle set evaluates ONCE under a single-element
    *    explode_outer Generate barrier — CollapseProject would
    *    otherwise inline the tokenize chain into BOTH the gs and sig
    *    expressions (a fused draft that did exactly that measured
    *    3.4 vs 1.4 s, R16AbProbe); MinHashSig then hashes the
    *    generated ATTRIBUTE (distinct set — min is duplicate-
    *    insensitive: same values, fewer md5s);
    *  - the shingle-less filter sits ABOVE the checkpoint so predicate
    *    pushdown cannot clone the sig expression into a pre-barrier
    *    Filter; `__sig IS NOT NULL` reproduces the old absence of
    *    shingle-less docs (their exploded rows all filtered out, so
    *    they never formed a group);
    *  - the lazy checkpoint guards the THREE consumers (bands + both
    *    verify sides) from re-running the kernel; MinHashRecomputeSpec
    *    pins that at runtime.
    *
    * [[editNearDups]] and `IncrementalDedup.fingerprints` carry
    * RELATED but deliberately different shapes (no gs payload / no
    * checkpoint — single consumer, different carried columns), so they
    * are not call sites of this helper.
    */
  private[llm] def docSigWithSet(docs: DataFrame, id: Column,
                                 shinglesCol: Column, k: Int): DataFrame = {
    val sigd = docs
      .select(id.as("id"),
        explode_outer(array(array_compact(array_distinct(shinglesCol)))).as("gs"))
      .select(col("id"), col("gs"),
        graft.functions.MinHashSig.minHashSig(col("gs"), k).as("__sig"))
      .localCheckpoint(false)
      .filter(col("__sig").isNotNull)
    sigd.select((col("id") +: col("gs") +:
      (0 until k).map(j => col("__sig").getItem(j).as(s"m$j"))): _*)
  }

  /** Full MinHash+LSH near-dup pipeline: docs(id, shingles array) →
    * pairs with exact Jaccard ≥ threshold.
    *
    * Fused shape: ONE pass computes the distinct shingle set AND the
    * k-hash signature; bands, the candidate join, and both hydration
    * sides reuse it, so the shingling — typically the dominant cost —
    * is evaluated once, not once per consumer. Jaccard here is
    * array_intersect over the carried sets: same integers as a
    * join-count form, since sets are per-doc distinct.
    */
  def minHashNearDups(docs: DataFrame, id: Column, shinglesCol: Column,
                      k: Int, bandsOf: Int, threshold: Double): DataFrame = {
    val docsig = docSigWithSet(docs, id, shinglesCol, k)
    val cand = lshCandidates(lshBands(docsig, k, bandsOf))
    val a = docsig.select(col("id").as("id_a"), col("gs").as("ga"))
    val b = docsig.select(col("id").as("id_b"), col("gs").as("gb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("na", size(col("ga"))).withColumn("nb", size(col("gb")))
      .withColumn("ninter", size(array_intersect(col("ga"), col("gb"))))
      .select(col("id_a"), col("id_b"),
        (col("ninter") * lit(1.0d) /
          (col("na") + col("nb") - col("ninter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sketch-calibration form of [[minHashNearDups]]: every LSH
    * candidate pair with BOTH the signature-estimated Jaccard (the
    * matching-component fraction — Broder '97's unbiased E[est] = J
    * estimator) and the exact Jaccard, so a pipeline can size `k`
    * against the error it can tolerate instead of guessing. Same
    * fused single-groupBy shape as [[minHashNearDups]]; deliberately
    * NO threshold — sub-threshold candidates are exactly where the
    * estimate's error matters.
    *
    * Returns (id_a, id_b, n_match, est, jaccard).
    */
  def minHashEstimates(docs: DataFrame, id: Column, shinglesCol: Column,
                       k: Int, bandsOf: Int): DataFrame = {
    val docsig = docSigWithSet(docs, id, shinglesCol, k)
    val cand = lshCandidates(lshBands(docsig, k, bandsOf))
    val a = docsig.select(col("id").as("id_a") +: col("gs").as("ga") +:
      (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = docsig.select(col("id").as("id_b") +: col("gs").as("gb") +:
      (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("n_match", nMatch)
      .withColumn("ninter", size(array_intersect(col("ga"), col("gb"))))
      .select(col("id_a"), col("id_b"), col("n_match"),
        (col("n_match").cast("double") / k).as("est"),
        (col("ninter") * lit(1.0d) /
          (size(col("ga")) + size(col("gb")) - col("ninter"))).as("jaccard"))
  }

  /** Quality-aware survivor selection over near-dup clusters: keep
    * the HIGHEST-quality member of each component instead of the
    * conventional lowest-id — the choice a production dedup actually
    * wants (among near-duplicate crawls of a page, keep the cleanest
    * extraction, not the one that happened to arrive first). Ties
    * break (quality desc, id asc), so selection is deterministic for
    * any float score.
    *
    * `labels` is [[components]]/[[componentsStar]] output (id, label);
    * `quality` maps id → score. Shape: one keyed join, a per-label
    * count aggregation, and a rank-1 window whose `row_number = 1`
    * filter plans the map-side Partial WindowGroupLimit below the
    * exchange (the [[Sampling.capPerGroup]] pushdown) — a mega-cluster
    * costs k·partitions reducer rows, never its raw membership.
    * Returns one row per cluster: (label, id, q, n_members).
    */
  def keepBest(labels: DataFrame, quality: DataFrame,
               id: Column, q: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = labels.select(col("id"), col("label"))
    val sc = quality.select(id.as("id"), q.as("q"))
    val m = lab.join(sc, "id")
    val counts = m.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    val w = Window.partitionBy(col("label")).orderBy(col("q").desc, col("id"))
    m.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(counts, "label")
      .select(col("label"), col("id"), col("q"), col("n_members"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * releases: per-id status from a fingerprint compare. `added` =
    * id only in `newDf`; `removed` = only in `oldDf`; `changed` =
    * both, different fingerprint; `unchanged` otherwise. One
    * id-keyed full-outer join of two narrow (id, fingerprint)
    * frames — fingerprints (16-byte digests), never text, cross the
    * shuffle, and at 100 TB both sides come off stored fingerprint
    * state ([[IncrementalDedup]]'s), not a re-read of the corpora.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   id: Column, fingerprint: Column): DataFrame = {
    // Generate barrier on each side: the status CASE references the
    // fingerprint at three sites, and substitution would re-hash the
    // text per site (the editNearDups/llm_winnow lesson); behind the
    // explode each row fingerprints exactly once.
    val o = oldDf.select(id.as("id"),
      explode(array(fingerprint)).as("__fp_old"))
    val n = newDf.select(id.as("id"),
      explode(array(fingerprint)).as("__fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Edit-distance-verified near-dup: the sequence-level verification
    * stage fuzzy-dedup pipelines add where set-overlap over-admits —
    * Jaccard is order-blind, so two documents with the same shingle
    * bag in a different arrangement can clear a set threshold while
    * reading as different text; normalized Levenshtein similarity
    * `1 − lev(a,b)/max(|a|,|b|)` certifies the pair at the character-
    * sequence level (the verifier CCNet/CodeParrot-style near-dedup
    * runs on its candidate pairs). Candidates come from the same
    * MinHash-LSH machinery as [[minHashNearDups]] — the O(|a|·|b|) DP
    * runs ONLY on bucket-local candidates, never all-pairs.
    *
    * Length prefilter before the DP: `lev(a,b) ≥ |len_a − len_b|`
    * always, so `sim ≤ 1 − Δlen/maxlen` — a pair whose lengths alone
    * put it under `tau` is discarded from two already-carried integers
    * without evaluating `levenshtein`. The prefilter threshold carries
    * a +1 slack so it is a strict SUPERSET gate: a pair whose exact
    * sim lands precisely on `tau` can never be lost to floating-point
    * boundary rounding in the cheap gate — the exact sim filter is
    * the only place a keep/drop decision is made. At 100 TB the DP cost is
    * bounded by candidate count × document length; pipelines bound the
    * latter by chunking upstream ([[graft.TextOps.tokenChunks]] /
    * `cdc_gear_chunks`) — this operator deliberately does not truncate
    * text itself, which would silently change the metric.
    *
    * Both `length` and `levenshtein` count CHARACTERS (not bytes) and
    * are the classic integer DP in Spark and DuckDB alike, so `dist`
    * is engine-exact; `sim` is one integer division in IEEE double.
    * Returns (id_a, id_b, dist, sim) with sim ≥ tau.
    */
  def editNearDups(docs: DataFrame, id: Column, textCol: Column,
                   shinglesCol: Column, k: Int, bandsOf: Int,
                   tau: Double): DataFrame = {
    val base = docs.select(id.as("id"), textCol.as("t"), shinglesCol.as("sh"))
    // Round 16: native [[graft.functions.MinHashSig]] single-pass
    // signature (value-identical scheme — see minHashNearDups) under
    // a single-element explode_outer Generate barrier, so the k
    // m-column extractions reference the generated ATTRIBUTE and
    // CollapseProject cannot clone the kernel k times; outer + the
    // null filter on the generated attribute also infers nothing
    // below the fan-out (the r14c GenFilterScan lesson this site
    // already carried for its shingle explode).
    val sig = base
      .select(col("id"), explode_outer(array(
        graft.functions.MinHashSig.minHashSig(col("sh"), k))).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select((col("id") +:
        (0 until k).map(j => col("__sig").getItem(j).as(s"m$j"))): _*)
    // Pin the verify stage's parallelism: candidate pairs are few
    // BYTES but each costs a banded DP, so AQE's size-based coalescing
    // folds the whole Levenshtein stage into ONE task (GenFilterScan
    // round 14c: two ~1.1 s single-task stages inside a 3.6 s query;
    // jstack: UTF8String.levenshteinDistance). An explicit numbered
    // repartition is exempt from coalescing and spreads the DP.
    val cand = lshCandidates(lshBands(sig, k, bandsOf))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val ta = base.select(col("id").as("id_a"), col("t").as("ta"))
    val tb = base.select(col("id").as("id_b"), col("t").as("tb"))
    cand.join(ta, "id_a").join(tb, "id_b")
      .withColumn("la", length(col("ta")))
      .withColumn("lb", length(col("tb")))
      .withColumn("maxlen", greatest(col("la"), col("lb")))
      .filter(abs(col("la") - col("lb")).cast("double") <=
        (lit(1.0d) - lit(tau)) * col("maxlen").cast("double") + lit(1.0d))
      // banded DP: any pair that can still reach `tau` has
      // dist ≤ (1−tau)·maxlen < __thr, so the thresholded form
      // (band-limited inside Spark's levenshtein) computes those
      // EXACTLY and returns −1 for pairs whose distance exceeds the
      // band — pairs that could only fail the sim filter anyway.
      // Worst-case per-pair work drops O(n·m) → O(n·(1−tau)·n).
      .withColumn("__thr",
        (floor((lit(1.0d) - lit(tau)) * col("maxlen").cast("double")) + lit(2L))
          .cast("int"))
      // the DP result feeds three expression sites (the −1 early-exit
      // filter, the sim filter, the output) — left as a plain column,
      // predicate substitution through the projection re-inlines the
      // levenshtein call at EVERY site (measured: 3 copies in the
      // optimized plan, 3x the verify cost — the CollapseProject
      // lesson from cdcChunks/unitNovelty). The single-element
      // explode is a Generate barrier: references cannot substitute
      // through it, so the DP runs exactly once per candidate.
      .withColumn("dist",
        explode(array(expr("levenshtein(ta, tb, __thr)").cast("long"))))
      .filter(col("dist") >= 0)
      .withColumn("sim", when(col("maxlen") === 0, lit(1.0d))
        .otherwise(lit(1.0d) - col("dist").cast("double") / col("maxlen").cast("double")))
      .filter(col("sim") >= lit(tau))
      .select(col("id_a"), col("id_b"), col("dist"), col("sim"))
  }

  /** MinHash-LSH candidate pairs from exploded distinct (id, s) rows,
    * using codegen'd xxhash64 min-aggregates (k per single pass) —
    * the recall-tunable candidate generator for thresholds where the
    * exact [[prefixFilterCandidates]] stops pruning (natural text at
    * t ≈ 0.5 shares too many mid-frequency shingles for any exact
    * prefix to cut the pair space; LSH trades bounded recall
    * 1−(1−J^bandsOf)^(k/bandsOf) for bucket-local candidates).
    * xxhash64 is fine here because candidates are internal — only the
    * exact verifier's output needs cross-engine reproducibility.
    */
  def minHashCandidates(exploded: DataFrame, k: Int, bandsOf: Int): DataFrame = {
    val aggs = (0 until k).map { s =>
      min(xxhash64(lit(s), col("s"))).cast("string").as(s"m$s")
    }
    val sig = exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    lshCandidates(lshBands(sig, k, bandsOf))
  }

  /** Exact candidate pairs for Jaccard ≥ t via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07): order every token set by ascending
    * global token frequency (rarest first, ties by token) and keep
    * each set's prefix of length n − ⌈t·n⌉ + 1; any pair with
    * J ≥ t must share a prefix token, so joining the exploded
    * prefixes yields a candidate superset with **recall exactly 1**.
    * Use for high thresholds (t ≳ 0.7, where prefixes are short and
    * rare-token collisions scarce); for lower thresholds on natural
    * text prefixes approach half the set and stop pruning — switch to
    * [[minHashCandidates]] and accept its recall curve instead.
    *
    * Scale shape: one groupBy for frequencies, one key-partitioned
    * join to rank tokens, one groupBy to sort per-set lists, one
    * equi-join on prefix tokens. Frequent tokens sort to the *end*
    * of each list and rarely enter a prefix, so the join keys are
    * rare tokens with small buckets — no block-quadratic blowup and
    * no skewed hot keys.
    *
    * Input: exploded distinct (id, s) rows. Output: (id_a, id_b)
    * with id_a < id_b. Verify candidates with an exact measure
    * afterwards (e.g. array_intersect Jaccard) — precision is the
    * verifier's job.
    */
  def prefixFilterCandidates(exploded: DataFrame, t: Double): DataFrame = {
    require(t > 0d && t <= 1d, s"threshold $t out of (0, 1]")
    val freq = exploded.groupBy(col("s")).agg(count(lit(1)).as("__f"))
    val toks = exploded.join(freq, "s")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("__f"), col("s")))).as("__toks"))
    // required overlap α = ⌈t·n⌉; the 1e-9 slack keeps a float
    // overshoot of an integral t·n from shortening the prefix (a
    // longer prefix only adds candidates — always safe)
    val n = size(col("__toks"))
    val prefixLen = (n - ceil(n * lit(t) - lit(1e-9)) + 1).cast("int")
    val pre = toks.select(col("id"),
      explode(slice(col("__toks"), lit(1), prefixLen)).as("__p"))
      .select(col("id"), col("__p.s").as("s"))
    pre.select(col("s"), col("id").as("id_a"))
      .join(pre.select(col("s"), col("id").as("id_b")), "s")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Threshold-aware candidate generator for Jaccard joins: at
    * `t ≥ exactFrom` the [[prefixFilterCandidates]] prefix filter both
    * prunes well and has recall exactly 1 — the full "every pair ≥ t"
    * contract holds; below it prefixes stop pruning on natural text
    * (measured: 92% of all pairs survive at t=0.5) and the generator
    * switches to [[minHashCandidates]], whose recall is the standard
    * LSH curve 1−(1−J^bandsOf)^(k/bandsOf) (k=24, bandsOf=3: ≈0.98 at
    * J=0.85, ≈2/3 at J=0.5 — callers that need recall 1 at low t must
    * pay for the quadratic pair space themselves, there is no free
    * path). Precision is always the exact verifier's job downstream.
    */
  def jaccardCandidates(exploded: DataFrame, t: Double, exactFrom: Double = 0.7,
                        k: Int = 24, bandsOf: Int = 3): DataFrame =
    if (t >= exactFrom) prefixFilterCandidates(exploded, t)
    else minHashCandidates(exploded, k, bandsOf)

  /** Near-dup pairs by SimHash Hamming distance: all (id_a < id_b)
    * whose fingerprints differ in ≤ `maxDist` of the low `bits` bits,
    * WITHOUT the all-pairs join — and with **recall exactly 1**, not
    * an LSH curve: the fingerprint splits into `maxDist + 1` bit
    * blocks, and a pair within Hamming `maxDist` has at most `maxDist`
    * differing blocks, so by pigeonhole at least one block matches
    * exactly (the Manku/Jain/Sarma WWW'07 SimHash-dedup decomposition).
    * Blocks are band keys for [[lshCandidates]] — the pair space is
    * block-bucket-local — and candidates verify with bit_count(xor),
    * so precision is exact too. Pure integer arithmetic throughout:
    * engine-exact, oracle-checkable.
    *
    * Scale: each row emits `maxDist + 1` (band, key) rows; buckets are
    * fingerprint-block collisions (tiny under well-mixed hashes unless
    * the data truly is near-duplicate-heavy, in which case the output
    * itself is that large). Same keyed-shuffle shape as the MinHash
    * path at 100 TB.
    *
    * Input: (id, fingerprint) e.g. from [[simHash]]. `bits` must cover
    * the fingerprint width; blocks of width < 2 would explode bucket
    * sizes (a 1-bit key halves the corpus), so require
    * bits ≥ 2·(maxDist+1).
    */
  def simHashPairs(fps: DataFrame, id: Column, fp: Column,
                   bits: Int, maxDist: Int): DataFrame = {
    val nBlocks = maxDist + 1
    require(bits >= 2 * nBlocks,
      s"bits=$bits too narrow for maxDist=$maxDist (needs >= ${2 * nBlocks})")
    val w = (bits + nBlocks - 1) / nBlocks
    val keyed = fps.select(id.as("id"), fp.cast("long").as("fp"))
    val blocks = (0 until nBlocks).map { b =>
      val lo = b * w
      val width = math.min(w, bits - lo)
      struct(lit(b.toLong).as("band"),
        shiftright(col("fp"), lo).bitwiseAND(lit((1L << width) - 1))
          .cast("string").as("bk"))
    }
    // the fingerprint rides along in the band rows, so the bucket join
    // verifies directly — `fps` (often an aggregation) is consumed
    // exactly once, with no per-side hydration joins to recompute it
    val bands = keyed
      .select(col("id"), col("fp"), explode(array(blocks: _*)).as("bb"))
      .select(col("id"), col("fp"), col("bb.band").as("band"), col("bb.bk").as("bk"))
    val a = bands.select(col("band"), col("bk"), col("id").as("id_a"), col("fp").as("fa"))
    val b = bands.select(col("band"), col("bk"), col("id").as("id_b"), col("fp").as("fb"))
    a.join(b, Seq("band", "bk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Rolling-hash winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): hash every char `k`-gram of the text, slide a window
    * of `w` consecutive gram hashes, keep each window's minimum. Two
    * documents sharing ANY substring of length ≥ k + w − 1 share a
    * selected hash — a PARTIAL-overlap detector, where
    * [[TextOps.fingerprint]] (md5 of the whole normalized doc) only
    * catches identical docs. The selected-value set is well-defined
    * independent of tie-break position, so it is engine-exact; hashes
    * stay md5 hex compared lexicographically (portable across
    * engines), never converted to integers.
    *
    * Shape: the whole selection runs scan-local in the native
    * [[graft.functions.WinnowSet]] expression (monotonic-deque sliding
    * minimum, O(len) per doc) — the selected set is per-document, so
    * no stage of it needs a shuffle; the explode emits only the
    * ~2·len/(w+1) selected rows, not one row per gram. (The earlier
    * posexplode→window-min formulation pushed every gram through a
    * doc-keyed shuffle and per-doc sort; a per-row higher-order-
    * function form is worse still — HOFs don't hoist loop invariants.)
    *
    * Output: distinct (id, fp) rows; docs shorter than one window
    * (len < k + w − 1) emit nothing.
    */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
                         k: Int, w: Int): DataFrame =
    docs.select(id.as("id"),
      explode(graft.functions.WinnowSet.winnowSet(text, k, w)).as("fp"))

  /** Connected components over an undirected near-dup pair graph —
    * the cluster-resolution step that turns pairwise detections
    * ([[minHashNearDups]], [[simHashPairs]], embedding near-dups) into
    * keep-one groups: every node gets the component's minimum id as
    * its `label` (the canonical survivor), so "dedup the corpus" is
    * one anti-join of documents against `label =!= id` rows.
    *
    * Algorithm: `iters` rounds of min-label propagation
    * (label := min(label, neighbours' labels)), each round one keyed
    * join + one keyed groupBy. Convergence needs the graph diameter's
    * worth of rounds; near-dup graphs are dense star/clique clusters
    * (a dup cluster's members all pair with each other or a shared
    * original), so diameters are tiny — the sf0.01 MinHash fixture
    * reaches fixpoint after ONE productive round (234 nodes, max
    * cluster 4). Callers pick `iters` ≥ expected diameter; the result
    * is deterministic for ANY `iters` (exactly `iters` rounds run —
    * what the unrolled SQL oracle mirrors), and a fixpoint check is
    * one extra round compared for equality (spec:LlmOpsSpec).
    *
    * Scale: edges are materialized ONCE — without it every iteration
    * would re-run the upstream pair pipeline (the expensive part) —
    * and each round checkpoints, so lineage stays O(1) instead of
    * compounding `iters` joins into one exponential plan. Rounds
    * shuffle on node id only; the giant-component pathology (one hot
    * label key) doesn't arise because propagation is per-node min,
    * not a groupBy on label. For graphs with genuinely long chains,
    * use [[componentsStar]] (the Kiveris et al. SoCC'14
    * large-star/small-star decomposition — same per-round shape,
    * O(log²) rounds).
    *
    * Checkpoint durability (`reliable` flag): the default
    * `localCheckpoint` stores blocks on executors only — fast, but an
    * executor loss mid-iteration is unrecoverable (Spark cannot
    * recompute truncated-lineage partitions), which is fine in tests
    * and single-JVM runs and NOT fine for a long job on a real
    * cluster. With `reliable = true` rounds use RDD `checkpoint()` to
    * the cluster's `SparkContext.setCheckpointDir` location (HDFS/
    * object store), surviving executor loss at the cost of a write
    * per round; the caller must have set a checkpoint dir.
    */
  def components(pairs: DataFrame, idA: Column, idB: Column, iters: Int,
                 reliable: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val e0 = pairs.select(idA.as("src"), idB.as("dst"))
    val edges = materialize(e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nl"))
      labels = materialize(labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label")))
    }
    labels
  }

  /** Partition-local union-find contraction — the narrow pre-pass in
    * front of [[componentsStar]]'s shuffled rounds: each partition
    * runs a min-root union-find over just its own edges and emits one
    * (member → local root) star edge per non-root node it saw.
    * Global connectivity survives the contraction because a node
    * whose edges land in two partitions emits a star edge from EACH,
    * and those edges share the node — the local roots stay connected
    * through it. Determinism: min-root union makes every node's local
    * root the minimum id of its partition-local component regardless
    * of edge arrival order, and the downstream star rounds converge
    * to the same global-min labels from any star decomposition.
    *
    * Why this is the 100 TB lever: the edge set the iterated rounds
    * shuffle drops from O(edges) to O(nodes with edges in ≥1
    * partition) — on a near-dup candidate graph (many short chains
    * and cliques co-located by the band join that produced them)
    * that is routinely a 10-100× cut — and each partition's subgraph
    * starts the rounds at diameter ≤ 2, so the round COUNT (the
    * scheduler round-trips an iterative operator pays at any scale)
    * falls as well. Memory is O(distinct nodes per partition), which
    * `maxPartitionBytes` already bounds.
    */
  private def localContract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path-compress the walk
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // every non-root node has a parent entry; roots surface as the
        // dst of their members' star edges
        val members = parent.keysIterator.toArray
        members.iterator.map(m => (m, find(m)))
      }.toDF("src", "dst")
  }

  /** Large-star / small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * long-chain fallback [[components]] documents: min-label
    * propagation needs diameter rounds (a 64-node chain = 63 rounds,
    * each a full shuffle), while the star decomposition converges in
    * O(log² n) rounds on ANY graph by rewiring edges toward component
    * minima instead of flooding labels along them:
    *
    *  - large-star (per node u over its full neighborhood): connect
    *    every neighbor v > u to m = min(N(u) ∪ {u});
    *  - small-star (per node u over neighbors ≤ u, edges directed
    *    larger → smaller): connect every v ∈ N(u) ∪ {u} to m = min.
    *
    * Both halve long paths (each endpoint of a chain edge re-attaches
    * to a node at least two hops closer to the minimum), so rounds
    * compound like pointer doubling. Each round is the same keyed
    * join + groupBy shape as a propagation round — no new shuffle
    * pattern at 100 TB — and the edge set is checkpointed per round
    * (O(1) lineage). Convergence = the directed edge set reaching a
    * fixpoint, detected with a per-round (count, order-independent
    * hash-sum) pair: one tiny driver action per round, O(log²) rounds
    * total. At the fixpoint every edge points directly at its
    * component's minimum, so labels read straight off the edges.
    *
    * Output matches [[components]] at convergence: (id, label = the
    * component's minimum id), one row per non-isolated node. Throws
    * if `maxRounds` is hit first — under-convergence here would mean
    * silently wrong clusters, and with O(log²) growth a cap of 30
    * covers any graph that fits on hardware. `contract` (default on)
    * runs the [[localContract]] union-find pre-pass so the rounds
    * start from per-partition stars instead of raw edges; disable it
    * only to exercise the pure star recursion.
    */
  def componentsStar(pairs: DataFrame, idA: Column, idB: Column,
                     maxRounds: Int = 30,
                     reliable: Boolean = false,
                     contract: Boolean = true): DataFrame = {
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

    // large-star over the symmetric neighborhood: (v, min(N(u) ∪ {u}))
    // for v > u. Output directed src > dst (v > u ≥ m).
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mn = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      sym.join(mn, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), least(col("src"), col("mn")).as("dst"))
        .distinct()
      // the distinct is load-bearing AT SCALE: dropping it saved one
      // exchange and ~0.3 s at sf0.1, but duplicate edges compound
      // with neighborhood size and the 10x chain bench regressed
      // 4.3 → 5.5 s (exponent 0.20 → 0.43) — measured both ways
    }

    // small-star over larger→smaller edges: every strictly-smaller
    // neighbor plus u itself re-attaches to the neighborhood minimum.
    def smallStar(edges: DataFrame): DataFrame = {
      val dir = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mn = dir.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      val attached = dir.join(mn, "src")
        .filter(col("dst") =!= col("mn"))
        .select(col("dst").as("src"), col("mn").as("dst"))
      attached.unionByName(mn.select(col("src"), col("mn").as("dst")))
        .distinct()
    }

    // LAZY checkpoint + signature action: marking the round's edge
    // set for (local) checkpointing and letting the signature
    // aggregate be the job that materializes it runs ONE job per
    // round instead of two (eager checkpoint job + signature job) —
    // at toy scale that halves the fixed per-round cost that
    // dominates an iterative operator, at 100 TB it halves the
    // scheduler round-trips. Reliable mode keeps the eager write:
    // RDD.checkpoint truncates lineage only after a full
    // materialization pass, so it stays two-phase by design.
    def checkpointLazily(df: DataFrame): DataFrame =
      if (reliable) materialize(df) else df.localCheckpoint(false)

    val cleaned =
      pairs.select(idA.as("src"), idB.as("dst")).filter(col("src") =!= col("dst"))
    var edges = materialize(if (contract) localContract(cleaned) else cleaned)
    var prev: Option[(Long, String)] = None
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds,
        s"componentsStar did not converge in $maxRounds rounds")
      edges = checkpointLazily(smallStar(largeStar(edges)))
      // order-independent signature of the directed edge set; equal
      // signatures on consecutive rounds = fixpoint (xxhash64 sum
      // collisions are negligible, and a false positive would need a
      // colliding set ON the convergence boundary). The sum runs in
      // decimal(38,0): summing raw ±2^63-scale hashes as Long throws
      // ARITHMETIC_OVERFLOW under ANSI mode (Spark 4 default) on
      // practically any edge set.
      val sig = edges.agg(count(lit(1)),
          sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")))
        .collect()(0)
      val cur = (sig.getLong(0),
        if (sig.isNullAt(1)) "0" else sig.getDecimal(1).toPlainString)
      converged = prev.contains(cur)
      prev = Some(cur)
    }
    // fixpoint edges are (member, root) stars; roots label themselves
    edges.select(col("src").as("id"), col("dst").as("label"))
      .unionByName(edges.select(col("dst").as("id"), col("dst").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  /** SimHash fingerprint (`bits` ≤ 32, the md5 hex width) from a word
    * bag: bit j of each word's md5 hex nibble j votes ±1; fingerprint
    * bit = majority.
    * Pure integer arithmetic → engine-exact. All `bits` vote-sums are
    * aggregate expressions over ONE pass of the word rows (md5 once
    * per word, one shuffle on id) — the explode-by-bit alternative
    * multiplies the shuffle by `bits` and needs a second groupBy.
    */
  def simHash(wordBag: DataFrame, id: Column, word: Column, bits: Int): DataFrame = {
    val withH = wordBag.select(id.as("id"), md5(word).as("h"))
    val voteAggs = (0 until bits).map { j =>
      sum(conv(col("h").substr(j + 1, 1), 16, 10).cast("int") % 2 * 2 - 1).as(s"v$j")
    }
    withH.groupBy(col("id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
            when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** Cross-corpus frequent-line scrub — the boilerplate-removal pass
    * of a web-scale pipeline (CCNet, Wenzek arXiv:1911.00359 §4.1
    * paragraph dedup; RefinedWeb, Penedo arXiv:2306.01116 line-wise
    * filters): a line occurring in ≥ `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, copyright footers) and is
    * removed from EVERY document it appears in.
    *
    * Input: one row per doc with `linesCol: array<string>`. Output one
    * row per doc with ≥1 line: `(doc_id, clean_text, n_kept,
    * n_dropped)` — kept lines rejoined by '\n' in original order
    * (clean_text = "" when everything was boilerplate). Docs whose
    * `linesCol` is empty produce no output row (posexplode yields
    * nothing); callers that must preserve them can left-join back.
    *
    * Scale shape: posexplode is narrow; document frequency is ONE
    * digest-keyed aggregation (map-side combined); the verdict join is
    * digest-keyed; reassembly is one doc-keyed aggregation whose
    * collect_list is bounded by the doc's own line count. No driver
    * actions, nothing all-pairs — partitions like every per-doc op at
    * 100 TB.
    */
  def scrubFrequentLines(docs: DataFrame, id: Column, linesCol: Column,
      minDocs: Long): DataFrame = {
    // null array elements are discarded up front: they are not text
    // (split() never produces them), and leaving them in would make
    // the `line` equi-join silently drop them from n_kept/n_dropped —
    // an undercount with no error. A doc whose lines are ALL null
    // therefore emits no row, same as an empty-array doc.
    // Every exchange and compare downstream keys on the line's md5
    // digest, never the line text (the llm_kmv_distinct lesson): the
    // text rides as payload into the verdict join only because the
    // reassembly needs it, while the frequency side and both shuffle
    // keys are fixed-width 16-byte binaries — boilerplate lines are
    // routinely hundreds of bytes, and on a NETWORKED cluster the
    // pair-distinct exchange pays those bytes per (line, doc) row
    // where the digest pays 16. Recorded trade-off (LsAbProbe,
    // round 14, sf0.1 local[32], short fixture lines): raw-line keys
    // 0.69 s, digest 1.06 s, digest+checkpoint 0.94 s — the in-JVM
    // shuffle never pays the text bytes the digest exists to save, so
    // locally the md5 is pure cost; kept for the cluster shape, with
    // the checkpoint below deduplicating the hash work (ex feeds both
    // the frequency aggregate and the verdict join, and unlike the
    // pre-digest form — where materializing measured a wash — the
    // checkpoint now saves a full md5 pass over the corpus).
    // posexplode_OUTER: the plain generator makes
    // InferFiltersFromGenerate synthesize `size(lines)>0 AND
    // isnotnull(lines)` below the Generate, and pushdown carries it
    // through the fan-out exchange to the single-split scan where it
    // re-splits every document's text once more, single-threaded
    // (GenFilterScan, round 14c: a 688 ms one-task stage inside the
    // 1.65 s query — the llm_allpairs_sim pathology). The outer form
    // infers nothing; the existing isNotNull filter already discards
    // the null row an empty array contributes.
    // EAGER (r17): CheckpointRaceSpec caught the lazy form racing on
    // an idle box — the frequency-aggregate and verdict-join map
    // stages both computed the posexplode+md5 kernel before the
    // checkpoint materialized (shipped profile carried a second
    // kernel-class stage at ~65% of the calibration kernel; the
    // containmentPairs race shape). Alternating PairBench arms (3×5
    // warm rounds each, sf0.1): lazy 1.42/1.27/1.24 s vs eager
    // 1.61/1.69/1.43 — eager pays ~0.2 s wall locally because the
    // raced recompute ran FREE on idle cores while eager serializes
    // the materialization. Kept eager anyway (the containmentPairs
    // rule): on a busy cluster the race costs a full second kernel
    // execution of real CPU, and the structural alternatives are
    // worse — a df-window keys the hot digest onto one reducer
    // (HotLineProbe's 10⁸-row pathology) and dropping the checkpoint
    // makes the 2× CPU unconditional.
    val ex = docs.select(id.as("doc_id"), posexplode_outer(linesCol).as(Seq("pos", "line")))
      .filter(col("line").isNotNull)
      .withColumn("dg", unhex(md5(col("line"))))
      .localCheckpoint(true)
    // document frequency as an EXPLICIT two-level aggregation instead
    // of countDistinct: Spark plans a single distinct aggregate with
    // its exchange on the grouping key alone, so a boilerplate line
    // present in 10⁸ documents sends every surviving (line, doc_id)
    // pair to ONE reducer. distinct() keys the exchange on the full
    // pair — the hot line spreads across the cluster by doc_id — and
    // the count then map-side-combines to ≤ one row per (digest,
    // partition) before the digest-keyed exchange — the hot reducer's
    // input drops from 10⁸ pair rows to #partitions partial counts.
    // Measured (HotLineProbe, 2026-08-13, 20M docs all sharing one
    // line, local[32]): 10.8 s → 8.1 s; the in-memory single-JVM
    // shuffle compresses the straggler, a networked cluster does not.
    // The verdict joins ex against the FREQUENT digests only (df ≥
    // minDocs — the boilerplate set, corpus_lines/minDocs at worst),
    // not the full per-digest df frame: the frequent frame is small
    // enough that AQE plans a broadcast join, so ex's text payload
    // never crosses a dg-keyed exchange — the only text shuffle left
    // is the unavoidable doc-keyed reassembly. Locally a measured
    // WASH (PairBench r17: ~1.07 s either way — the in-JVM shuffle
    // compresses text bytes, the LsAbProbe lesson), kept for the
    // cluster shape: one fewer text-payload exchange is real bytes
    // on a network. At a scale where the frequent set outgrows
    // broadcast, AQE falls back to the shuffled join with identical
    // semantics.
    val frequent = ex.select(col("dg"), col("doc_id")).distinct()
      .groupBy(col("dg"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("dg"), lit(true).as("__boiler"))
    val keep = col("__boiler").isNull
    ex.join(frequent, Seq("dg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        // collect_list drops nulls, so the `when` with no otherwise
        // filters boilerplate lines before the sort/rejoin
        array_join(
          transform(
            array_sort(collect_list(when(keep, struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("clean_text"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Global FIRST-OCCURRENCE dedup at sub-document granularity — the
    * "keep one copy, drop the rest" form of paragraph dedup (Lee et
    * al., arXiv:2107.06499 dedup corpus-wide repeated text while
    * preserving one occurrence; complements [[scrubFrequentLines]],
    * which removes boilerplate from EVERY document including the
    * first). The corpus-wide earliest occurrence of each distinct
    * unit — ordered by (doc, pos) — is kept; all later occurrences
    * are dropped.
    *
    * Input: one row per doc with `unitsCol: array<string>` (lines,
    * paragraphs, or token chunks). Output: `(doc_id, clean_text,
    * n_kept, n_dropped)` per doc with ≥1 unit — kept units rejoined
    * by '\n' in original order.
    *
    * Scale shape: occurrences shuffle ONCE keyed by the unit's md5
    * digest (16-byte keys, never the unit text — the digest column is
    * what the exchange carries); the first-occurrence rank is a
    * streaming row_number over each digest's sorted run, so a
    * boilerplate unit in 10⁸ docs costs one sorted scan, not a
    * self-join; reassembly is one doc-keyed aggregation. A mega-hot
    * digest concentrates its occurrences on one reducer — same
    * trade-off as [[scrubFrequentLines]]'s verdict join, and the rank
    * itself is O(n log n) in that partition's rows, not quadratic.
    */
  def keepFirstUnits(docs: DataFrame, id: Column,
      unitsCol: Column): DataFrame = {
    val ex = docs
      .select(id.as("doc_id"), posexplode_outer(unitsCol).as(Seq("pos", "unit")))
      .filter(col("unit").isNotNull) // outer: see editNearDups' pushed-filter note
      .withColumn("dg", md5(col("unit")))
    val rn = row_number().over(
      Window.partitionBy(col("dg")).orderBy(col("doc_id"), col("pos")))
    val keep = col("rn") === 1
    ex.withColumn("rn", rn)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(keep, struct(col("pos"), col("unit"))))),
            x => x.getField("unit")),
          "\n").as("clean_text"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, 0L).otherwise(1L)).as("n_dropped"))
  }
}
