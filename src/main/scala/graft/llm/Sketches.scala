package graft.llm

import org.apache.spark.sql.{Column, DataFrame, types}
import org.apache.spark.sql.functions._

/** Deterministic distinct-count sketches — the cardinality primitives
  * a 100 TB corpus profile runs where exact COUNT(DISTINCT) would
  * shuffle every value: how many distinct n-grams / URLs / users per
  * partition slice, at O(registers) state per group.
  *
  * Both sketches are built from md5, not xxhash/rand, so the SAME
  * algorithm runs digit-for-digit in any engine (the DuckDB oracle
  * replays it literally — unlike `approx_count_distinct`, whose
  * HLL++ registers are engine-private). All register arithmetic is
  * exact integers (bit shifts, never pow); the estimate is one float
  * expression at the end.
  *
  *  - [[hllEstimate]]: Flajolet et al. 2007 HyperLogLog, m = 256
  *    registers from the first 2 md5 hex chars, ranks from the next
  *    40 bits. Duplicates need no pre-dedup (identical hash → same
  *    register/rank; max absorbs them) — the property that makes the
  *    aggregation ONE map-side-combined (group, register) pass with
  *    256·|groups| reducer rows, corpus-size-independent state.
  *  - [[kmvKthMin]]: the k-minimum-values estimator (Bar-Yossef et
  *    al. 2002): distinct ≈ (k−1)/u_k with u_k the k-th smallest
  *    distinct hash mapped into (0,1). The k smallest DISTINCT values
  *    accumulate in [[graft.functions.KmvMinsAgg]]'s k-bounded buffer
  *    (duplicates collapse in the set), combining map-side like the
  *    HLL registers — one ≤k-array per (group, partition) crosses the
  *    exchange.
  *  - [[bloomBuild]]/[[bloomMightContain]]: a Bloom filter as (word,
  *    bits) rows — the broadcastable membership prefilter (Bloom
  *    CACM'70) that turns a 100 TB blocklist anti-join into a
  *    map-side maybe-test, with the exact join left only the
  *    maybe-present sliver.
  */
object Sketches {

  /** Leading-zero count of one hex digit ('0' → 4). */
  def hexDigitLz(d: Column): Column =
    when(d.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
      .when(d.isin("4", "5", "6", "7"), 1)
      .when(d.isin("2", "3"), 2)
      .when(d === "1", 3)
      .otherwise(4)

  /** HLL rank (position of the first 1-bit, 1-based) of a hex-string
    * tail: 4·(leading '0' digits) + lz(first non-zero digit) + 1;
    * all-zero tails rank 4·len+1. Engine-portable: `ltrim(_, '0')`
    * and the digit CASE exist verbatim in DuckDB.
    */
  def hexRank(tail: Column, len: Int): Column = {
    val z = lit(len) - length(ltrim(tail, "0"))
    when(z === len, lit(4 * len + 1))
      .otherwise(lit(4) * z + hexDigitLz(substring(ltrim(tail, "0"), 1, 1)) + lit(1))
  }

  /** HLL m=256 estimate per group over a (group, value) frame.
    * Returns (group, est, v_zero): est the corrected estimate, v_zero
    * the empty-register count (diagnostic). Register sums are exact
    * integers: Σ 2^(41−M) as Longs (M ≤ 41 ⇒ each term ≤ 2^40,
    * 256 terms ≤ 2^48 — no overflow, no float sum order).
    */
  def hllEstimate(df: DataFrame, group: Column, value: Column): DataFrame =
    hllFromRegisters(hllRegisters(df, group, value))

  /** The register frame itself: (g, bucket, m = max rank). This is
    * the MERGEABLE form — registers from any split of the data
    * max-merge to the whole's registers exactly, which is what
    * [[CorpusProfile]] folds into a persistent state per increment.
    */
  def hllRegisters(df: DataFrame, group: Column, value: Column): DataFrame =
    hllRegistersOfHash(df, group, md5(value.cast("string")))

  /** [[hllRegisters]] over a PRECOMPUTED md5 hex column — the
    * shared-kernel form: an audit twin that also needs the hash for
    * its exact side (distinct counts, KMV uniforms) hashes the value
    * stream ONCE and derives every path from the hex. HLL is
    * duplicate-insensitive, so a distinct (group, hash) frame gives
    * identical registers.
    */
  def hllRegistersOfHash(df: DataFrame, group: Column, hexHash: Column): DataFrame =
    df.select(group.as("g"),
        substring(hexHash, 1, 2).as("bucket"),
        hexRank(substring(hexHash, 3, 10), 10).as("rank"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rank")).as("m"))

  /** (g, est, v_zero) from a register frame (merged or single-pass). */
  def hllFromRegisters(registers: DataFrame): DataFrame = {
    val regs = registers
      .groupBy(col("g"))
      .agg(
        // 2^(41−M) as an exact Long (shiftleft with a column shift
        // needs the SQL form; the Scala overload takes only Int)
        sum(expr("shiftleft(CAST(1 AS BIGINT), 41 - m)")).as("s_present"),
        count(lit(1)).as("present"))
    val alpha = lit(0.7213d) / (lit(1.0d) + lit(1.079d) / lit(256.0d))
    val vZero = lit(256L) - col("present")
    val s = col("s_present") + vZero * shiftleft(lit(1L), 41)
    val raw = alpha * lit(65536.0d) * shiftleft(lit(1L), 41).cast("double") / s.cast("double")
    regs.select(col("g"),
      when(raw <= lit(640.0d) && vZero > 0L,
        lit(256.0d) * log(lit(256.0d) / vZero.cast("double")))
        .otherwise(raw).as("est"),
      vZero.as("v_zero"))
  }

  /** (0,1) uniform from the first 13 md5 hex chars — exact dyadic
    * arithmetic, the [[Sampling.weightedSample]] scheme.
    */
  def hashUniform(value: Column): Column =
    hashUniformOfHex(md5(value.cast("string")))

  /** [[hashUniform]] from a precomputed md5 hex — see
    * [[hllRegistersOfHash]]'s shared-kernel rationale.
    */
  def hashUniformOfHex(hexHash: Column): Column = {
    val v = conv(substring(hexHash, 1, 13), 16, 10).cast("double")
    (v + lit(0.5d)) / lit(4503599627370496.0d) // 2^52
  }

  /** KMV: per group, the k-th smallest DISTINCT hash uniform and the
    * estimate (k−1)/u_k. Groups with fewer than k distinct values get
    * no row (the estimator is undefined there — callers fall back to
    * the exact count, which is by definition small).
    *
    * One hash-aggregate over [[graft.functions.KmvAgg.kmvMins]]'s
    * k-bounded buffer: the partial combines map-side, so the exchange
    * carries one ≤k-element array per (group, partition) — the HLL
    * register shape — instead of the k rows per (group × partition)
    * the previous dense_rank window form shuffled (its
    * WindowGroupLimit pre-trim bounded rows but still shipped and
    * re-sorted k·partitions rows per group; the sketch family's
    * highest 10x exponent, 0.54, in the round-10 SCALING table).
    * Result-identical: min-k selection is order-free.
    */
  def kmvKthMin(df: DataFrame, group: Column, value: Column, k: Int): DataFrame =
    kmvKthMinOfHash(df, group, md5(value.cast("string")), k)

  /** [[kmvKthMin]] over a precomputed md5 hex — shared-kernel form. */
  def kmvKthMinOfHash(df: DataFrame, group: Column, hexHash: Column,
                      k: Int): DataFrame =
    df.select(group.as("g"), hashUniformOfHex(hexHash).as("u"))
      .groupBy(col("g"))
      .agg(graft.functions.KmvAgg.kmvMins(col("u"), k).as("us"))
      .filter(size(col("us")) === k)
      .select(col("g"),
        (lit((k - 1).toDouble) / element_at(col("us"), k)).as("est"))

  /** The KMV sketch itself: the k smallest DISTINCT hash uniforms per
    * group, ≤ k rows per group — the mergeable form set algebra needs
    * (union sketches by re-ranking the union of rows). Same k-bounded
    * partial aggregate as [[kmvKthMin]], exploded back to rows.
    */
  def kmvMins(df: DataFrame, group: Column, value: Column, k: Int): DataFrame =
    kmvMinsOfHash(df, group, md5(value.cast("string")), k)

  /** [[kmvMins]] over a precomputed md5 hex — shared-kernel form. */
  def kmvMinsOfHash(df: DataFrame, group: Column, hexHash: Column,
                    k: Int): DataFrame =
    df.select(group.as("g"), hashUniformOfHex(hexHash).as("u"))
      .groupBy(col("g"))
      .agg(graft.functions.KmvAgg.kmvMins(col("u"), k).as("us"))
      .select(col("g"), explode(col("us")).as("u"))

  /** KMV set algebra (Beyer et al. SIGMOD'07) over [[kmvMins]] rows:
    * for every group pair (sa < sb), the union estimate from the k
    * smallest hashes of K(sa) ∪ K(sb), the Jaccard estimate ρ = (how
    * many of those appear in BOTH sketches)/k, and the intersection
    * estimate ρ·est_union. Everything runs on the sketches alone —
    * O(pairs · k) rows — never on the underlying sets: THE reason a
    * 100 TB corpus-overlap matrix is computable at all. Pairs whose
    * union carries fewer than k distinct hashes are dropped (the
    * estimator is undefined; both sets are small enough to compare
    * exactly). Estimates are single fixed float expressions over
    * exact integers and one u_k — engine-portable.
    */
  def kmvSetOps(mins: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = mins.select(col("g")).distinct()
    val pairs = gs.select(col("g").as("sa"))
      .join(gs.select(col("g").as("sb")), col("sa") < col("sb"))
    val ua = pairs.join(mins.select(col("g").as("sa"), col("u")), Seq("sa"))
      .select(col("sa"), col("sb"), col("u"), lit(1).as("ina"), lit(0).as("inb"))
    val ub = pairs.join(mins.select(col("g").as("sb"), col("u")), Seq("sb"))
      .select(col("sa"), col("sb"), col("u"), lit(0).as("ina"), lit(1).as("inb"))
    val cu = ua.unionByName(ub).groupBy(col("sa"), col("sb"), col("u"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
    val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("u"))
    // NUMBERED repartition: the pair-keyed window's exchange is
    // byte-small but CPU-dense, and AQE's size-based coalescing folds
    // it to ONE task (GenFilterScan r15: 308 ms/1t); a numbered
    // repartition is exempt and satisfies the window's partitioning.
    // Count derived from the cluster (the Tables.fanOut convention),
    // not a literal: a hardcoded 32 underparallelizes larger clusters.
    cu.repartition(mins.sparkSession.sparkContext.defaultParallelism,
        col("sa"), col("sb"))
      .withColumn("dr", dense_rank().over(w))
      .groupBy(col("sa"), col("sb"))
      .agg(min(when(col("dr") === k, col("u"))).as("u_k"),
        sum(when(col("dr") <= k && col("ina") === 1 && col("inb") === 1, 1L)
          .otherwise(0L)).as("cnt"))
      .filter(col("u_k").isNotNull)
      .select(col("sa"), col("sb"),
        (col("cnt").cast("double") / lit(k)).as("jac_est"),
        (lit((k - 1).toDouble) / col("u_k")).as("est_union"),
        ((col("cnt").cast("double") / lit(k)) *
          (lit((k - 1).toDouble) / col("u_k"))).as("est_inter"))
  }

  /** Count-min row/bucket probes for one value: depth 4 rows whose
    * 12-bit bucket indexes are DISJOINT 3-hex slices of a single md5
    * (the minhash slicing rationale — one digest carries all four
    * independent hash functions). Shared by the sketch builder, the
    * point-estimate lookup, and the streaming form, which must agree
    * byte-for-byte.
    */
  def cmProbes(value: Column): Column = {
    val h = md5(value.cast("string"))
    array((0 until 4).map { r =>
      struct(lit(r.toLong).as("r"), substring(h, 1 + 3 * r, 3).as("b"))
    }: _*)
  }

  /** Count-min sketch (Cormode & Muthukrishnan '05) per group: depth
    * 4 × width 4096, counts summed per (group, row, bucket). Returns
    * (g, r, b, c). The state is O(groups · 16384) regardless of
    * corpus size, the aggregation is one map-side-combined pass, and
    * sketches MERGE by adding counts — per-partition, per-hour, or
    * per-day frequency sketches union without re-reading data, the
    * property [[countMinLookup]] and the streaming form rely on.
    * Estimates upper-bound true counts (hash collisions only ADD), so
    * `est ≥ exact` always — the bound the spec pins.
    */
  def countMin(df: DataFrame, group: Column, value: Column,
               weight: Column = lit(1L)): DataFrame =
    df.select(group.as("g"), weight.as("w"), explode(cmProbes(value)).as("rb"))
      .groupBy(col("g"), col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("w")).as("c"))

  /** Point-frequency estimates from a [[countMin]] sketch: for each
    * (g, key) row the min of its four bucket counts — the classic CM
    * upper-bound estimate. The sketch is LEFT-joined from the probes
    * with absent buckets counting 0: a key missing from the sketch's
    * input but colliding in 1–3 of its 4 buckets must estimate 0 (the
    * canonical CM semantics — any empty bucket proves count 0), not
    * the min over only its colliding buckets.
    */
  def countMinLookup(sketch: DataFrame, keys: DataFrame,
                     group: Column, key: Column): DataFrame =
    keys.select(group.as("g"), key.as("key"), explode(cmProbes(key)).as("rb"))
      .select(col("g"), col("key"), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(sketch, Seq("g", "r", "b"), "left")
      .groupBy(col("g"), col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** Bloom-filter bit positions for one value: `h` indexes into a
    * 2^`bitsLog2`-bit array, DISJOINT 6-hex (24-bit) slices of one
    * md5 reduced mod the array size — the md5-slicing discipline
    * ([[cmProbes]], minhash): one digest per value carries all `h`
    * independent hash functions, and the oracle replays the slices
    * verbatim. h ≤ 5 (30 of 32 hex chars), bitsLog2 ≤ 24.
    */
  def bloomProbes(value: Column, h: Int, bitsLog2: Int): Column = {
    require(h >= 1 && h <= 5, s"bloomProbes: h must be in [1,5], got $h")
    require(bitsLog2 >= 6 && bitsLog2 <= 24,
      s"bloomProbes: bitsLog2 must be in [6,24], got $bitsLog2")
    val m = md5(value.cast("string"))
    array((0 until h).map { i =>
      (conv(substring(m, 1 + 6 * i, 6), 16, 10).cast("long") % (1L << bitsLog2))
    }: _*)
  }

  /** Bloom filter per group over a (group, value) frame, as (g, w,
    * bits, h, bits_log2) rows: 32-bit words (bit index < 32 keeps
    * every shift engine-portable — no 1<<63 sign/overflow
    * divergence), built in ONE map-side-combined bit_or pass, each
    * row carrying the build's `h` and `bitsLog2` so a probe can
    * refuse a sketch built differently. Words with no set bits have
    * no row. State ≤ 2^bitsLog2/32 rows per group regardless of
    * corpus size; words OR-merge across partitions/days like the HLL
    * registers; the whole sketch broadcasts (2^24 bits = 2 MiB
    * ceiling), which is what makes [[bloomMightContain]] a map-side
    * prefilter at 100 TB.
    *
    * Group-cardinality contract: per-group state is bounded, GROUP
    * COUNT is not — but [[bloomMightContain]] collects the whole
    * sketch to the driver (its broadcast-resident bound, ≈ thousands
    * of groups at default sizing). Callers needing unbounded group
    * counts should partition the probe by group range instead.
    */
  def bloomBuild(df: DataFrame, group: Column, value: Column,
                 h: Int = 4, bitsLog2: Int = 18): DataFrame =
    df.select(group.as("g"), explode(bloomProbes(value, h, bitsLog2)).as("p"))
      .select(col("g"), expr("p div 32").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("m"))
      .groupBy(col("g"), col("w"))
      .agg(bit_or(col("m")).as("bits"))
      .select(col("g"), col("w"), col("bits"), lit(h).as("h"), lit(bitsLog2).as("bits_log2"))

  /** Membership probe against a [[bloomBuild]] sketch: (g, carry...,
    * key, maybe) — `maybe` true iff ALL `h` probed bits are set (and
    * never NULL: a NULL probe key reads false, the definitive-absent
    * verdict), with absent words counting 0 (the [[countMinLookup]]
    * discipline: a missing word row proves its bits are 0, so the key
    * is definitively absent). No false negatives ever; false-positive
    * rate is the standard (1−e^{−hn/m})^h. `carry` rides extra
    * probe-side columns into the output for the caller's aggregation.
    * Emits ONE ROW PER INPUT ROW (pinned by SketchesSpec) — identical
    * to the pre-r17 one-row-per-distinct-(g,key,carry) aggregate for
    * distinct-keyed callers (the catalog's probe frames are distinct
    * by construction); a non-distinct caller gets one verdict per row.
    *
    * The sketch is collected eagerly at call time — per-GROUP state is
    * model-sized by the [[bloomBuild]] contract (≤ 2^bitsLog2/32 longs
    * per group: 64 KiB dense at the default, 2 MiB at the bitsLog2=24
    * cap), so the whole sketch must be driver-resident, i.e. GROUP
    * CARDINALITY is bounded by driver memory (≈ thousands of groups at
    * the default sizing), exactly the bound a broadcast carries. The
    * probe shape then depends on the group count:
    *  - ≤ `maxLiteralGroups`: each group's dense word array embeds as
    *    a LITERAL in a null-safe when-chain and `maybe` is h unrolled
    *    element_at/bitwiseAND bit-tests riding the probe scan — no
    *    join, no explode, no shuffle, no per-row payload (a 1-group
    *    chain constant-folds to one literal array);
    *  - above it: the same dense arrays become a local (g, words)
    *    relation broadcast-LEFT-joined to the probes on a null-safe
    *    `g`, and `maybe` is the same unrolled bit-test over the joined
    *    array column — the plan/codegen carry O(1) literals instead of
    *    G × 64 KiB, and each probe row evaluates one hash lookup
    *    instead of G group comparisons. Both regimes are pinned by
    *    PlanShapeSpec.
    *
    * Two rejected lazy forms, measured by BloomAbProbe (r17, full
    * llm_bloom_filter walls, interleaved): broadcast-join a packed
    * w→bits MAP + forall → 8.6 s vs 1.9 s old (element_at on MapType
    * is a linear scan per probe), and the same with a dense-array
    * column + forall → 7.2 s (forall is a HigherOrderFunction — not
    * whole-stage-codegen'd, so the array column materializes per
    * probe row). The fallback join here keeps the UNROLLED codegen'd
    * bit-tests; only the array's carrier changes.
    */
  def bloomMightContain(sketch: DataFrame, keys: DataFrame,
                        group: Column, key: Column,
                        carry: Seq[Column] = Nil,
                        h: Int = 4, bitsLog2: Int = 18,
                        maxLiteralGroups: Int = 16): DataFrame = {
    require(h >= 1 && h <= 5,
      s"bloomMightContain: h must be in [1,5], got $h")
    require(bitsLog2 >= 6 && bitsLog2 <= 24,
      s"bloomMightContain: bitsLog2 must be in [6,24], got $bitsLog2")
    val nWords = 1 << (bitsLog2 - 5)
    val rows = sketch.select(col("g"), col("w"), col("bits"), col("h"), col("bits_log2"))
      .collect().toSeq
    // a larger probe than the build reads bits it never set (false
    // negatives); a smaller one indexes outside its words
    rows.map(r => (r.getInt(3), r.getInt(4))).distinct.foreach { case (bh, bb) =>
      require(bh == h && bb == bitsLog2,
        s"bloomMightContain: the sketch was built with different parameters " +
          s"(h=$bh, bitsLog2=$bb) than this probe (h=$h, bitsLog2=$bitsLog2)")
    }
    val dense: Seq[(Any, Array[Long])] = rows
      .groupBy(_.get(0)).map { case (gv, rs) =>
        val arr = new Array[Long](nWords)
        rs.foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
        gv -> arr
      }.toSeq
    // 1L<<i as a literal lookup table: shiftleft's column form isn't
    // exposed in the Scala DSL, and element_at keeps the predicate
    // whole-stage-codegen'd.
    val masks = array((0 until 32).map(i => lit(1L << i)): _*)
    // h unrolled codegen'd bit-tests over whichever column carries the
    // group's dense word array; coalesce pins the boolean contract
    // (NULL key / unknown group / absent word ⇒ false, never NULL)
    def probe(bf: Column, keyCol: Column): Column = {
      val m = md5(keyCol.cast("string"))
      coalesce(
        (0 until h).map { i =>
          val p = conv(substring(m, 1 + 6 * i, 6), 16, 10).cast("long") %
            (1L << bitsLog2)
          coalesce(element_at(bf, shiftright(p, 5).cast("int") + lit(1)), lit(0L))
            .bitwiseAND(element_at(masks, (p % 32).cast("int") + lit(1))) =!= 0L
        }.reduce(_ && _), lit(false))
    }
    if (dense.size <= maxLiteralGroups) {
      // per-group literal lookup, keyed on the caller's `group`
      // expression (it may not exist as a column on `keys` — e.g. the
      // catalog's lit(0L) group, where the chain constant-folds to
      // one literal array)
      val bf: Column = dense match {
        case Seq() => lit(null).cast("array<bigint>")
        case (g0, a0) +: rest =>
          rest.foldLeft(when(group <=> lit(g0), lit(a0))) {
            case (acc, (gv, arr)) => acc.when(group <=> lit(gv), lit(arr))
          }
      }
      keys.select((group.as("g") +: key.as("key") +: carry) :+
        probe(bf, key).as("maybe"): _*)
    } else {
      // guarded fallback: local (g, words) relation broadcast-joined
      // on null-safe g — graceful where a G-literal when-chain would
      // blow up the plan
      val spark = keys.sparkSession
      val gType = sketch.schema("g").dataType
      val schema = types.StructType(Seq(
        types.StructField("__bg", gType, nullable = true),
        types.StructField("__bf", types.ArrayType(types.LongType, containsNull = false),
          nullable = true)))
      val data = new java.util.ArrayList[org.apache.spark.sql.Row](dense.length)
      dense.foreach { case (gv, arr) =>
        data.add(org.apache.spark.sql.Row(gv, arr.toSeq))
      }
      val bfFrame = spark.createDataFrame(data, schema)
      val pre = keys.select((group.as("g") +: key.as("key") +: carry): _*)
      val preCols = pre.columns.toSeq
      pre.join(broadcast(bfFrame), pre("g") <=> bfFrame("__bg"), "left")
        .select(preCols.map(col) :+ probe(col("__bf"), col("key")).as("maybe"): _*)
    }
  }
}
