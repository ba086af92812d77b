package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def rankOf(tail: String): Int =
    Seq(tail).toDF("t")
      .select(Sketches.hexRank(col("t"), 10).as("r"))
      .as[Int].head()

  test("hexRank: first-1-bit positions from hex tails") {
    assert(rankOf("8000000000") == 1, "top bit set")
    assert(rankOf("f123abcdef") == 1)
    assert(rankOf("4000000000") == 2)
    assert(rankOf("2fffffffff") == 3)
    assert(rankOf("1000000000") == 4)
    assert(rankOf("0800000000") == 5, "one zero digit then top-of-digit")
    assert(rankOf("00f1a2b3c4") == 9, "two zero digits, then 'f'")
    assert(rankOf("0000000001") == 40)
    assert(rankOf("0000000000") == 41, "all-zero tail")
  }

  test("HLL: within the m=256 error regime and exactly duplicate-invariant") {
    val n = 20000
    val vals = (0 until n).map(i => ("s", s"value_$i")).toDF("src", "v")
    val est = Sketches.hllEstimate(vals, col("src"), col("v"))
      .select("est").as[Double].head()
    assert(math.abs(est - n) / n < 0.25,
      s"HLL est $est vs $n — beyond 4 sigma of 1.04/sqrt(256)")

    val dup = vals.unionByName(vals).unionByName(vals)
    val estDup = Sketches.hllEstimate(dup, col("src"), col("v"))
      .select("est").as[Double].head()
    assert(estDup == est, "duplicates cannot move any register max")
  }

  test("HLL small-range correction engages for tiny sets") {
    val vals = (0 until 30).map(i => ("s", s"x$i")).toDF("src", "v")
    val out = Sketches.hllEstimate(vals, col("src"), col("v"))
      .select("est", "v_zero").as[(Double, Long)].head()
    assert(out._2 > 0L, "most registers empty")
    // linear counting: 256·ln(256/V) — exact small-set estimates land
    // within a few counts
    assert(math.abs(out._1 - 30.0) < 5.0, s"linear-counting est ${out._1}")
  }

  test("KMV: duplicate-invariant, accurate at k=256, absent under k distinct") {
    val n = 20000
    val vals = (0 until n).map(i => ("s", s"value_$i")).toDF("src", "v")
    val est = Sketches.kmvKthMin(vals, col("src"), col("v"), 256)
      .select("est").as[Double].head()
    assert(math.abs(est - n) / n < 0.25, s"KMV est $est vs $n")

    val dup = vals.unionByName(vals)
    val estDup = Sketches.kmvKthMin(dup, col("src"), col("v"), 256)
      .select("est").as[Double].head()
    assert(estDup == est, "dense_rank collapses equal hashes")

    val tiny = (0 until 100).map(i => ("s", s"x$i")).toDF("src", "v")
    assert(Sketches.kmvKthMin(tiny, col("src"), col("v"), 256).count() == 0L,
      "fewer than k distinct values → estimator undefined → no row")
  }

  test("KMV set ops: union/intersection/jaccard estimates near exact on overlapping sets") {
    // A = 0..11999, B = 8000..19999 → |A∪B| = 20000, |A∩B| = 4000, J = 0.2
    val a = (0 until 12000).map(i => ("a", s"v_$i"))
    val b = (8000 until 20000).map(i => ("b", s"v_$i"))
    val mins = Sketches.kmvMins((a ++ b).toDF("src", "v"), col("src"), col("v"), 256)
    assert(mins.groupBy("g").count().as[(String, Long)].collect().toMap
      .values.forall(_ == 256L), "k rows per group")
    val ops = Sketches.kmvSetOps(mins, 256)
      .select("sa", "sb", "jac_est", "est_union", "est_inter")
      .as[(String, String, Double, Double, Double)].collect()
    assert(ops.length == 1)
    val (_, _, jac, un, in) = ops.head
    assert(math.abs(un - 20000.0) / 20000.0 < 0.2, s"union est $un")
    assert(math.abs(jac - 0.2) < 0.1, s"jaccard est $jac")
    assert(math.abs(in - 4000.0) / 4000.0 < 0.5, s"intersection est $in")
  }

  test("count-min: upper bound, exact for hot keys, and mergeable by addition") {
    // zipf-ish: key i appears (200 - i) times → distinct counts, hot head
    val rows = (0 until 200).flatMap(i => Seq.fill(200 - i)((0L, s"key_$i")))
      .toDF("g", "v")
    val cm = Sketches.countMin(rows, col("g"), col("v"))
    val exact = rows.groupBy(col("v")).agg(count(lit(1)).as("n"))
    val est = Sketches.countMinLookup(cm, exact.select(col("v")), lit(0L), col("v"))
    val both = exact.join(est.select(col("key").as("v"), col("est")), Seq("v"))
      .select("v", "n", "est").as[(String, Long, Long)].collect()
    assert(both.length == 200)
    both.foreach { case (v, n, e) =>
      assert(e >= n, s"CM must upper-bound: $v est=$e exact=$n") }
    // 200 keys into 4096 buckets: the hottest keys are almost surely
    // collision-free in at least one of 4 rows → exact estimates
    assert(both.count { case (_, n, e) => e == n } > 150,
      "most keys should estimate exactly at this load factor")

    // mergeability: sketch(A) + sketch(B) == sketch(A ∪ B), cell-exact
    val a = rows.filter(md5(col("v")).startsWith("0") === false)
    val b = rows.filter(md5(col("v")).startsWith("0"))
    val merged = Sketches.countMin(a, col("g"), col("v"))
      .unionByName(Sketches.countMin(b, col("g"), col("v")))
      .groupBy("g", "r", "b").agg(sum("c").as("c"))
      .select("g", "r", "b", "c").as[(Long, Long, String, Long)].collect().toSet
    val whole = cm.select("g", "r", "b", "c")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(merged == whole, "per-part sketches must add to the whole")
  }

  test("bloom: no false negatives, FP rate in regime, words OR-merge") {
    // 4000 members, 4000 distinct probes half-overlapping; m = 2^18
    // bits, h = 4, n = 4000 -> theoretical fp ~ (1-e^{-hn/m})^4 ~ 3e-5;
    // the regime assert is a loose 100x ceiling, not a point estimate
    val members = (0 until 4000).map(i => (0L, s"member_$i")).toDF("g", "v")
    val bloom = Sketches.bloomBuild(members, col("g"), col("v"))
    val probeRows = ((0 until 2000).map(i => s"member_$i") ++
      (0 until 2000).map(i => s"absent_$i")).map((0L, _)).toDF("g", "v")
    val got = Sketches.bloomMightContain(bloom, probeRows, col("g"), col("v"))
      .select("key", "maybe").as[(String, Boolean)].collect().toMap
    assert((0 until 2000).forall(i => got(s"member_$i")),
      "a Bloom filter NEVER misses a member")
    val fps = (0 until 2000).count(i => got(s"absent_$i"))
    assert(fps <= 6, s"fp rate out of regime: $fps/2000 (expected ~0)")

    // mergeability: bit_or of two half-corpus sketches == whole sketch
    val h1 = Sketches.bloomBuild(members.filter(expr("CAST(substring(v, 8) AS INT) % 2 = 0")),
      col("g"), col("v"))
    val h2 = Sketches.bloomBuild(members.filter(expr("CAST(substring(v, 8) AS INT) % 2 = 1")),
      col("g"), col("v"))
    val merged = h1.unionByName(h2).groupBy("g", "w")
      .agg(bit_or(col("bits")).as("bits"))
      .select("g", "w", "bits").as[(Long, Long, Long)].collect().toSet
    val whole = bloom.select("g", "w", "bits").as[(Long, Long, Long)].collect().toSet
    assert(merged == whole, "per-part bloom words must OR to the whole")

    // absent WORD (not just absent bits): a probe whose words are all
    // missing from the sketch rows is definitively absent
    val tiny = Sketches.bloomBuild(Seq((0L, "one")).toDF("g", "v"), col("g"), col("v"))
    val miss = Sketches.bloomMightContain(tiny,
        Seq((0L, "definitely_not_present_xyz")).toDF("g", "v"), col("g"), col("v"))
      .select("maybe").as[Boolean].head()
    assert(!miss, "missing word rows count as zero bits")
  }

  test("bloom probe contracts: row-per-input, NULL key reads false, bitsLog2 mismatch fails loudly") {
    val members = Seq((0L, "a"), (0L, "b")).toDF("g", "v")
    val sketch = Sketches.bloomBuild(members, col("g"), col("v"))
    // one output row PER INPUT ROW, duplicates included (r17 contract
    // change, pinned per r18 advice — a non-distinct caller must see
    // one verdict per row, not per distinct key)
    val dup = Seq((0L, "a"), (0L, "a"), (0L, "zz")).toDF("g", "v")
    val rows = Sketches.bloomMightContain(sketch, dup, col("g"), col("v")).collect()
    assert(rows.length === 3, "probe must emit one row per input row")
    // NULL probe key: boolean contract says definitive-absent FALSE,
    // never NULL (the old aggregate form's behavior)
    val nullKey = Seq((0L, null.asInstanceOf[String])).toDF("g", "v")
    val nk = Sketches.bloomMightContain(sketch, nullKey, col("g"), col("v"))
      .select("maybe").collect().head
    assert(!nk.isNullAt(0) && !nk.getBoolean(0), "NULL key must read false, not NULL")
    // an unknown group reads false in both regimes
    val og = Sketches.bloomMightContain(sketch,
        Seq((9L, "a")).toDF("g", "v"), col("g"), col("v"))
      .select("maybe").as[Boolean].head()
    assert(!og, "unknown group must read false")
    // build/probe bitsLog2 mismatch: a clear error, not an
    // ArrayIndexOutOfBounds in the dense fill
    val wide = Sketches.bloomBuild(members, col("g"), col("v"), bitsLog2 = 18)
    val e = intercept[IllegalArgumentException] {
      Sketches.bloomMightContain(wide, dup, col("g"), col("v"), bitsLog2 = 8)
    }
    assert(e.getMessage.contains("different"), s"got: ${e.getMessage}")
    // h / bitsLog2 domain requires are enforced at the probe too
    intercept[IllegalArgumentException] {
      Sketches.bloomMightContain(sketch, dup, col("g"), col("v"), h = 6)
    }
  }

  test("bloom probe refuses a sketch built with another h or bitsLog2, in both directions") {
    val members = Seq((0L, "a"), (0L, "b")).toDF("g", "v")
    def probe(build: (Int, Int), at: (Int, Int)) = Sketches.bloomMightContain(
      Sketches.bloomBuild(members, col("g"), col("v"), h = build._1, bitsLog2 = build._2),
      members, col("g"), col("v"), h = at._1, bitsLog2 = at._2)
    // a probe larger than its build reads bits the build never set
    // (false negatives); a smaller one indexes outside its words
    Seq((4, 12) -> (4, 18), (4, 18) -> (4, 12), (2, 18) -> (4, 18), (4, 18) -> (2, 18)).foreach {
      case (b, p) =>
        val e = intercept[IllegalArgumentException](probe(b, p))
        assert(e.getMessage.contains(s"h=${b._1}, bitsLog2=${b._2}"), s"got: ${e.getMessage}")
    }
    assert(probe((2, 12), (2, 12)).select("maybe").as[Boolean].collect().forall(identity))
  }
}
