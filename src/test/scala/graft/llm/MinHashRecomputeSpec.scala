package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RUNTIME guard for the minhash docsig checkpoint (ADVICE r15): the
  * lazy `localCheckpoint(false)` in [[Dedup.docSigWithSet]] (shared by
  * minHashNearDups/minHashEstimates) feeds three subtrees, the exact
  * shape that RACED under AQE in `CorpusStats.unitNovelty` (both
  * consumer map stages computed the kernel before either materialized
  * the checkpoint). PlanShapeSpec pins the single-RDD plan, but a plan
  * pin cannot see a runtime race — this spec measures per-stage
  * executor CPU instead.
  *
  * Protocol (r17, shared with CheckpointRaceSpec): the kernel-once
  * REFERENCE is [[Dedup.docSigWithSet]] itself with a single consumer
  * — one checkpoint materialization in the identical scheme and JIT
  * regime (both paths warmed before either profile; the earlier
  * absolute-bar calibration against the explode+agg split variant
  * flaked once the native kernel's hot-JIT CPU fell far below the
  * old scheme's). The shipped operator must show NO MORE kernel-class
  * stages (≥ 55% of the reference's heaviest) than the reference:
  * a returned race would add a second kernel execution in a
  * consumer's map stage.
  */
class MinHashRecomputeSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  test("minHashNearDups: no kernel-class stage beyond the docsig materialization") {
    // CPU concentrated in the kernel: enough docs x shingles that
    // md5-per-shingle dwarfs every downstream stage (docs are mostly
    // unique, so the candidate/verify side stays tiny).
    // 3500×150 clears the 200 ms discrimination floor in the hottest
    // JIT regime too (1200 read 199 ms mid-full-suite; 2000 read
    // 163-191 ms on a 4-core box and tripped the too-light guard)
    val docs = (1L to 3500L)
      .map(i => (i, (0 until 150).map(j => s"shingle-$i-$j-padding-for-hash-cost")))
      .toDF("id", "sh")
      .localCheckpoint(true) // fixture cost must not land in either profile
    val k = 8
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def reference: DataFrame = Dedup.docSigWithSet(docs, col("id"), col("sh"), k)
    def shipped: DataFrame =
      Dedup.minHashNearDups(docs, col("id"), col("sh"), k, 2, 0.5d)

    noop(reference); noop(shipped) // same JIT regime for both profiles
    val prof = graft.StageCpus.profile(spark)(noop(shipped))
    val ref = graft.StageCpus.profile(spark)(noop(reference))
    assert(ref.max > 200L,
      s"reference kernel too light to discriminate (${ref.max} ms) — grow the fixture")
    val thr = (ref.max * 55L) / 100L
    val refHeavy = ref.count(_ > thr)
    val shippedHeavy = prof.count(_ > thr)
    assert(shippedHeavy <= refHeavy,
      s"shipped run has $shippedHeavy kernel-class stages (>$thr ms) vs the " +
        s"kernel-once reference's $refHeavy — the docsig checkpoint race is " +
        s"back. shipped=${prof.take(6)} ref=${ref.take(6)}")
  }
}
