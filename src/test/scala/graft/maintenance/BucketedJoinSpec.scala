package graft.maintenance

import graft.SparkSpec
import graft.core.OhlcvFixture
import org.apache.spark.sql.functions._

/** Proves the co-located join path: two tables bucketed on the same
  * key join WITHOUT a shuffle (no Exchange above either scan) — the
  * 100 TB answer for repeated fact⋈fact joins on (exchange, base_id,
  * quote_id), where broadcast is impossible and a per-query shuffle
  * of both sides would dominate cost.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed tables join without a shuffle") {
    // warehouse.dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) and are dropped at the end.
    spark.sql("DROP TABLE IF EXISTS b_ohlcvs")
    spark.sql("DROP TABLE IF EXISTS b_latest")

    val fx = OhlcvFixture.ohlcvs(spark, nPairs = 3, rows = 500)
    fx.write.bucketBy(8, "exchange", "base_id", "quote_id")
      .sortBy("exchange", "base_id", "quote_id")
      .mode("overwrite").saveAsTable("b_ohlcvs")
    fx.groupBy("exchange", "base_id", "quote_id")
      .agg(max("time").as("last_time"))
      .write.bucketBy(8, "exchange", "base_id", "quote_id")
      .mode("overwrite").saveAsTable("b_latest")

    // join strictly on the bucket keys: an extra equality filter would
    // be absorbed into the join keys (4 keys != 3 bucket cols) and
    // silently disable bucketing ("Bucketed: false" in the scan)
    val joined = spark.table("b_ohlcvs")
      .join(spark.table("b_latest"), Seq("exchange", "base_id", "quote_id"))
    // disable broadcast so the join strategy itself is under test
    val priorThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == fx.count()) // 1:1 per row with its key's latest
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThreshold)
      spark.sql("DROP TABLE IF EXISTS b_ohlcvs")
      spark.sql("DROP TABLE IF EXISTS b_latest")
    }
  }
}
