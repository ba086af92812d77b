package graft.maintenance

import graft.SparkSpec
import graft.core.OhlcvFixture
import graft.storage.TxTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Proves the 100 TB layout mechanics on disk: the rollup write path
  * lays a table out in date partitions, and time predicates prune
  * them. (That a refresh rewrites only the dates it touched is
  * `FeedRefreshSpec`'s "untouched date partitions keep their files".)
  */
class PartitionedLayoutSpec extends SparkSpec {

  test("writePartitionedTx produces date partitions and time filters prune them") {
    val t = new TxTable(spark, Files.createTempDirectory("graft_part").toString)
    val fx = OhlcvFixture.ohlcvs(spark, nPairs = 2, rows = 3000) // ~2 days
    AggregateMaintenance.writePartitionedTx(fx, t, timeCol = "time")

    val dates = t.snapshot(t.version).files.map(_.partition).distinct
    assert(dates.length >= 3, dates.mkString(","))

    val read = t.read().filter(col("p_date") === "2021-08-18")
    val plan = read.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"), plan)
    // only one partition's rows survive
    val expected = fx.filter(to_date(col("time")) === "2021-08-18").count()
    assert(read.count() == expected)
  }
}
