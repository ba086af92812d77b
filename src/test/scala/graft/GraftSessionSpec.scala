package graft

/** [[GraftSession]] — the test session is configured like the entry
  * points, so specs see the plans Bench times and Verify checks.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.spark carries every setting GraftSession defines, with the same values") {
    for ((k, v) <- GraftSession.settings(4))
      assert(spark.conf.get(k) === v, s"setting $k")
  }

  test("cpus: SPARK_GRAFT_CPUS when set, availableProcessors otherwise") {
    assert(GraftSession.cpus(Map.empty) === Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "7")) === 7)
  }
}
