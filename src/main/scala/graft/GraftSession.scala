package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration shared by every entry point
  * (Bench, Verify, Main, the test session and the tools), so that
  * what Verify checks and the tests assert is planned exactly like
  * what Bench times.
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every setting the session carries, for a `cpus`-core session. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64MB",
    // Static conf, default 100: the catalog's generated classes evict
    // each other at 100 entries and every Bench round would re-compile
    // the whole catalog (the round-11 "+25-40% drift on trivial
    // queries" as the catalog grew). Size it to hold the catalog.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.ui.enabled" -> "false")

  /** A session on `master` (default `local[cpus]`) with [[settings]].
    * Like `getOrCreate`, it returns an already-running session with
    * the runtime settings applied; static ones keep their values.
    */
  def create(appName: String, cpus: Int = GraftSession.cpus(),
             master: Option[String] = None): SparkSession =
    settings(cpus).foldLeft(
        SparkSession.builder().master(master.getOrElse(s"local[$cpus]")).appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
