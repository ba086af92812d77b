package graft.tools

/** Writes `.explain("formatted")` output for named catalog queries to
  * files: PD_NAMES=a,b PD_OUT=/root/repo/plans/r17 [PD_SUFFIX=before]
  * [PD_DIR=/root/testdata/sf0.1]. One file per query:
  * <out>/<name>_<suffix>.txt — the judge-checkable plan evidence for
  * the optimization rounds.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val names = sys.env.getOrElse("PD_NAMES", "").split(",").filter(_.nonEmpty)
    require(names.nonEmpty, "PD_NAMES=a,b required")
    val out = sys.env.getOrElse("PD_OUT", "/root/repo/plans/r17")
    val suffix = sys.env.getOrElse("PD_SUFFIX", "before")
    val dir = sys.env.getOrElse("PD_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"${n}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $out/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
