package graft.tools

/** Interleaved Spark-vs-DuckDB catalog bench (r17 verdict item 5):
  * within every round, each query runs on BOTH engines back to back
  * (Spark noop sink, then the DuckDB oracle via a persistent
  * `scripts/oracle_timer.py` subprocess), so per-query ratios AND the
  * totals are same-box-state by construction — the cross-round
  * canary normalization whose measured error bar under CPU steal was
  * ±14% (SCALE.md round 16) is not needed within such a record.
  *
  * Protocol: one untimed warm round for both engines (JIT, codegen
  * cache, page cache, DuckDB's own warm paths), then IB_ROUNDS
  * (default 3) timed rounds, per-query MEDIANS. Output: one JSON line
  * to IB_JSON (default /tmp/bench_interleaved.json) with `queries`
  * (Spark), `duckdbQueries`, `floor`, and `"interleaved": true` —
  * `scripts/bench_compare.py` consumes the embedded DuckDB times
  * instead of re-timing, and skips canary normalization.
  */
object InterleavedBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("IB_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("IB_ROUNDS", "3").toInt
    val outJson = sys.env.getOrElse("IB_JSON", "/tmp/bench_interleaved.json")
    val spark = graft.GraftSession.create("graft-bench-interleaved")
    spark.sparkContext.setLogLevel("ERROR")

    // the timer subprocess needs the CURRENT oracle catalog; an
    // explicit IB_ORACLE_DIR lets bench_all.sh share one dump with
    // bench_compare.py instead of writing a second temp copy
    val oracleDir = sys.env.getOrElse("IB_ORACLE_DIR",
      java.nio.file.Files.createTempDirectory("ib_oracle").toString)
    graft.Verify.writeOracleJson(oracleDir)
    val pb = new ProcessBuilder("python3", "scripts/oracle_timer.py",
      sfDir, s"$oracleDir/oracle_sql.json")
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val toDuck = new java.io.PrintWriter(proc.getOutputStream, true)
    val fromDuck = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    def duckOnce(name: String): Double = {
      toDuck.println(name)
      val line = fromDuck.readLine()
      require(line != null && !line.startsWith("ERR"),
        s"oracle timer failed on $name: $line")
      line.toDouble
    }

    val only = sys.env.get("IB_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = graft.SparkEntry.oracleSql.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    def sparkOnce(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // untimed warm round, both engines
    names.foreach { n => sparkOnce(n); duckOnce(n) }
    System.err.println(s"[ib] warm round done (${names.size} queries)")

    val sparkS = names.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
    val duckS = names.map(_ -> scala.collection.mutable.Buffer[Double]()).toMap
    for (r <- 1 to rounds) {
      val r0 = System.nanoTime()
      for (n <- names) {
        sparkS(n) += sparkOnce(n)
        duckS(n) += duckOnce(n)
      }
      System.err.println(f"[ib] round $r done in ${(System.nanoTime() - r0) / 1e9}%.1f s")
    }
    toDuck.close(); proc.waitFor()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val floor = median((1 to math.max(rounds, 3)).map { _ =>
      val t0 = System.nanoTime()
      spark.range(32).repartition(2).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = names.map(n => s""""$n":${f3(median(sparkS(n).toSeq))}""")
      .mkString("{", ",", "}")
    val ds = names.map(n => s""""$n":${f3(median(duckS(n).toSeq))}""")
      .mkString("{", ",", "}")
    val total = names.map(n => median(sparkS(n).toSeq)).sum
    val line = s"""{"metric":"graft_catalog_seconds","value":${f3(total)},""" +
      s""""unit":"sec","sf":"$sfDir","rounds":$rounds,"floor":${f3(floor)},""" +
      s""""interleaved":true,"queries":$qs,"duckdbQueries":$ds}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line + "\n")
    println(line)
    spark.stop()
  }
}
