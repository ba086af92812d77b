package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR, forcing full plan execution via the noop sink
  * (a bare count() would let Catalyst prune projected expressions),
  * and prints ONE JSON line.
  */
object Bench {
  // Guards double-emission between the normal path and the shutdown
  // hook (round-11 lesson: the driver SIGTERM'd the JVM mid-round and
  // the round shipped with NO parseable bench artifact at all).
  private val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)

  // Version tag of the fixed canary workload in canaryOnce. MUST match
  // scripts/canary_ref.json's "workload"; bump both together with a
  // freshly recorded reference value whenever the workload changes.
  private val CanaryWorkload = "md5x4M-32task-agg97-v1"

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create("graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warmup outside the timings (driver measures wall
    // clock per query; class-loading noise would land on the first).
    // Non-fatal: a warmup failure (e.g. a testdata schema change) must
    // not zero out the round's entire performance evidence — round 9
    // lost its bench to exactly that. Root cause goes to stderr first
    // so a truncated log tail still identifies it.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${rootLine(e)}")
    }

    // Noise hygiene (round-2 verdict: a shared box inflated untouched
    // sub-second queries 2-3x between rounds): run the whole catalog
    // up to `maxRounds` times INTERLEAVED — a load spike lands on one
    // round of many queries instead of one query's only sample — and
    // report the per-query MEDIAN.
    //
    // Round-11 lesson: 145 queries x 5 rounds outgrew the driver's
    // kill window (rc=124, SparkContext shut down mid-round, zero
    // output). So rounds are now BUDGET-AWARE: after each completed
    // round, the next one only runs if its projected cost fits inside
    // SPARK_GRAFT_BENCH_BUDGET_S (floor 2 rounds to keep the
    // interleaved-median discipline, cap SPARK_GRAFT_BENCH_ROUNDS),
    // and a JVM shutdown hook emits medians-of-completed-samples so
    // even a SIGTERM leaves one parseable line.
    val maxRounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "5").toInt
    // 1100 s default (was 600): at 172+ queries three warm rounds no
    // longer fit 600 s, and a 2-round record is cold-biased (SCALE.md,
    // round-12 verdict item 8). The shutdown hook still guarantees a
    // parseable artifact if the driver's kill window is tighter.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1100").toDouble
    // Local-iteration escape hatch: bench a comma-separated subset.
    // The driver never sets it, so round benches always run the full
    // catalog.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Mutated by the main thread only; read concurrently by the
    // shutdown hook — ConcurrentHashMap gives the hook a consistent
    // snapshot without locking the hot loop.
    val samples = new java.util.concurrent.ConcurrentHashMap[String, List[Double]]()
    val errors  = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val roundsDone = new java.util.concurrent.atomic.AtomicInteger(0)

    val hook = new Thread(() =>
      emit(samples, errors, roundsDone.get(), floor = 0.0, sfDir,
        partial = true, elapsedS = (System.nanoTime() - tStart) / 1e9))
    Runtime.getRuntime.addShutdownHook(hook)

    // Fixed-workload CANARY (round-15, verdict item 7): same-code
    // full-catalog runs drift ~7-13% with box load, making raw
    // round-over-round totals unreadable. This fixed CPU+shuffle
    // workload (4M md5 over 32 tasks + a 97-key aggregate) is
    // catalog-independent; cross-record total comparisons divide by
    // the canary ratio to net box drift out.
    val canarySamples = scala.collection.mutable.Buffer[Double]()
    def canaryOnce(s: SparkSession): Double = {
      // Changing ANYTHING below invalidates cross-round normalization:
      // bump CanaryWorkload and re-record scripts/canary_ref.json.
      import org.apache.spark.sql.functions.{col, concat_ws, count, lit, md5, min => fmin}
      val t0 = System.nanoTime()
      s.range(0, 4000000L, 1, 32)
        .select((col("id") % 97L).as("k"),
          md5(concat_ws("|", lit("c"), col("id").cast("string"))).as("h"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), fmin(col("h")).as("m"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    var r = 0
    var go = true
    while (go) {
      r += 1
      val r0 = System.nanoTime()
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${rootLine(e)}")
          errors.put(name, rootLine(e))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        samples.compute(name, (_, s) => dt :: Option(s).getOrElse(Nil))
      }
      roundsDone.set(r)
      // one canary sample PER ROUND, interleaved with the catalog:
      // an end-of-run canary misses intra-run box drift (observed
      // r15: rounds at 161-222 s while the post-run canary read
      // FASTER than reference) — the per-round median prices the box
      // as the catalog actually experienced it
      canarySamples += canaryOnce(spark)
      val roundS = (System.nanoTime() - r0) / 1e9
      val elapsedS = (System.nanoTime() - tStart) / 1e9
      // 1.15 headroom: rounds speed UP as the codegen cache warms, but
      // a box-load spike mid-projection must not blow the budget.
      go = r < maxRounds && (r < 2 || elapsedS + roundS * 1.15 < budgetS)
      System.err.println(f"[bench] round $r done in $roundS%.1fs (elapsed $elapsedS%.1fs of budget $budgetS%.0fs, continue=$go)")
    }

    // The per-query session floor — plan + job scheduling through the
    // same noop sink on a trivial input — measured with the same
    // median-of-rounds discipline. BENCH_COMPARE nets it out so
    // sub-second queries' plan ratios aren't drowned by fixed cost.
    val floor = median((1 to roundsDone.get()).map { _ =>
      val t0 = System.nanoTime()
      spark.range(32).repartition(2).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.toList)

    val canary = median(canarySamples.toList)
    // Contaminated-run tripwire (round-17 verdict item 8): a stolen
    // box made a whole driver bench unusable and only the canary
    // field betrayed it. Compare against scripts/canary_ref.json's
    // recorded reference (workload tags must match) and WARN on
    // stderr — never stdout, which must stay one parseable JSON line.
    for ((ref, tag) <- canaryRef() if tag == CanaryWorkload && canary > 2.0 * ref)
      System.err.println(f"[bench] WARN: canary $canary%.3f s is ${canary / ref}%.1fx " +
        f"the recorded reference $ref%.3f s - this box is heavily loaded/stolen; " +
        "treat this record's walls as contaminated (compare via interleaved records)")

    emit(samples, errors, roundsDone.get(), floor, sfDir,
      partial = false, elapsedS = (System.nanoTime() - tStart) / 1e9, canary = canary)
    try Runtime.getRuntime.removeShutdownHook(hook) catch { case _: Throwable => }
    spark.stop()
    if (!errors.isEmpty) sys.exit(1)
  }

  /** (canary_ref, workload) from scripts/canary_ref.json when present
    * — absent/garbled files just disable the tripwire (the bench must
    * run anywhere the repo isn't checked out).
    */
  private def canaryRef(): Option[(Double, String)] =
    try {
      val p = java.nio.file.Paths.get("scripts/canary_ref.json")
      if (!java.nio.file.Files.exists(p)) None
      else parseCanaryRef(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    } catch { case _: Throwable => None }

  /** (canary_ref, workload) from a canary_ref.json's text. The
    * reference is a JSON number (exponents included); a missing tag,
    * a malformed number or a reference <= 0 gives None, since a zero
    * reference would fire the tripwire on every run.
    */
  private[graft] def parseCanaryRef(txt: String): Option[(Double, String)] = {
    val ref = """"canary_ref"\s*:\s*(-?(?:0|[1-9][0-9]*)(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\s*[,}]""".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble).filter(_ > 0.0)
    val tag = """"workload"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(txt).map(_.group(1))
    for (r <- ref; t <- tag) yield (r, t)
  }

  private def median(xs: List[Double]): Double = xs match {
    case Nil => 0.0
    case _ =>
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Emits the bench artifact: the full per-query line to
    * SPARK_GRAFT_BENCH_JSON (the full line outgrew the driver's tail
    * capture at 136 queries) and a compact summary printed LAST on
    * stdout — small enough that a truncated tail always ends with one
    * parseable line. Runs at most once (normal completion or shutdown
    * hook, whichever fires first).
    */
  private def emit(
      samples: java.util.concurrent.ConcurrentHashMap[String, List[Double]],
      errors: java.util.concurrent.ConcurrentHashMap[String, String],
      rounds: Int, floor: Double, sfDir: String,
      partial: Boolean, elapsedS: Double, canary: Double = 0.0): Unit = {
    if (!emitted.compareAndSet(false, true)) return
    import scala.jdk.CollectionConverters._
    // Warm-up exclusion (round-12 lesson): round 1 pays JIT/codegen/
    // page-cache warming for the whole catalog (~235 s vs ~155 s warm
    // at 171 queries), and with a 600 s budget only TWO rounds fit —
    // a median over both is the MEAN of (cold, warm), which misread
    // the same HEAD as 240 s vs its true 173 s. Each query's round-1
    // sample (the LAST element — samples prepend) is dropped whenever
    // a warm sample exists, so the artifact reports steady-state at
    // any round count.
    def dropCold(v: List[Double]): List[Double] = if (v.size >= 2) v.init else v
    val results = samples.asScala.toSeq
      .map { case (k, v) => k -> median(dropCold(v)) }.sortBy(_._1)
    // Locale.ROOT: %.3f under a comma-decimal default locale would
    // emit malformed JSON.
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\n\\r\\t]", " ") + "\""
    val qs = results.map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Failed queries are called out IN the artifact (name → root-cause
    // first line) — a bench with errors must not read as a clean run.
    val errField =
      if (errors.isEmpty) ""
      else errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${jstr(v.take(300))}""" }
        .mkString(""","errors":{""", ",", "}")
    val partField = if (partial) s""","partial":true,"elapsed":${f3(elapsedS)}""" else ""
    // canaryWorkload tags WHICH fixed workload produced the canary
    // number; scripts/canary_ref.json records the reference value for
    // the same tag, and bench_compare.py refuses to normalize across a
    // tag mismatch (a changed canary would skew totals silently).
    val canField =
      if (canary > 0.0)
        s""","canary":${f3(canary)},"canaryWorkload":"$CanaryWorkload""""
      else ""
    val fullLine =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"floor":${f3(floor)}$canField,"sf":"$sfDir","rounds":$rounds$errField$partField}"""
    println(fullLine)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "/tmp/graft_bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${rootLine(e)}")
    }
    val slowest = results.sortBy(-_._2).take(8)
      .map { case (k, v) => s""""$k":${f3(v)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","nqueries":${results.size},"floor":${f3(floor)}$canField,"sf":"$sfDir","rounds":$rounds,"nerrors":${errors.size}$partField,"slowest":$slowest,"full":"$outPath"}""")
    System.out.flush()
  }

  /** First line of the ROOT cause — the `DATATYPE_MISMATCH ...` line,
    * not 30 frames of analyzer scaffolding (round-9 bench tail lost
    * the message to truncation).
    */
  private def rootLine(e: Throwable): String = {
    var t = e
    while (t.getCause != null && t.getCause != t) t = t.getCause
    val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
    s"${t.getClass.getSimpleName}: ${msg.linesIterator.take(3).mkString(" | ")}"
  }
}
