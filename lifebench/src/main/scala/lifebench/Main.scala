package lifebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one workload run produced: the output-check verdict, the
  * operation counts, the end-to-end metrics, and the per-layer metrics
  * (complete only when traced).
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double])

/** Run context shared by the workloads. */
final class Env(val spark: SparkSession, val cpus: Int, val seed: Long,
                val seconds: Int, val trace: Boolean) {

  /** Log a phase of the run, with the JVM's age, to stderr. */
  def phase(p: String): Unit = Main.phase(p)

  /** Peak RSS (MB) at the end of the measured phase, so the memory the
    * checks use afterwards is not counted.
    */
  @volatile var peakRssMb: Double = Double.NaN

  /** Run the measured phase. When traced, spans are on and a
    * [[LayerListener]] collects per-layer Spark work; both are off
    * again (and the listener drained) before the caller's checks run.
    */
  def measured[T](body: => T): (T, Double, Option[LayerListener]) = {
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    Trace.enabled = trace
    val t0 = System.nanoTime()
    try {
      val r = body
      peakRssMb = Main.peakRssMb()
      (r, (System.nanoTime() - t0) / 1e9, listener)
    } finally {
      Trace.enabled = false
      listener.foreach { l =>
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    }
  }
}

trait Workload {
  type Fixture
  /** Build the workload's inputs and tables under `dir`. */
  def setup(env: Env, dir: Path): Fixture
  /** Measure for `env.seconds`, then check every output. */
  def run(env: Env, f: Fixture): Outcome
}

/** Benchmark JVM entry point:
  * `lifebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--spans FILE]`.
  * Prints one JSON record as its last stdout line.
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "backfill" -> (() => new BackfillWorkload),
    "live" -> (() => new LiveWorkload),
    "catalog" -> (() => new CatalogWorkload))

  /** Set-up runs this many times per run; its median is `setup_s`. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = flags.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = req("workload")
    val mk = Workloads.getOrElse(name, { System.err.println(s"unknown workload $name"); sys.exit(2) })
    val work = Paths.get(req("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lifebench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var code = 0
    try {
      val env = new Env(spark, cpus, req("seed").toLong, req("seconds").toInt,
        req("trace") == "1")
      val wl = mk()
      phase("session ready")
      val setups = (1 to SetupRepeats).map { i =>
        val t0 = System.nanoTime()
        val f = wl.setup(env, work.resolve(s"setup-$i"))
        ((System.nanoTime() - t0) / 1e9, f)
      }
      phase("set-up done")
      val out = wl.run(env, setups.last._2)
      phase("run and checks done")
      flags.get("spans").foreach(p => Trace.write(Paths.get(p)))
      val e2e = out.e2e ++ Map(
        "setup_s" -> Stats.median(setups.map(_._1)),
        "peak_rss_mb" -> env.peakRssMb)
      val box = Seq(
        "nproc" -> cpus.toString,
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "seed" -> env.seed.toString,
        "seconds" -> env.seconds.toString,
        "setup_runs_s" -> setups.map(s => Json.num(s._1)).mkString("[", ",", "]"))
      def metrics(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      println(Json.obj(Seq(
        "workload" -> Json.str(name),
        "correct" -> out.correct.toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "e2e" -> metrics(e2e),
        "layers" -> metrics(out.layers),
        "box" -> Json.obj(box))))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally spark.stop()
    phase("session stopped")
    sys.exit(code)
  }

  def phase(p: String): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[lifebench] $p at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Per-layer metrics every workload shares: Spark totals, self time per
  * layer, span count. Every name is present on every workload (0 where
  * the workload does not exercise it).
  */
object Layers {
  def common(env: Env, wallS: Double, listener: Option[LayerListener]): Map[String, Double] = {
    val spans = Trace.all
    val self = Trace.selfSeconds(spans)
    val ls = listener.map(l => l.layers.map(l.layer)).getOrElse(Nil)
    def tot(f: LayerListener#Acc => Long): Double = ls.map(a => f(a).toDouble).sum
    Map(
      "spark.jobs" -> tot(_.jobs.get),
      "spark.tasks" -> tot(_.tasks.get),
      "spark.cpu_util" -> tot(_.cpuNs.get) / 1e9 / (wallS * env.cpus),
      "spark.shuffle_mb" -> tot(_.shuffleBytes.get) / 1048576.0,
      "spark.spill_mb" -> tot(_.spillBytes.get) / 1048576.0,
      "spark.result_mb" -> tot(_.resultBytes.get) / 1048576.0,
      "trace.spans" -> spans.size.toDouble) ++
      (("bench" +: Trace.Layers).map(l => s"self_s.$l" -> self.getOrElse(l, 0.0)))
  }

  def jobs(listener: Option[LayerListener], layer: String): Double =
    listener.map(_.layer(layer).jobs.get.toDouble).getOrElse(0.0)

  /** Median span duration in ms for (layer, name), or 0 when none. */
  def medianMs(layer: String, name: String): Double = {
    val d = Trace.named(layer, name).map(_.durNs / 1e6)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  def sumS(layer: String, name: String): Double = Trace.named(layer, name).map(_.durNs / 1e9).sum

  /** Tail metric `name` of a latency sample, with its percentile and
    * sample count beside it (`name.pct`, `name.n`).
    */
  def tail(name: String, xs: Seq[Double]): Map[String, Double] = {
    val (p, v, n) = Stats.tail(xs).getOrElse((0.0, 0.0, xs.size))
    Map(name -> v, s"$name.pct" -> p, s"$name.n" -> n.toDouble)
  }
}
