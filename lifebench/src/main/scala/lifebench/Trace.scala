package lifebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer of the program. */
final case class Span(id: Long, parent: Long, layer: String, name: String, req: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark's own code around each layer call:
  * name, start, end, parent and request id, kept in memory and written
  * out at exit. While a span is open, the Spark jobs its thread submits
  * carry the span's layer as their job group and `layer.name` as
  * [[SpanKey]], which [[LayerListener]] reads. Off (the default), `span`
  * just runs its body.
  */
object Trace {
  /** The program's modules, used as layer names. */
  val Layers = Seq("ingest", "storage", "maintenance", "streaming", "api", "catalog")
  val GroupKey = "spark.jobGroup.id"
  val SpanKey = "lifebench.span"

  @volatile var enabled = false
  private val ids = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val parent = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def all: Seq[Span] = { val b = Seq.newBuilder[Span]; spans.forEach(s => b += s); b.result() }
  def named(layer: String, name: String): Seq[Span] = all.filter(s => s.layer == layer && s.name == name)

  def newRequest(): Long = ids.getAndIncrement()

  /** Run `body` as a child of span `parentId` for request `req` — for
    * work handed to another thread (the HTTP server's handler).
    */
  def under[T](parentId: Long, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val (p0, r0) = (parent.get, request.get)
      parent.set(parentId); request.set(req)
      try body finally { parent.set(p0); request.set(r0) }
    }

  def span[T](layer: String, name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val p = parent.get
      val r0 = request.get.longValue
      val r = if (req >= 0) req else r0
      val sc = org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext)
      val prevGroup = sc.map(_.getLocalProperty(GroupKey)).orNull
      val prevSpan = sc.map(_.getLocalProperty(SpanKey)).orNull
      if (Layers.contains(layer)) sc.foreach { c =>
        c.setLocalProperty(GroupKey, layer)
        c.setLocalProperty(SpanKey, s"$layer.$name")
      }
      parent.set(id); request.set(r)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        parent.set(p); request.set(r0)
        sc.foreach { c => c.setLocalProperty(GroupKey, prevGroup); c.setLocalProperty(SpanKey, prevSpan) }
        spans.add(Span(id, p, layer, name, r, t0, t1))
      }
    }

  /** The id of the innermost open span on this thread (0 for none). */
  def currentId: Long = parent.get

  /** Self time per layer, in seconds: each span's duration minus the
    * part of its interval that its child spans cover.
    */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue; var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = all.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name), "req" -> s.req.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Per-layer Spark work: jobs attributed by job group (set by the
  * enclosing [[Trace.span]]; streaming micro-batch jobs carry the
  * query id instead), and task metrics attributed through their stage.
  * The same work is also kept per innermost layer span (`layer.name`).
  */
final class LayerListener extends SparkListener {
  final class Acc {
    val jobs, tasks, cpuNs, shuffleBytes, spillBytes, resultBytes, written = new AtomicLong
  }
  private val acc, bySpan = new ConcurrentHashMap[String, Acc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  def layer(l: String): Acc = acc.computeIfAbsent(l, _ => new Acc)
  def span(s: String): Acc = bySpan.computeIfAbsent(s, _ => new Acc)
  def layers: Seq[String] = { val b = Seq.newBuilder[String]; acc.keySet.forEach(k => b += k); b.result() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(Trace.GroupKey)))
    val l = group.filter(Trace.Layers.contains).getOrElse {
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) "streaming" else "bench"
    }
    layer(l).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageLayer.put(s, l))
    props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { sp =>
      span(sp).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, sp))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val accs = layer(stageLayer.getOrDefault(e.stageId, "bench")) +: Option(stageSpan.get(e.stageId)).map(span).toSeq
    accs.foreach(a => add(a, m))
  }

  private def add(a: Acc, m: org.apache.spark.executor.TaskMetrics): Unit = {
    a.tasks.incrementAndGet()
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.diskBytesSpilled)
      a.resultBytes.addAndGet(m.resultSize)
      a.written.addAndGet(m.outputMetrics.recordsWritten)
    }
  }
}
