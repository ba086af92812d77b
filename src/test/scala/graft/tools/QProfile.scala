package graft.tools

import org.apache.spark.scheduler._

/** Per-query job/stage profiler (optimization-guide §1 applied to a
  * UI-less local bench): QP_NAMES=a,b [QP_DIR=...] [QP_WARM=1].
  * For each named catalog query: one untimed warm pass, then one
  * profiled pass under a listener that records every JOB's wall
  * (submission→end) and every STAGE's task count / executor CPU /
  * shuffle bytes. Serialized small jobs (scalar collects, checkpoint
  * materializations, broadcast builds) show up here as the gap
  * between Σjob walls and any single dominant stage.
  */
object QProfile {
  case class StageRec(id: Int, name: String, tasks: Int, cpuMs: Long,
                      shufReadMb: Double, shufWriteMb: Double, wallMs: Long)
  case class JobRec(id: Int, wallMs: Long, stages: Seq[Int])

  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.create("graft-qprofile")
    s.sparkContext.setLogLevel("ERROR")
    val names = sys.env.getOrElse("QP_NAMES", "").split(",").filter(_.nonEmpty)
    require(names.nonEmpty, "QP_NAMES=a,b required")
    val dir = sys.env.getOrElse("QP_DIR", "/root/testdata/sf0.1")
    val warm = sys.env.getOrElse("QP_WARM", "1").toInt

    val jobs = scala.collection.concurrent.TrieMap[Int, (Long, Seq[Int])]()
    val jobEnd = scala.collection.concurrent.TrieMap[Int, Long]()
    val stages = scala.collection.concurrent.TrieMap[Int, StageRec]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, e.stageIds.map(_.toInt)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnd.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.put(si.stageId, StageRec(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L)))
      }
    }

    for (q <- names) {
      val fn = graft.SparkEntry.queries(q)
      (1 to warm).foreach { _ =>
        fn(s, dir).write.format("noop").mode("overwrite").save()
      }
      jobs.clear(); jobEnd.clear(); stages.clear()
      s.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      fn(s, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the async bus
      var stable = 0; var last = -1; var waited = 0
      while (stable < 3 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val n = stages.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      s.sparkContext.removeSparkListener(l)
      println(f"%n=== $q wall $wall%.3f s, ${jobs.size} jobs, ${stages.size} stages ===")
      val ordered = jobs.toSeq.sortBy(_._1)
      for ((jid, (t0j, sids)) <- ordered) {
        val w = jobEnd.get(jid).map(_ - t0j).getOrElse(-1L)
        println(f"  job $jid%3d wall ${w}%5d ms  stages=${sids.sorted.mkString(",")}")
        for (sid <- sids.sorted; st <- stages.get(sid)) {
          println(f"    stage $sid%3d ${st.wallMs}%5d ms wall ${st.cpuMs}%6d ms cpu " +
            f"${st.tasks}%3d tasks  sr=${st.shufReadMb}%.1fMB sw=${st.shufWriteMb}%.1fMB  ${st.name.take(70)}")
        }
      }
    }
    s.stop()
  }
}
