package graft

/** Daemon pool for overlapping independent Spark jobs (a DML commit's
  * mark scan and staging writes, an index fold's kickoff, retrieval's
  * list collects). The tasks are short-lived, so a cached pool is
  * right-sized; daemon threads never pin JVM shutdown. Concurrent job
  * submission from separate threads is the supported scheduler
  * pattern.
  */
private[graft] object JobPool {
  lazy val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-jobs"); t.setDaemon(true); t
      }))
}
