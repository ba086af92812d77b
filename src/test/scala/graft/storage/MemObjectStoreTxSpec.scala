package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The TxTable commit protocol against a store that provides ONLY the
  * object-store contract: conditional-PUT atomicity at close, no
  * atomic rename, flat keys (MemObjectStoreFileSystem). This is the
  * casCreate scaladoc's S3 deployment story, executed — every commit,
  * conflict, checkpoint, and vacuum path runs with no link(2), no
  * NameNode, and zero renames under the log dir.
  */
class MemObjectStoreTxSpec extends SparkSpec {
  import TxTable._

  private val schema = StructType(Seq(StructField("id", LongType)))

  private def freshStoreTable(name: String): TxTable = {
    MemObjectStore.reset()
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${MemObjectStore.Scheme}.impl", classOf[MemObjectStoreFileSystem].getName)
    new TxTable(spark, s"${MemObjectStore.Scheme}://store/$name")
  }

  private def f(i: Int): TxFile =
    TxFile(s"data/p_date=2021-01-01/f$i.parquet", "2021-01-01")

  test("append/rewrite/checkpoint/vacuum round-trip on conditional-PUT storage") {
    val t = freshStoreTable("t1")
    assert(t.version === -1L)
    (0 until 25).foreach(i => t.commitAppend(Seq(f(i)), schema)) // crosses 2 checkpoints
    assert(t.version === 24L)
    assert(t.snapshot(24).files.size === 25)
    // rewrite with conflict check, then a conflicting stale commit
    t.commitRewrite(24L, Set("2021-01-01"), Seq(f(1000)), schema)
    assert(t.snapshot(t.version).files.map(_.path) === Seq(f(1000).path))
    intercept[TxConflictException] {
      t.commitRewrite(3L, Set("2021-01-01"), Seq(f(2000)), schema)
    }
    // vacuum prunes log objects below the horizon on the store too
    t.vacuum(retainVersions = 2, retainAgeMillis = 0L)
    assert(t.snapshot(t.version).files.map(_.path) === Seq(f(1000).path))
    intercept[Exception] { t.snapshot(0) } // pruned past the horizon
    // a commit read below the horizon cannot be shown disjoint: conflict
    intercept[TxConflictException] {
      t.commitRewrite(3L, Set("2099-12-31"), Seq.empty, schema)
    }
    assert(MemObjectStore.renames.get() === 0,
      "commit protocol must never rename on an object store")
  }

  test("racing committers: conditional PUT arbitrates, no version lost or doubled") {
    val t = freshStoreTable("t2")
    t.commitAppend(Seq(f(0)), schema)
    val nThreads = 4; val perThread = 20
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until nThreads).map { th =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          t.commitAppend(Seq(f(1000 + th * 100 + i)), schema)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing commits failed: ${errs.peek()}")
    assert(t.version === (nThreads * perThread).toLong)
    // every staged file is in the final snapshot exactly once
    val paths = t.snapshot(t.version).files.map(_.path)
    assert(paths.size === nThreads * perThread + 1)
    assert(paths.distinct.size === paths.size)
    assert(MemObjectStore.renames.get() === 0)
  }

  test("change feed reads n-files back off the store") {
    val t = freshStoreTable("t3")
    t.commitAppend(Seq(f(1)), schema)
    t.commitAppend(Seq(f(2)), schema)
    t.commitRewrite(1L, Set("2021-01-01"), Seq(f(3)), schema)
    // feed wants only the two append files; reading their parquet
    // would need real data, so assert at the protocol level: the
    // rewrite delta's adds are `+`, the appends' are `n`
    val lines = (0L to 2L).map { v =>
      new String(MemObjectStore.objects.get(
        s"/t3/${TxTable.LogDirName}/v${"%020d".format(v)}.delta"), "UTF-8")
    }
    assert(lines(0).contains(s"n\t2021-01-01\t${f(1).path}"))
    assert(lines(1).contains(s"n\t2021-01-01\t${f(2).path}"))
    assert(lines(2).contains(s"+\t2021-01-01\t${f(3).path}"))
    assert(lines(2).contains("#kind\trewrite"))
  }
}
