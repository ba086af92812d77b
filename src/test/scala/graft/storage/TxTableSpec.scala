package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The concurrent-writer contract the round-2 verdict flagged as the
  * last 100 TB correctness hole: streaming appends and maintenance
  * partition-rewrites interleaving on one table must lose nothing.
  */
class TxTableSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def freshTable(): TxTable = {
    val dir = java.nio.file.Files.createTempDirectory("txtable").toString
    new TxTable(spark, dir)
  }

  private def rows(ids: Range, date: String) =
    ids.map(i => (i.toLong, s"v$i", java.sql.Date.valueOf(date)))
      .toDF("id", "v", "p_date")

  test("append then read round-trips with partition recovery") {
    val t = freshTable()
    t.append(rows(0 until 10, "2021-01-01"))
    t.append(rows(10 until 20, "2021-01-02"))
    val got = t.read()
    assert(got.count() == 20)
    assert(got.schema.fieldNames.toSet == Set("id", "v", "p_date"))
    assert(got.filter(col("p_date") === "2021-01-02").count() == 10)
    assert(t.version == 1)
  }

  test("time travel: any retained version reads exactly its historical content") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))            // v0
    t.append(rows(5 until 9, "2021-01-01"))            // v1
    t.rewritePartitions(Set("2021-01-01")) { df =>
      df.filter(col("id") < 2)                         // v2 keeps ids 0, 1
    }
    assert(t.readSnapshot(t.snapshot(0)).select("id").collect().map(_.getLong(0)).sorted
      === (0L until 5L).toArray)
    assert(t.readSnapshot(t.snapshot(1)).count() === 9)
    assert(t.read().count() === 2)
    // snapshots are immutable objects: a later commit doesn't mutate one
    val s1 = t.snapshot(1)
    t.append(rows(100 until 110, "2021-01-02"))
    assert(t.readSnapshot(s1).count() === 9)
  }

  test("change feed: appends in range only; rewrites never re-deliver") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))             // v0
    t.append(rows(5 until 8, "2021-01-01"))             // v1
    t.rewritePartitions(Set("2021-01-01")) { df =>      // v2 reshapes all rows
      df.filter(col("id") =!= 0L)
    }
    t.append(rows(100 until 103, "2021-01-02"))         // v3

    // feed after v0: v1's append + v3's append; the v2 rewrite's
    // staged files (reshaped old rows) must NOT re-deliver
    val feed = t.readChangesSince(0).select("id").collect().map(_.getLong(0)).sorted
    assert(feed.toSeq === Seq(5L, 6L, 7L, 100L, 101L, 102L))
    // bounded range excludes the later append
    assert(t.readChangesSince(0, 2).count() === 3)
    // bootstrap from -1 delivers every append ever (not the rewrite)
    assert(t.readChangesSince(-1).count() === 11)
    // empty range at head
    assert(t.readChangesSince(t.version).count() === 0)
  }

  test("change feed delivers upsert inserts; reshaped upsert content never re-delivers") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))             // v0
    // insertIgnore: ids 3,4 exist (skipped), 5..7 are net-new
    val batch = (3 until 8).map(i => (i.toLong, s"NEW$i", java.sql.Date.valueOf("2021-01-01")))
      .toDF("id", "v", "p_date")
    t.insertIgnore(batch, Seq("id"))                    // v1 (upsert)
    val afterV0 = t.readChangesSince(0).select("id").collect().map(_.getLong(0)).sorted
    assert(afterV0.toSeq === Seq(5L, 6L, 7L), "feed must carry exactly the inserted keys")
    // the upsert rewrote NOTHING: v0's files are still live (O(batch) upsert)
    assert(t.snapshot(0).files.toSet.subsetOf(t.snapshot(1).files.toSet))

    // a fully-duplicate re-delivery is a no-op: no version bump, no
    // empty delta in the log
    val vBefore = t.version
    t.insertIgnore(batch, Seq("id"))
    assert(t.version === vBefore, "all-dup insertIgnore must not commit")

    // upsertRewritePartitions: reshape ids 0..7, introduce 100..102
    val freshRows = rows(100 until 103, "2021-01-01")
    t.upsertRewritePartitions(Set("2021-01-01")) { cur =>
      cur.withColumn("v", upper(col("v"))).withColumn(TxTable.TagCol, lit("u"))
        .unionByName(freshRows.withColumn(TxTable.TagCol, lit("n")))  // v2
    }
    val afterV1 = t.readChangesSince(1).select("id").collect().map(_.getLong(0)).sorted
    assert(afterV1.toSeq === Seq(100L, 101L, 102L),
      "reshaped half of an upserting rewrite must not re-deliver")
    assert(t.read().count() === 11)
    // table content reflects both halves of the split commit
    assert(t.read().filter(col("v") === "V0").count() === 1)

    // the update MARKER completes the feed contract: the row feed
    // skipped v2's reshaped (value-changed) half, so the marker must
    // name exactly its partition — the one an update-aware consumer
    // re-reads. Pure appends/insertIgnores must NOT appear.
    assert(t.changedPartitionsSince(1) === Set("2021-01-01"),
      "upserting rewrite must mark its partition for re-read")
    assert(t.changedPartitionsSince(0, 1) === Set.empty,
      "insertIgnore inserts are net-new — no partition to re-read")
  }

  test("tagged refresh upsert equals the semi/anti-join form row for row on repeated keys") {
    val t = freshTable()
    val keys = Seq("exchange", "base_id", "quote_id", "bucket")
    def candles(rs: (String, Int, Double)*) = rs.map { case (base, minute, close) =>
      ("binance", base, "USDT", java.sql.Timestamp.valueOf(f"2021-01-01 00:$minute%02d:00"), close)
    }.toDF("exchange", "base_id", "quote_id", "bucket", "close")
    def dated(df: org.apache.spark.sql.DataFrame) = df.withColumn("p_date", to_date(col("bucket")))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select((keys :+ "close" :+ "p_date").map(col): _*).collect().map(_.toString).sorted.toSeq
    graft.maintenance.AggregateMaintenance.writePartitionedTx(
      candles(("BTC", 0, 1.0), ("BTC", 1, 1.0), ("ETH", 0, 1.0), (null, 0, 1.0)), t)
    t.append(dated(candles(("BTC", 0, 2.0), ("ETH", 0, 2.0))))  // the table repeats two keys
    val before = t.version
    // the refresh repeats a key too, brings two new keys, and a null
    // key that (as in an equi-join) matches nothing
    val refresh = candles(("BTC", 0, 9.0), ("BTC", 0, 8.0), ("ETH", 5, 9.0), ("SOL", 0, 9.0),
      (null, 0, 9.0))
    val existing = t.read()
    val kc = keys.map(col)
    val semiAnti = sorted(dated(refresh).join(existing.select(kc: _*), keys, "left_semi")
      .unionByName(existing.join(dated(refresh).select(kc: _*), keys, "left_anti"))
      .unionByName(dated(refresh).join(existing.select(kc: _*), keys, "left_anti")))
    assert(semiAnti.size === 9)

    graft.maintenance.AggregateMaintenance.writePartitionedTx(refresh, t)
    assert(sorted(t.read()) === semiAnti)
    // only the refresh rows whose key the table lacked are net-new
    assert(sorted(t.readChangesSince(before)) ===
      sorted(dated(candles(("ETH", 5, 9.0), ("SOL", 0, 9.0), (null, 0, 9.0)))))
    assert(t.changedPartitionsSince(before) === Set("2021-01-01"))
    assert(t.read().schema.fieldNames.toSeq === dated(refresh).columns.toSeq,
      "the staging tag is not a table column")
  }

  test("upsertRewritePartitions fails a compute that emits rows outside its partitions") {
    val t = freshTable()
    t.append(rows(0 until 3, "2021-01-01"))
    val e = intercept[IllegalArgumentException] {
      t.upsertRewritePartitions(Set("2021-01-01")) { cur =>
        cur.unionByName(rows(5 until 6, "2021-01-02")).withColumn(TxTable.TagCol, lit("u"))
      }
    }
    assert(e.getMessage.contains("outside those partitions"))
    assert(t.version === 0 && t.read().count() === 3)
  }

  test("changedPartitionsSince marks rewrites/compactions, never appends") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))             // v0
    t.append(rows(5 until 8, "2021-01-02"))             // v1
    assert(t.changedPartitionsSince(-1) === Set.empty)
    t.rewritePartitions(Set("2021-01-02")) { df =>      // v2 reshapes
      df.filter(col("id") =!= 5L)
    }
    t.append(rows(100 until 103, "2021-01-03"))         // v3
    assert(t.changedPartitionsSince(-1) === Set("2021-01-02"))
    assert(t.changedPartitionsSince(2) === Set.empty,
      "range after the rewrite sees only the append")
  }

  test("empty table reads as empty DataFrame after a zero-row commit") {
    val t = freshTable()
    t.append(rows(0 until 0, "2021-01-01"))
    assert(t.read().count() == 0)
    assert(t.read().schema.fieldNames.contains("id"))
  }

  test("stale rewrite commit conflicts; append never does") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))
    val readV = t.version
    // an append lands after our snapshot read, same partition
    t.append(rows(5 until 10, "2021-01-01"))
    intercept[TxConflictException] {
      t.commitRewrite(readV, Set("2021-01-01"), Seq.empty, t.read().schema)
    }
    // disjoint partition: same staleness, no conflict
    t.commitRewrite(readV, Set("2099-12-31"), Seq.empty, t.read().schema)
    assert(t.read().count() == 10) // nothing lost by either commit
  }

  test("rewritePartitions retry folds in a mid-rewrite append") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))
    var injected = false
    t.rewritePartitions(Set("2021-01-01")) { cur =>
      if (!injected) { injected = true; t.append(rows(100 until 105, "2021-01-01")) }
      cur // identity rewrite; first attempt must conflict and re-read
    }
    // the injected rows survive because the losing rewrite retried
    assert(t.read().count() == 10)
    assert(t.read().filter(col("id") >= 100).count() == 5)
  }

  test("insertIgnore is first-write-wins per key") {
    val t = freshTable()
    t.append(rows(0 until 5, "2021-01-01"))
    val batch = (3 until 8).map(i => (i.toLong, s"NEW$i", java.sql.Date.valueOf("2021-01-01")))
      .toDF("id", "v", "p_date")
    t.insertIgnore(batch, Seq("id"))
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 8)
    assert(got(3) == "v3" && got(4) == "v4") // existing wins
    assert(got(7) == "NEW7")
  }

  test("two writers bootstrapping one table with overlapping keys: one row per key") {
    val t = freshTable()
    val start = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = Seq(rows(0 until 30, "2021-01-01"), rows(15 until 45, "2021-01-01")).map(b =>
      new Thread(() => try { start.await(); t.insertIgnore(b, Seq("id")) }
        catch { case e: Throwable => errs.add(e) }))
    writers.foreach(_.start()); writers.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer threads failed: ${errs.toArray.mkString(";")}")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (0L until 45L))
  }

  test("insertIgnore retries a same-key commit landing between its snapshot read and its CAS") {
    val t = freshTable()
    // a racing writer's key-5 row, committed from inside insertIgnore's
    // stage job: after its snapshot read (of the uncommitted table),
    // before its CAS
    val racer = rows(5 until 6, "2021-01-01").withColumn("v", lit("racer"))
    val racerFiles = t.stage(racer)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TxTableSpecHook.onRow.set(() =>
      if (fired.compareAndSet(false, true)) t.commitAppend(racerFiles, racer.schema))
    val hook = udf((id: Long) => { TxTableSpecHook.onRow.get()(); id }).asNondeterministic()
    try t.insertIgnore(rows(4 until 7, "2021-01-01").withColumn("id", hook(col("id"))),
      Seq("id"), knownParts = Some(Set("2021-01-01")))
    finally TxTableSpecHook.onRow.set(() => ())
    assert(fired.get, "the racing commit never ran")
    val got = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got.sortBy(_._1) == Seq(4L -> "v4", 5L -> "racer", 6L -> "v6"))
    assert(t.version == 1) // v0 the racer, v1 the retried insert
  }

  test("an empty first insertIgnore or mergeInto publishes the batch schema as v0") {
    val empty = rows(0 until 0, "2021-01-01")
    Seq[TxTable => Long](_.insertIgnore(empty, Seq("id")), _.mergeInto(empty, Seq("id")))
      .foreach { write =>
        val t = freshTable()
        assert(write(t) == 0L && t.version == 0 && t.read().count() == 0)
        assert(t.read().schema.fieldNames.toSeq == Seq("id", "v", "p_date"))
      }
  }

  test("concurrent appender vs partition-rewriter: zero lost, zero duplicated") {
    val t = freshTable()
    t.append(rows(0 until 1, "2021-01-01"))
    val nBatches = 12
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() => {
      try (1 to nBatches).foreach { b =>
        t.append(rows(b * 100 until b * 100 + 10, "2021-01-01"))
      } catch { case e: Throwable => errs.add(e) }
    })
    val rewriter = new Thread(() => {
      try (1 to 6).foreach { _ =>
        // maintenance-style rewrite: recompute the partition's own
        // content (identity refresh) + compaction passes
        t.rewritePartitions(Set("2021-01-01"))(cur => cur.coalesce(1))
        Thread.sleep(30)
      } catch { case e: Throwable => errs.add(e) }
    })
    appender.start(); rewriter.start()
    appender.join(120000); rewriter.join(120000)
    assert(errs.isEmpty, s"writer threads failed: ${errs.toArray.mkString(";")}")
    val ids = t.read().select("id").as[Long].collect().sorted.toSeq
    val expected = (Seq(0L) ++ (1 to nBatches).flatMap(b => b * 100 until b * 100 + 10).map(_.toLong)).sorted
    assert(ids == expected) // every appended row exactly once
  }

  test("compact bounds file count and preserves content exactly") {
    val t = freshTable()
    (0 until 12).foreach(b => t.append(rows(b * 10 until b * 10 + 10, "2021-01-01")))
    val before = t.read().orderBy("id").collect().toSeq
    val filesBefore = t.snapshot(t.version).files.size
    assert(filesBefore > 8)
    val rewrote = t.compact(maxFilesPerPartition = 8)
    assert(rewrote == Set("2021-01-01"))
    assert(t.snapshot(t.version).files.size == 1)
    assert(t.read().orderBy("id").collect().toSeq == before)
  }

  test("vacuum deletes only unreferenced files; latest snapshot still reads") {
    val t = freshTable()
    (0 until 6).foreach(b => t.append(rows(b * 10 until b * 10 + 10, "2021-01-01")))
    t.compact(maxFilesPerPartition = 2)
    val before = t.read().orderBy("id").collect().toSeq
    // age guard disabled: this test proves the logical-unreference
    // half of the contract (no writer is mid-commit here)
    val deleted = t.vacuum(retainVersions = 1, retainAgeMillis = 0L)
    assert(deleted >= 6) // the pre-compaction files are gone
    assert(t.read().orderBy("id").collect().toSeq == before)
  }

  test("vacuum never deletes a concurrent writer's staged-but-uncommitted files") {
    // The round-4 race: stage() moves parquet into data/ BEFORE the
    // manifest CAS, so a vacuum running between a writer's stage()
    // and its commit sees unreferenced files. The mtime retention
    // horizon (Delta VACUUM semantics) must keep them alive.
    val t = freshTable()
    t.append(rows(0 until 10, "2021-01-01"))
    val schema = t.read().schema
    // concurrent writer mid-commit: staged, not yet CAS'd
    val staged = t.stage(rows(10 until 20, "2021-01-01"))
    // default 7-day age horizon: fresh staged files survive even at
    // the most aggressive version retention
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted == 0, s"vacuum deleted $deleted staged files")
    // the writer's commit lands and the snapshot reads fully
    t.commitAppend(staged, schema)
    assert(t.read().count() == 20)
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq ==
      (0L until 20L))
    // sanity: the same staged files WOULD be collected once older
    // than the horizon (simulated by zeroing the age guard after a
    // compaction makes them genuinely unreferenced)
    t.compact(maxFilesPerPartition = 1)
    assert(t.vacuum(retainVersions = 1, retainAgeMillis = 0L) > 0)
    assert(t.read().count() == 20)
  }

  test("log I/O stays bounded across 1000 simulated 10s commits with compaction cadence") {
    // A day of 10s streaming appends is ~8.6k commits; without the
    // delta/checkpoint split each commit rewrote the FULL live-file
    // list (O(files) text), so manifest I/O grew quadratically. This
    // drives 1000 commits through the real CAS/checkpoint path
    // (synthetic TxFiles — no Spark write per commit) with the
    // runPipelineTx-style cadence: compaction every 50 commits,
    // vacuum retaining 5 versions.
    val t = freshTable()
    t.append(rows(0 until 2, "2021-01-01")) // real commit -> schema, v0
    val schema = t.read().schema
    val logDir = new java.io.File(t.root, TxTable.LogDirName)
    def logFiles = logDir.listFiles.toSeq
    var earlyDelta = -1L
    var lateDelta = -1L
    var maxLogBytes = 0L
    for (i <- 1 to 1000) {
      val v = t.commitAppend(
        Seq(TxTable.TxFile(s"data/p_date=2021-01-01/f$i.parquet", "2021-01-01")),
        schema)
      val dSize = new java.io.File(logDir, f"v$v%020d.delta").length
      if (i == 10) earlyDelta = dSize
      if (i == 1000) lateDelta = dSize
      if (i % 50 == 0) {
        t.commitRewrite(t.version, Set("2021-01-01"),
          Seq(TxTable.TxFile(s"data/p_date=2021-01-01/c$i.parquet", "2021-01-01")),
          schema)
        t.vacuum(retainVersions = 5, retainAgeMillis = 0L)
        maxLogBytes = math.max(maxLogBytes, logFiles.map(_.length).sum)
      }
    }
    // per-commit log writes are O(batch), independent of history
    assert(earlyDelta > 0 && lateDelta > 0 && lateDelta <= earlyDelta * 2,
      s"delta grew with table age: v10=$earlyDelta bytes vs v1020=$lateDelta bytes")
    // total log storage bounded by the retention window, not the 1000
    // commits of history (full-manifest design: ~25 MB by commit 1000)
    assert(maxLogBytes < 64 * 1024, s"log dir peaked at $maxLogBytes bytes")
    assert(logFiles.size < 60, s"${logFiles.size} log files survive vacuum")
    // the log still reconstructs the right snapshot: last compaction
    // at 1000 left 1 file, no appends after it
    val snap = t.snapshot(t.version)
    assert(t.version == 1020, s"v=${t.version}")
    assert(snap.files.map(_.path) == Seq("data/p_date=2021-01-01/c1000.parquet"))
  }

  test("runPipelineTx + writePartitionedTx interleave on one table family") {
    // the verdict's exact scenario, deterministic form: maintenance
    // rewrite lands between a batch's snapshot read and commit
    val t = freshTable()
    val base = (0 until 60).map { i =>
      (java.sql.Timestamp.valueOf(f"2021-01-01 00:${i % 60}%02d:00"),
        "binance", "BTC", "USDT", 1d, 2d, 0.5d, 1.5d, (i + 1).toDouble)
    }.toDF("time", "exchange", "base_id", "quote_id", "open", "high", "low", "close", "volume")
    graft.maintenance.AggregateMaintenance.writePartitionedTx(base, t, timeCol = "time")
    val v0 = t.read().count()
    assert(v0 == 60)
    // refresh rewrite again while an append happens mid-rewrite
    var injected = false
    t.rewritePartitions(Set("2021-01-01")) { cur =>
      if (!injected) {
        injected = true
        t.append(Seq((java.sql.Timestamp.valueOf("2021-01-01 12:00:00"),
          "binance", "ETH", "USDT", 1d, 2d, 0.5d, 1.5d, 9d,
          java.sql.Date.valueOf("2021-01-01")))
          .toDF("time", "exchange", "base_id", "quote_id", "open", "high", "low", "close", "volume", "p_date"))
      }
      cur
    }
    assert(t.read().count() == 61)
    assert(t.read().filter(col("base_id") === "ETH").count() == 1)
  }
}

/** A side effect a UDF fires from inside a Spark task (local-mode
  * executors share the JVM), so a spec can commit mid-write.
  */
object TxTableSpecHook {
  val onRow = new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
}
