package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read row deletion ([[TxTable.deleteWhere]]) — deletion
  * vectors committed inside the atomic delta, applied by every read,
  * materialized by rewrites, carried across checkpoints and vacuum.
  */
class TxDeleteVectorSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def table(ck: Int = 10) = new TxTable(spark,
    java.nio.file.Files.createTempDirectory("txdv").toString,
    checkpointInterval = ck)

  test("deleteWhere removes matching rows from every read form; no-op keeps the version") {
    val t = table()
    t.append((1L to 100L).map(i => (i, s"v$i", "a")).toDF("id", "v", "p_date"))
    val v1 = t.deleteWhere(col("id") % 10L === 0L)
    assert(v1 === 1L)
    val got = t.read()
    assert(got.count() === 90L)
    assert(got.filter(col("id") % 10L === 0L).count() === 0L)
    // union with a second delete on the SAME file
    t.deleteWhere(col("id") === 7L)
    assert(t.read().count() === 89L)
    // matching nothing commits nothing
    val v = t.version
    assert(t.deleteWhere(col("id") === 99999L) === v)
    assert(t.version === v)
  }

  test("time travel: the pre-delete snapshot still sees every row") {
    val t = table()
    val v0 = t.append((1L to 20L).map(i => (i, "a")).toDF("id", "p_date"))
    t.deleteWhere(col("id") <= 5L)
    assert(t.readSnapshot(t.snapshot(v0)).count() === 20L)
    assert(t.read().count() === 15L)
  }

  test("rewrites materialize the vectors; deleted rows never resurrect") {
    val t = table()
    t.append((1L to 50L).map(i => (i, "a")).toDF("id", "p_date"))
    t.deleteWhere(col("id") > 40L)
    t.rewritePartitions(Set("a"))(cur => cur.coalesce(1))
    assert(t.snapshot(t.version).dv.isEmpty,
      "the rewrite's new files carry no vectors")
    assert(t.read().count() === 40L)
    assert(t.read().agg(max(col("id"))).as[Long].head() === 40L)
  }

  test("a rewrite computed before a concurrent delete conflicts instead of resurrecting") {
    val t = table()
    t.append((1L to 30L).map(i => (i, "a")).toDF("id", "p_date"))
    val staleV = t.version
    val staleFiles = t.snapshot(staleV).files // rewrite planned pre-delete
    t.deleteWhere(col("id") === 1L)
    intercept[TxConflictException] {
      t.commitRewrite(staleV, Set("a"), staleFiles, t.read().schema)
    }
    // a delete in another partition leaves the rewrite's input intact:
    // it commits on the first attempt
    t.append((31L to 40L).map(i => (i, "b")).toDF("id", "p_date"))
    var attempts = 0
    t.rewritePartitions(Set("a")) { cur =>
      attempts += 1
      if (attempts == 1) t.deleteWhere(col("id") === 40L)
      cur.coalesce(1)
    }
    assert(attempts === 1, "a delete in partition b must not conflict with a rewrite of a")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ===
      (2L to 39L).toSeq)
  }

  test("vectors survive checkpoints and vacuum via the horizon checkpoint") {
    val t = table(ck = 3)
    t.append((1L to 60L).map(i => (i, "a")).toDF("id", "p_date"))
    t.deleteWhere(col("id") <= 10L)
    // push the log across checkpoint boundaries and past the horizon
    (1 to 5).foreach(k =>
      t.append(Seq((1000L + k, "b")).toDF("id", "p_date")))
    t.vacuum(retainVersions = 2, retainAgeMillis = 0L)
    val got = t.read()
    assert(got.filter(col("p_date") === "a").count() === 50L)
    assert(got.filter(col("id") <= 10L).count() === 0L,
      "the horizon checkpoint must carry the vectors forward")
  }

  test("updateWhere: one atomic commit swaps old rows for updated ones") {
    val t = table()
    t.append((1L to 40L).map(i => (i, i * 10L, "a")).toDF("id", "amt", "p_date"))
    val v = t.updateWhere(col("id") <= 4L, Map("amt" -> (col("amt") + 1L)))
    assert(v === t.version && v === 1L, "update is ONE commit")
    val got = t.read()
    assert(got.count() === 40L, "updates never change cardinality")
    assert(got.filter(col("id") <= 4L).select(sum(col("amt"))).as[Long].head()
      === (10L + 20L + 30L + 40L) + 4L)
    assert(got.filter(col("id") > 4L).select(sum(col("amt"))).as[Long].head()
      === (5L to 40L).map(_ * 10L).sum)
    // time travel: pre-update snapshot has the old values
    assert(t.readSnapshot(t.snapshot(0L)).filter(col("id") === 1L)
      .select("amt").as[Long].head() === 10L)
    // the change feed does NOT re-deliver updated rows; the partition
    // marker does flag them
    assert(t.readChangesSince(0L).count() === 0L)
    assert(t.changedPartitionsSince(0L) === Set("a"))
    // no match → no commit
    assert(t.updateWhere(col("id") === 999L, Map("amt" -> lit(0L))) === t.version)
    // partition-column updates are refused
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1L, Map("p_date" -> lit("b")))
    }
  }

  test("updateWhere composes with deletes, rewrites, and repeated updates") {
    val t = table()
    t.append((1L to 30L).map(i => (i, 0L, "a")).toDF("id", "n", "p_date"))
    t.updateWhere(col("id") <= 10L, Map("n" -> lit(1L)))
    t.updateWhere(col("id") <= 5L, Map("n" -> (col("n") + 1L)))
    t.deleteWhere(col("id") === 1L)
    val got = t.read().select("id", "n").as[(Long, Long)].collect().toMap
    assert(got.size === 29)
    assert(!got.contains(1L))
    assert((2L to 5L).forall(got(_) == 2L))
    assert((6L to 10L).forall(got(_) == 1L))
    assert((11L to 30L).forall(got(_) == 0L))
    // a compaction materializes everything and preserves content
    t.rewritePartitions(Set("a"))(cur => cur.coalesce(1))
    assert(t.snapshot(t.version).dv.isEmpty)
    assert(t.read().select("id", "n").as[(Long, Long)].collect().toMap === got)
  }

  test("mergeInto: one atomic commit updates matched keys and inserts new ones") {
    val t = table()
    t.append((1L to 20L).map(i => (i, i * 10L, "a")).toDF("id", "amt", "p_date"))
    val batch = Seq((3L, 999L, "a"), (7L, 777L, "a"), // matched → replace
      (100L, 1L, "a"), (101L, 2L, "b"))               // new keys → insert
      .toDF("id", "amt", "p_date")
    val v = t.mergeInto(batch, Seq("id"))
    assert(v === 1L && v === t.version, "merge is ONE commit")
    val got = t.read().select("id", "amt").as[(Long, Long)].collect().toMap
    assert(got.size === 22)
    assert(got(3L) === 999L && got(7L) === 777L, "matched keys replaced")
    assert(got(100L) === 1L && got(101L) === 2L, "new keys inserted")
    assert(got(4L) === 40L, "untouched rows intact")
    // the insert feed delivers ONLY the new-key rows
    val fed = t.readChangesSince(0L).select("id").as[Long].collect().toSet
    assert(fed === Set(100L, 101L))
    assert(t.changedPartitionsSince(0L).contains("a"))
    // time travel: pre-merge values intact
    assert(t.readSnapshot(t.snapshot(0L)).filter(col("id") === 3L)
      .select("amt").as[Long].head() === 30L)
    // re-merge of the same batch replaces again (idempotent content)
    t.mergeInto(batch, Seq("id"))
    assert(t.read().count() === 22L)
    assert(t.read().filter(col("id") === 3L).select("amt").as[Long].head() === 999L)
  }

  test("mergeInto evolves the schema additively; updateWhere rejects unknown columns") {
    val t = table()
    t.append(Seq((1L, 10L, "a")).toDF("id", "amt", "p_date"))
    // widened batch: the new column must survive the merge
    t.mergeInto(Seq((1L, 11L, 99L, "a"), (2L, 20L, 88L, "a"))
      .toDF("id", "amt", "extra", "p_date"), Seq("id"))
    val got = t.read()
    assert(got.schema.fieldNames.contains("extra"))
    assert(got.select("id", "extra").as[(Long, Option[Long])].collect().toMap
      === Map(1L -> Some(99L), 2L -> Some(88L)))

    val e = intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 1L, Map("nope" -> lit(1L)))
    }
    assert(e.getMessage.contains("not table columns"))
  }

  test("mergeInto kills a moved key's old row in its OLD partition") {
    val t = table()
    t.append(Seq((1L, 10L, "a"), (2L, 20L, "a")).toDF("id", "amt", "p_date"))
    // key 1 re-arrives under partition b: the merge must bury the
    // partition-a row and land the new one in b
    t.mergeInto(Seq((1L, 11L, "b")).toDF("id", "amt", "p_date"), Seq("id"))
    val got = t.read().select("id", "amt", "p_date").as[(Long, Long, String)]
      .collect().toSet
    assert(got === Set((1L, 11L, "b"), (2L, 20L, "a")))
  }

  test("mergeInto refuses a batch narrower than the table (silent null-out)") {
    val t = table()
    t.append(Seq((1L, 10L, "x", "a")).toDF("id", "amt", "note", "p_date"))
    // batch omits `note`: the matched row's replacement would read
    // null there — data loss, not evolution. Must fail loudly.
    val e = intercept[IllegalArgumentException] {
      t.mergeInto(Seq((1L, 11L, "a")).toDF("id", "amt", "p_date"), Seq("id"))
    }
    assert(e.getMessage.contains("note"))
    assert(e.getMessage.contains("updateWhere"))
    // nothing committed, content intact
    assert(t.version === 0L)
    assert(t.read().select("note").as[String].head() === "x")
  }

  test("DML mark budgets: broad predicates fail loudly with the rewrite pointer") {
    val t = table()
    t.append((1L to 100L).map(i => (i, i, "a")).toDF("id", "amt", "p_date"))
    val e1 = intercept[IllegalArgumentException] {
      t.deleteWhere(col("id") <= 50L, maxMarks = 10L)
    }
    assert(e1.getMessage.contains("rewritePartitions"))
    val e2 = intercept[IllegalArgumentException] {
      t.updateWhere(col("id") <= 50L, Map("amt" -> lit(0L)), maxMarks = 10L)
    }
    assert(e2.getMessage.contains("rewritePartitions"))
    val e3 = intercept[IllegalArgumentException] {
      t.mergeInto((1L to 50L).map(i => (i, 0L, "a")).toDF("id", "amt", "p_date"),
        Seq("id"), maxMatchedMarks = 10L)
    }
    assert(e3.getMessage.contains("upsertRewritePartitions"))
    // no refused op committed anything; within-budget ops still work
    assert(t.version === 0L)
    assert(t.read().count() === 100L)
    t.deleteWhere(col("id") === 1L, maxMarks = 10L)
    assert(t.read().count() === 99L)
  }

  test("deletes compose with stats pruning and insertIgnore re-insertion") {
    val t = new TxTable(spark,
      java.nio.file.Files.createTempDirectory("txdv2").toString,
      statsCols = Seq("id"))
    t.append((1L to 50L).map(i => (i, s"v$i", "a")).toDF("id", "v", "p_date")
      .coalesce(1))
    t.append((100L to 150L).map(i => (i, s"v$i", "a")).toDF("id", "v", "p_date")
      .coalesce(1))
    t.deleteWhere(col("id").between(120L, 130L))
    val pruned = t.readPruned(Map("id" -> ((100L, 150L))))
    assert(pruned.count() === 40L, "pruned reads apply the vectors too")
    // a deleted key can be re-inserted: the anti-join sees it as gone
    t.insertIgnore(Seq((125L, "fresh", "a")).toDF("id", "v", "p_date"), Seq("id"))
    assert(t.read().filter(col("id") === 125L).select("v").as[String].head() === "fresh")
  }
}
