package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal optimistic transaction log over parquet — the commit
  * protocol the reference gets for free from Postgres MVCC (every
  * write path lands in one transactional store,
  * fetchers/helpers/psqlhelpers.py + the ON CONFLICT queries,
  * fetchers/config/queries.py:4-18). Plain parquet directories have
  * no such protocol: a dynamic-partition overwrite running
  * concurrently with a streaming append can delete the files the
  * append just committed. This module supplies the missing piece as a
  * snapshot log, the public Delta/Iceberg design re-implemented at
  * minimum viable size:
  *
  * {{{
  *   <root>/_graft_log/v00000000000000000042.manifest   // snapshot N
  *   <root>/data/p_date=2021-01-01/<commit-uuid>-part-*.parquet
  * }}}
  *
  *  - Data files are immutable and invisible until the log names
  *    them; writers stage files first, then commit.
  *  - Commit N publishes `vN.delta`: a schema header plus one line
  *    per file the commit touches — `n partition path` for a file of
  *    net-NEW rows (appends, upsert inserts), `+ partition path` for
  *    a file of reshaped previously-committed rows (rewrites,
  *    compaction), `- partition path` for a removal — O(files touched
  *    by THIS commit), never O(table). Every `checkpointInterval` commits the committer also
  *    writes `vN.checkpoint`, the full live-file list at N (schema
  *    header + `partition TAB path` lines) — the public Delta-log
  *    delta/checkpoint split, so reconstructing a snapshot replays at
  *    most `checkpointInterval` small deltas on top of one
  *    checkpoint, and a long-lived table's per-commit log I/O stays
  *    O(batch) forever instead of growing with history.
  *  - `#`-prefixed meta lines ride the same file: `#dv path idxs`
  *    deletion-vector marks, `#touch partition` for a commit that
  *    changed a partition's content without a file op, and `#kind k`
  *    naming the commit path (absent: `append`). One function,
  *    [[readLog]], parses log files into a [[TxTable.Delta]]; snapshot
  *    replay, the change feed, the update marker and the conflict
  *    check all fold that parsed form.
  *  - Commit = create-exclusive of the next delta file (atomic
  *    hard-link on a local filesystem, `create(overwrite=false)` on
  *    HDFS; on S3 you would swap in a conditional PUT — same slot,
  *    same protocol). Checkpoints are derived data: any committer may
  *    (re)write one, contents are deterministic for a version, and
  *    losing the race is harmless.
  *  - Plain appends never conflict (and check no keys): on CAS
  *    failure the writer re-reads the latest snapshot and re-commits
  *    its (already staged) files on top.
  *  - Keyed writes ([[TxTable.insertIgnore]], [[TxTable.mergeInto]])
  *    conflict-check against the snapshot their anti-join read, from
  *    an uncommitted table's first commit on, so two writers of one
  *    key can never both win.
  *  - Partition rewrites (refresh / upsert / compaction) are
  *    optimistic: they remember the snapshot they read, and the
  *    commit fails with [[TxConflictException]] if any intervening
  *    commit touched the same partitions — the caller recomputes
  *    from the new snapshot and retries, so a streaming append that
  *    lands mid-rewrite is folded in rather than dropped.
  *
  * Scale: checkpoints are O(live files) text — with
  * [[TxTable.compact]] keeping file counts bounded this stays small;
  * deltas are O(commit). Readers pin a snapshot at plan time, so long
  * queries are isolated from concurrent writers; [[TxTable.vacuum]]
  * respects a retention horizon for exactly that reason, writes a
  * checkpoint at the horizon, and prunes all older log files, so log
  * storage is bounded by the retention window, not the table's age
  * (spec: TxTableSpec "log I/O stays bounded").
  */
class TxTable(val spark: SparkSession, val root: String,
              val partitionCol: String = "p_date",
              val checkpointInterval: Int = 10,
              val statsCols: Seq[String] = Nil) extends Serializable {
  import TxTable._

  // staged-but-not-yet-committed per-file stats (path → line); drained
  // into a vN.stats sidecar by the commit that publishes the files
  @transient private lazy val stagedStats =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val hconf = new org.apache.hadoop.conf.Configuration(
    spark.sparkContext.hadoopConfiguration)
  private def rootPath = new org.apache.hadoop.fs.Path(root)
  private def fs = rootPath.getFileSystem(hconf)
  private def logDir = new org.apache.hadoop.fs.Path(root, LogDirName)

  /** Listed log versions: (delta versions, checkpoint versions). */
  private def logVersions(): (Set[Long], Set[Long]) = {
    if (!fs.exists(logDir)) return (Set.empty, Set.empty)
    val names = fs.listStatus(logDir).iterator.map(_.getPath.getName).toSeq
    (names.collect { case DeltaName(v) => v.toLong }.toSet,
      names.collect { case CheckpointName(v) => v.toLong }.toSet)
  }

  /** Latest committed version, or -1 for a table with no commits.
    * (Checkpoints count too: after vacuum the horizon version may
    * survive only as a checkpoint.)
    */
  def version: Long = {
    val (deltas, ckpts) = logVersions()
    (deltas ++ ckpts).foldLeft(-1L)(math.max)
  }

  private def readLogFile(p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n", -1).toSeq
  }

  private def propsPath = new org.apache.hadoop.fs.Path(logDir, "_props")

  /** Small immutable table properties — consumer contracts a reader
    * must be able to verify before trusting the data (e.g. the
    * minhash hash-scheme version a fingerprint state was built
    * under). One tiny tab-separated file beside the log, written
    * create-exclusive ONCE ([[setPropsIfAbsent]]); `vacuum` never
    * touches it (it prunes only version-named log files).
    */
  def props(): Map[String, String] =
    if (!fs.exists(propsPath)) Map.empty
    else readLogFile(propsPath).filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** Pin `p` as the table's properties iff none are pinned yet (the
    * same create-exclusive CAS as commits — losing the race is fine),
    * and return the properties that actually govern the table. The
    * caller `require`s its expectations against the RETURN value, so
    * a table built under a different contract fails loudly instead of
    * silently mismatching.
    */
  def setPropsIfAbsent(p: Map[String, String]): Map[String, String] = {
    if (p.nonEmpty && !fs.exists(propsPath))
      casCreate(propsPath,
        p.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
    props()
  }

  /** The file list of snapshot `v` (with the schema recorded at that
    * commit): the newest checkpoint ≤ v replayed forward through the
    * deltas (ckpt, v]. Log files are immutable — safe to read without
    * locks. Fails if vacuum has pruned past `v` (retention horizon).
    */
  def snapshot(v: Long): Snapshot = {
    require(v >= 0, s"no committed version (asked for $v)")
    val (_, ckpts) = logVersions()
    val ckptV = ckpts.filter(_ <= v).foldLeft(-1L)(math.max)
    val logs =
      (if (ckptV < 0) Iterator.empty
       else Iterator(readLog(checkpointPath(ckptV), checkpoint = true))) ++
        ((ckptV + 1) to v).iterator.map(readDelta)
    var schema: StructType = null
    val files = scala.collection.mutable.LinkedHashSet.empty[TxFile]
    val dv = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    logs.foreach { d =>
      schema = d.schema
      // `+` reshaped-content add, `n` net-new-content add (the change
      // feed cares about the distinction; a snapshot does not)
      d.ops.foreach {
        case ('-', f) => files -= f; dv -= f.path
        case (_, f) => files += f
      }
      d.dv.foreach { case (path, add) =>
        dv(path) = dv.get(path).fold(add.sorted)(cur => (cur ++ add).distinct.sorted)
      }
    }
    val live = files.map(_.path).toSet
    Snapshot(v, schema, files.toSeq, dv.filter { case (p, _) => live.contains(p) }.toMap)
  }

  /** The one parser of log files. A delta's op lines are `op partition
    * path`; a checkpoint's live-file lines are `partition path` and
    * parse as `+` ops. Unknown `#` lines are skipped.
    */
  private def readLog(p: org.apache.hadoop.fs.Path, checkpoint: Boolean): Delta = {
    val lines = readLogFile(p)
    val ops = Seq.newBuilder[(Char, TxFile)]
    val dv = Seq.newBuilder[(String, Seq[Long])]
    val touched = Seq.newBuilder[String]
    var kind = "append"
    lines.tail.filter(_.nonEmpty).foreach { l =>
      if (l.startsWith("#")) l.split("\t", 3) match {
        case Array("#dv", path, idxs) => dv += path -> idxs.split(",").map(_.toLong).toSeq
        case Array("#touch", part) => touched += part
        case Array("#kind", k) => kind = k
        case _ =>
      }
      else if (checkpoint) {
        val Array(part, path) = l.split("\t", 2)
        ops += '+' -> TxFile(path, part)
      } else {
        val Array(op, part, path) = l.split("\t", 3)
        ops += op.head -> TxFile(path, part)
      }
    }
    Delta(DataType.fromJson(lines.head).asInstanceOf[StructType], kind,
      ops.result(), dv.result(), touched.result())
  }

  private def readDelta(v: Long): Delta = readLog(deltaPath(v), checkpoint = false)

  /** The parsed deltas of `(sinceV, untilV]` (`untilV` < 0: up to the
    * current version), with the range's end version. */
  private def deltasSince(sinceV: Long, untilV: Long): (Long, Seq[Delta]) = {
    val to = if (untilV < 0) version else untilV
    require(to >= 0, s"no committed version to read changes from")
    require(sinceV >= -1 && sinceV <= to,
      s"changes range ($sinceV, $to] is empty-backwards")
    (to, ((sinceV + 1) to to).map(readDelta))
  }

  /** DataFrame over the latest snapshot (partition column recovered
    * from the `p_date=` path segment). An empty table reads as an
    * empty DataFrame with the last committed schema.
    */
  def read(): DataFrame = readSnapshot(snapshot(version))

  /** Reads apply the SNAPSHOT'S schema explicitly (never footer
    * inference): files written before an additive evolution simply
    * lack the new columns and read as null (parquet matches fields by
    * name), files from dropped-column eras have their extras ignored,
    * and time travel reads each version under the schema it committed.
    * Also saves the footer-sampling job plain `spark.read.parquet`
    * pays per read.
    */
  def readSnapshot(s: Snapshot): DataFrame =
    if (s.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    else {
      val raw = spark.read
        .option("basePath", root)
        .schema(s.schema)
        .parquet(s.files.map(f => s"$root/${f.path}"): _*)
      if (s.dv.isEmpty) raw
      else {
        // merge-on-read: anti-join the deleted (file, row-index) pairs
        // via the parquet `_metadata` columns. Keys are the staged
        // files' UUID-prefixed NAMES — unique forever by construction
        // and free of URL-encoding hazards (hex + digits only), unlike
        // full paths. The DV set is bounded by what deleteWhere
        // matched (bulk deletes belong to rewritePartitions), so the
        // broadcast is small by contract.
        import org.apache.spark.sql.functions.{broadcast, col, element_at, split}
        import spark.implicits._
        val pairs = s.dv.toSeq.flatMap { case (p, idxs) =>
          val name = p.substring(p.lastIndexOf('/') + 1)
          idxs.map(i => (name, i))
        }
        val dvDf = pairs.toDF("__dv_name", "__dv_idx")
        raw
          .withColumn("__f", element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("__i", col("_metadata.row_index"))
          .join(broadcast(dvDf),
            col("__f") === col("__dv_name") && col("__i") === col("__dv_idx"),
            "left_anti")
          .drop("__f", "__i")
      }
    }

  /** Change feed: the rows APPENDED after version `sinceV`, up to
    * `untilV` (default: current) — read from only the net-new files
    * the deltas of that version range name, never by scanning or
    * diffing table contents. This is what makes incremental consumers
    * (aggregate refresh, downstream sync, a training-data freshness
    * pass) O(new data) instead of O(table): a 10-second append cadence
    * at 100 TB means the feed reads megabytes while the table holds
    * terabytes.
    *
    * Contribution is decided PER FILE by the delta op letter, not per
    * commit: `n` files hold rows never committed before — append
    * batches, [[insertIgnore]]'s conditional-append inserts, and the
    * `n`-tagged rows of [[upsertRewritePartitions]] — and are delivered;
    * `+` files hold previously-delivered rows reshaped
    * (rewrite/compaction) and are skipped, since re-delivering them
    * would double-count in any downstream sum. (Legacy `+` lines
    * inside `#kind append` deltas count as net-new.) The one delivery
    * the feed does NOT make is in-place VALUE changes to an existing
    * key (the `u`-tagged rows of an upserting rewrite): the feed's
    * contract is row-level inserts; update-aware consumers pair this
    * with [[changedPartitionsSince]] — the marker naming exactly the
    * partitions whose prior content was reshaped in the range, i.e.
    * the ones to re-read. A later rewrite may delete an
    * in-range `n` file before `untilV`; its rows were genuinely new
    * in-range, and the rewrite preserves surviving content, so the
    * feed reads the `n` file itself — vacuum retention must therefore
    * cover the feed consumer's lag, the same horizon contract as time
    * travel.
    *
    * The files are the range's [[TxTable.Delta.netNew]] files, read
    * under the schema recorded by the range's last delta — the same
    * rule as [[readSnapshot]]: a file written before an additive
    * evolution reads the new columns as null, and building the frame
    * runs no footer-inference job. Only an empty range (`sinceV` =
    * `untilV`) replays a snapshot, for its schema. `sinceV` = -1
    * bootstraps the feed from the table's first commit.
    */
  def readChangesSince(sinceV: Long, untilV: Long = -1L): DataFrame = {
    val (to, deltas) = deltasSince(sinceV, untilV)
    val schema = deltas.lastOption.fold(snapshot(to).schema)(_.schema)
    val added = deltas.flatMap(_.netNew).distinct
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.option("basePath", root)
        .schema(schema)
        .parquet(added.map(f => s"$root/${f.path}"): _*)
  }

  /** The update marker that completes [[readChangesSince]]'s contract:
    * partitions whose PREVIOUSLY-COMMITTED content was reshaped or
    * removed by a commit in `(sinceV, untilV]` — rewrites, upserting
    * rewrites, compactions, updates, merges, deletes — i.e. the
    * partitions an update-aware consumer must re-read because the
    * row-insert feed deliberately does not re-deliver their changed
    * values. It is the union of the range's
    * [[TxTable.Delta.reshaped]] partitions: `+`/`-` ops and `#touch`
    * lines of every non-`append` delta. Append and insertIgnore
    * commits never appear here (their `n` files are net-new and
    * already delivered by the feed). O(deltas in range) log text, no
    * data I/O.
    */
  def changedPartitionsSince(sinceV: Long, untilV: Long = -1L): Set[String] =
    deltasSince(sinceV, untilV)._2.flatMap(_.reshaped).toSet

  // ------------------------------------------------- file-stat skipping

  private def statsPath(v: Long) =
    new org.apache.hadoop.fs.Path(logDir, f"v$v%020d.stats")
  private def statsCkPath(v: Long) =
    new org.apache.hadoop.fs.Path(logDir, f"v$v%020d.statsck")

  /** Per-file min/max of `statsCols` over freshly staged files — ONE
    * bounded job over the batch just written (O(batch), never
    * O(table)); results wait in [[stagedStats]] for the commit that
    * publishes the files. Columns are cast to Long (the stat contract
    * covers integral columns: epoch-µs, ids, bucket/z dimensions);
    * an all-null column in a file records no bound for it.
    */
  private def computeStagedStats(files: Seq[TxFile]): Unit = {
    if (statsCols.isEmpty || files.isEmpty) return
    import org.apache.spark.sql.{functions => F}
    val paths = files.map(f => s"$root/${f.path}")
    val aggCols = statsCols.flatMap(c => Seq(
      F.min(F.col(c).cast("long")).as(s"mn_$c"),
      F.max(F.col(c).cast("long")).as(s"mx_$c")))
    val rows = spark.read.option("basePath", root).parquet(paths: _*)
      .groupBy(F.input_file_name().as("__file"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    // input_file_name() yields a URL-encoded URI; a relative path whose
    // segments contain space/%/#/non-ASCII would never raw-endsWith
    // match, silently dropping the file's stats row (pruning loss, not
    // a correctness loss). Decode each URI back to a plain path first.
    def decoded(name: String): String =
      try new java.net.URI(name).getPath catch { case _: Exception => name }
    files.foreach { f =>
      val row = rows.find(r => decoded(r.getString(0)).endsWith("/" + f.path))
      if (row.isEmpty)
        System.err.println(s"[txlog] computeStagedStats: no stats row matched staged file ${f.path}")
      row.foreach { r =>
        val cols = statsCols.flatMap { c =>
          val mn = r.getAs[Any](s"mn_$c"); val mx = r.getAs[Any](s"mx_$c")
          if (mn == null || mx == null) Nil else Seq(s"$c\t$mn\t$mx")
        }
        if (cols.nonEmpty)
          stagedStats.put(f.path, (f.path +: cols).mkString("\t"))
      }
    }
  }

  /** Publish the staged stats of a commit's files as the `vN.stats`
    * sidecar — derived data beside the delta, written AFTER the CAS
    * wins (a crash in between merely loses pruning for those files;
    * correctness never depends on a sidecar existing).
    */
  private def writeStatsSidecar(v: Long, committed: Seq[TxFile]): Unit = {
    val lines = committed.flatMap(f => stagedStats.get(f.path))
    if (lines.isEmpty) return
    casCreate(statsPath(v), lines.mkString("\n") + "\n")
    committed.foreach(f => stagedStats.remove(f.path))
  }

  /** path → column → [min, max] from every stats sidecar (per-commit
    * `vN.stats` + vacuum-consolidated `vN.statsck`). O(sidecars)
    * small log reads, no data I/O.
    */
  private def fileStats(): Map[String, Map[String, (Long, Long)]] = {
    if (!fs.exists(logDir)) return Map.empty
    fs.listStatus(logDir).iterator.map(_.getPath)
      .filter(p => p.getName.endsWith(".stats") || p.getName.endsWith(".statsck"))
      .flatMap(p => readLogFile(p).filter(_.contains('\t')).map { l =>
        val parts = l.split("\t")
        val m = parts.drop(1).grouped(3).collect {
          case Array(c, mn, mx) => c -> ((mn.toLong, mx.toLong))
        }.toMap
        parts(0) -> m
      }).toMap
  }

  /** The live files that can SURVIVE an inclusive-range predicate:
    * a file is kept unless its recorded [min, max] for some bounded
    * column misses [lo, hi] entirely. Files without stats (pre-stats
    * history, crashed sidecar, vacuumed sidecar) are always kept —
    * stats are an optimization input, never a correctness one.
    */
  private[storage] def pruneFiles(files: Seq[TxFile],
                                  bounds: Map[String, (Long, Long)]): Seq[TxFile] = {
    if (bounds.isEmpty) return files
    val st = fileStats()
    files.filter { f =>
      st.get(f.path).forall { m =>
        bounds.forall { case (c, (lo, hi)) =>
          m.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
        }
      }
    }
  }

  /** Snapshot read with FILE-LEVEL stat pruning — the query-time
    * consumer of the [[statsCols]] layout investment (the public
    * Delta/Iceberg data-skipping design at minimum viable size):
    * `bounds` maps stat columns to inclusive [lo, hi] ranges, and
    * only files whose recorded ranges intersect every bound are
    * scanned. The caller still applies its exact row filter — the
    * prune is a superset guarantee. With appends pre-sorted on a
    * [[ZOrder.zValue]] curve, several columns prune at once.
    */
  def readPruned(bounds: Map[String, (Long, Long)]): DataFrame = {
    val s = snapshot(version)
    readSnapshot(Snapshot(s.version, s.schema, pruneFiles(s.files, bounds), s.dv))
  }

  /** Stage `df` (must carry `partitionCol`) as immutable parquet files
    * under a fresh commit directory; returns the file list for a
    * commit. The files are invisible to readers until committed.
    */
  private[storage] def stage(df: DataFrame): Seq[TxFile] =
    stageBy(df, None).getOrElse("", Seq.empty)

  /** [[stage]]'s fused two-way form: `df` carries `tagCol` (string)
    * alongside `partitionCol`, ONE write job lands partitioned by
    * both, and the staged files come back grouped by tag value — so a
    * commit needing two file classes (mergeInto's reshaped `+` vs
    * fresh `n`) pays one Spark job instead of two. The tag is a
    * staging-directory level only: it is stripped during the move into
    * `data/<part>=<v>/`, never part of the table layout or schema.
    * The tag value is baked into the destination name because dynamic
    * partitioning lets one task write same-named files under both tag
    * directories of one partition.
    */
  private[storage] def stageSplit(df: DataFrame, tagCol: String)
      : Map[String, Seq[TxFile]] = stageBy(df, Some(tagCol))

  /** Write, then move each file into data/<part>=<v>/ under a name
    * unique forever; files come back by `tagCol` value ("" untagged). */
  private def stageBy(df: DataFrame, tagCol: Option[String]): Map[String, Seq[TxFile]] = {
    val uuid = java.util.UUID.randomUUID().toString
    val staging = s"$root/_staging/$uuid"
    df.write.partitionBy(partitionCol +: tagCol.toSeq: _*).mode("overwrite").parquet(staging)
    def value(dir: org.apache.hadoop.fs.Path) = dir.getName match {
      case PartitionDirName(_, v) => v
      case _ => ""
    }
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[TxFile]]
    parquetFilesUnder(new org.apache.hadoop.fs.Path(staging)).foreach { st =>
      val f = st.getPath
      val (partDir, tag) =
        if (tagCol.isEmpty) (f.getParent, "") else (f.getParent.getParent, value(f.getParent))
      val rel = s"data/${partDir.getName}/$uuid-${if (tag.isEmpty) "" else tag + "-"}${f.getName}"
      val dest = new org.apache.hadoop.fs.Path(root, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(f, dest))
        throw new java.io.IOException(s"failed to move staged file $f -> $dest")
      out.getOrElseUpdate(tag, scala.collection.mutable.ArrayBuffer.empty) +=
        TxFile(rel, value(partDir))
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    computeStagedStats(out.valuesIterator.flatten.toSeq)
    out.view.mapValues(_.toSeq).toMap
  }

  /** Every `.parquet` file below `dir`, recursing with plain
    * `listStatus`: `listFiles(dir, true)` builds a LocatedFileStatus
    * per entry, which on the local filesystem without native IO forks
    * `ls -ld` to load its permissions.
    */
  private def parquetFilesUnder(dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) parquetFilesUnder(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    }

  /** Additive schema evolution on append (the public Delta
    * `mergeSchema` contract): the committed schema is the prior
    * snapshot's fields (order preserved) plus any NEW fields the
    * batch introduces — so an old-schema append can never drop
    * columns other writers added, and a widened batch makes earlier
    * files read their missing columns as null. Same-name fields must
    * agree on dataType exactly; a type change is a rewrite decision,
    * never an implicit cast, and fails loudly here.
    */
  private[storage] def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val byName = next.fields.map(f => f.name -> f).toMap
    prev.fields.foreach { p =>
      byName.get(p.name).foreach { n =>
        require(n.dataType == p.dataType,
          s"append schema conflict on '${p.name}': table has ${p.dataType}, " +
            s"batch has ${n.dataType} — evolve types via an explicit rewrite")
      }
    }
    val prevNames = prev.fieldNames.toSet
    StructType(prev.fields ++ next.fields.filterNot(f => prevNames.contains(f.name)))
  }

  /** Append-commit: stage `df`'s files, then CAS them onto whatever
    * the latest snapshot is. Never conflicts — concurrent commits
    * just cost a re-read of the manifest, and no committed file is
    * ever removed by an append.
    */
  def append(df: DataFrame): Long = commitAppend(stage(df), df.schema)

  /** Append-commit of already-staged [[TxFile]]s — the log half of
    * [[append]], exposed package-private so specs can drive thousands
    * of commits through the real CAS/checkpoint path without paying a
    * Spark write per commit.
    */
  private[storage] def commitAppend(files: Seq[TxFile], schema: StructType): Long =
    retryCas("append") { snap =>
      (Seq.empty, files, Seq.empty, mergedSchema(snap, schema))
    }

  /** `schema` merged onto the snapshot a commit builds on, at CAS
    * time, so a concurrent writer's added column can't be dropped. */
  private def mergedSchema(snap: Snapshot, schema: StructType): StructType =
    if (snap.schema == null) schema else mergeSchemas(snap.schema, schema)

  /** Rewrite the given partitions with `compute(current content of
    * those partitions)`, under optimistic concurrency: if another
    * commit touches one of `parts` between our snapshot read and our
    * commit, the rewrite is recomputed from the new snapshot (up to
    * `maxAttempts`). Partitions outside `parts` are never modified,
    * so writers of disjoint partitions commit freely in parallel.
    *
    * This is the engine's upsert / incremental-refresh / compaction
    * primitive — the moral equivalent of the reference's
    * `INSERT ... ON CONFLICT DO UPDATE` transaction
    * (fetchers/config/queries.py:6-18) at partition granularity.
    * It is [[upsertRewritePartitions]] with every row tagged `u`, so
    * the commit holds only reshaped `+` files (kind `rewrite`).
    */
  def rewritePartitions(parts: Set[String], maxAttempts: Int = 20)
                       (compute: DataFrame => DataFrame): Long =
    upsertRewritePartitions(parts, maxAttempts) { cur =>
      compute(cur).withColumn(TagCol, org.apache.spark.sql.functions.lit("u"))
    }

  /** The shared optimistic-retry scaffold of every partition-scoped
    * writer: run `body` (snapshot-read → compute → stage → commit);
    * on [[TxConflictException]] re-run it against the new snapshot,
    * up to `maxAttempts`. A loser's staged files are simply never
    * referenced — vacuum's age horizon reclaims them.
    */
  private def withConflictRetry(maxAttempts: Int)(body: () => Long): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body()
      catch {
        case _: TxConflictException if attempt < maxAttempts => // recompute from fresh snapshot
      }
    }
    sys.error("unreachable")
  }

  /** Current (version, content of `parts`) — the snapshot read every
    * partition-scoped writer starts from. The content is None on an
    * uncommitted table (version -1): no schema, no rows. The
    * rewriters, which recompute prior content, reject that case.
    */
  private def snapshotPartitions(parts: Set[String]): (Long, Option[DataFrame]) = {
    val v = version
    if (v < 0) (v, None)
    else {
      val snap = snapshot(v)
      val current = snap.files.filter(f => parts.contains(f.partition))
      (v, Some(readSnapshot(Snapshot(v, snap.schema, current, snap.dv))))
    }
  }

  /** [[stage]] + the partition-containment guard every partition-
    * scoped commit requires: staged files outside `parts` would
    * bypass the conflict check other writers rely on.
    */
  private def stageInto(parts: Set[String], df: DataFrame, op: String): Seq[TxFile] = {
    val staged = stage(df)
    requireWithin(parts, staged, op)
    staged
  }

  private def requireWithin(parts: Set[String], staged: Seq[TxFile], op: String): Unit = {
    val bad = staged.filterNot(f => parts.contains(f.partition))
    require(bad.isEmpty,
      s"$op produced rows outside those partitions: ${bad.map(_.partition).distinct}")
  }

  /** Throw [[TxConflictException]] iff some delta in (readVersion, v]
    * has a file op or a `#touch` line inside `parts` — the shared
    * optimistic-concurrency check of every partition-scoped commit,
    * read off the deltas alone. A deleteWhere commit changes content
    * without a file op; its `#touch` lines (written for every
    * partition it marks, [[commitDvOps]]) make it conflict like a file
    * change, so a rewrite computed before the delete cannot
    * materialize the deleted rows. Commits that cancel each other out
    * still conflict; the loser just recomputes. A range vacuum has
    * pruned cannot be shown disjoint, so it conflicts too.
    */
  private def conflictCheck(readVersion: Long, v: Long, parts: Set[String]): Unit =
    try ((readVersion + 1) to v).iterator
      .map(i => i -> (readDelta(i).partitions & parts))
      .find(_._2.nonEmpty)
      .foreach { case (i, hit) =>
        throw new TxConflictException(
          s"partitions ${hit.toSeq.sorted.mkString(", ")} changed by v$i, " +
            s"a commit after v$readVersion")
      }
    catch {
      case _: java.io.FileNotFoundException =>
        throw new TxConflictException(s"log pruned past v$readVersion (now v$v)")
    }

  /** Low-level rewrite commit: replaces the files of `parts` with
    * `adds` (reshaped prior content) plus `freshAdds` (net-new rows —
    * delivered by [[readChangesSince]]), failing with
    * [[TxConflictException]] if any commit after `readVersion`
    * changed a file inside `parts`.
    */
  private[storage] def commitRewrite(readVersion: Long, parts: Set[String],
                    adds: Seq[TxFile], schema: StructType,
                    freshAdds: Seq[TxFile] = Seq.empty): Long =
    retryCas(if (freshAdds.isEmpty) "rewrite" else "upsert") { snap =>
      conflictCheck(readVersion, snap.version, parts)
      (adds, freshAdds, snap.files.filter(f => parts.contains(f.partition)), schema)
    }

  /** Conditional-append commit: adds `freshAdds` (net-new rows only)
    * WITHOUT touching any existing file, failing like a rewrite if
    * `parts` changed after `readVersion` (-1: the table was
    * uncommitted) — the anti-join that proved the rows new was
    * computed against that snapshot, so a same-partition commit
    * invalidates it. The schema evolves additively, as on append.
    */
  private def commitUpsert(readVersion: Long, parts: Set[String],
                   freshAdds: Seq[TxFile], schema: StructType): Long =
    retryCas("upsert") { snap =>
      conflictCheck(readVersion, snap.version, parts)
      (Seq.empty, freshAdds, Seq.empty, mergedSchema(snap, schema))
    }

  /** First-write-wins upsert of a batch (ST4 `ON CONFLICT DO NOTHING`,
    * fetchers/config/queries.py:4): within each touched partition,
    * existing rows win on `keys`; new keys append. One conditional-
    * append commit per call, conflict-retried: ONLY the net-new rows
    * are staged — existing files are never rewritten, so upserting a
    * small batch into a 100 TB partition costs O(batch), and the
    * change feed delivers exactly the rows this call actually
    * inserted (`n` files).
    *
    * An uncommitted table takes the whole batch as its first commit
    * (an empty batch publishes just its schema as v0), conflict-
    * checked from version -1 like any other.
    *
    * `knownParts`: when the caller already knows the partition values
    * the batch carries (e.g. it stamped them itself), passing them
    * skips the `touchedPartitions` distinct+collect job on the commit
    * hot path. The set must COVER the batch — [[stageInto]]'s
    * containment guard fails loudly if a row lands outside it.
    */
  def insertIgnore(batch: DataFrame, keys: Seq[String],
                   maxAttempts: Int = 20,
                   knownParts: Option[Set[String]] = None): Long =
    insertIgnoreReturning(batch, keys, maxAttempts, knownParts)._1

  /** [[insertIgnore]] that ALSO returns the inserted rows, as a frame
    * reading the EXACT immutable files this call staged — "the commit
    * is the checkpoint": a caller that needs the inserted rows back
    * (the IncrementalDedup admit path) would otherwise materialize the
    * batch twice, once into a localCheckpoint for its own consumers
    * and once into the stage write. Here the batch lineage executes
    * exactly once (inside the stage job) and the committed parquet
    * doubles as the durable checkpoint the returned frame reads.
    * A fully-duplicate batch returns (unchanged version, empty frame).
    * On a CAS conflict the batch lineage recomputes for the retry (the
    * loser's staged files are never referenced) — callers on contended
    * tables should keep the batch's expensive kernels checkpointed
    * upstream, which the admit path's prepared kernel already does.
    */
  def insertIgnoreReturning(batch: DataFrame, keys: Seq[String],
                            maxAttempts: Int = 20,
                            knownParts: Option[Set[String]] = None): (Long, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val parts = knownParts.getOrElse(touchedPartitions(batch))
    var committed: Seq[TxFile] = Seq.empty
    var schema: StructType = batch.schema
    val v = withConflictRetry(maxAttempts) { () =>
      val (v0, existing) = snapshotPartitions(parts)
      val fresh = existing.fold(batch)(e =>
        batch.join(e.select(keys.map(col): _*), keys, "left_anti"))
      val staged = stageInto(parts, fresh, "insertIgnore")
      committed = staged
      schema = fresh.schema
      // a fully-duplicate batch (the routine ON CONFLICT DO NOTHING
      // re-delivery) must not publish an empty delta: every no-op
      // version bump widens the vacuum/time-travel window for nothing
      if (staged.isEmpty && v0 >= 0) v0
      else commitUpsert(v0, parts, staged, fresh.schema)
    }
    (v, readSnapshot(Snapshot(v, schema, committed, Map.empty)))
  }

  /** [[rewritePartitions]] with the upsert split the change feed
    * needs: `compute(current)` returns ONE frame whose [[TxTable.TagCol]]
    * column marks each row `u` (restates/reshapes prior content) or
    * `n` (genuinely NEW to the table). The frame is staged in one
    * tagged write job ([[stageSplit]]; the tag is a staging level,
    * never a table column) and replaces the partitions' files in one
    * conflict-checked commit: `u` files as reshaped `+`, `n` files as
    * `n`, the only ones [[readChangesSince]] delivers. Use for refresh
    * jobs that mix recomputed existing keys with newly-appeared keys.
    */
  def upsertRewritePartitions(parts: Set[String], maxAttempts: Int = 20)
                             (compute: DataFrame => DataFrame): Long =
    withConflictRetry(maxAttempts) { () =>
      val (v, cur) = snapshotPartitions(parts)
      val tagged = compute(cur.getOrElse(throw new IllegalStateException(
        s"upsertRewritePartitions on uncommitted table $root")))
      val staged = stageSplit(tagged, TagCol)
      val op = s"upsertRewritePartitions($parts)"
      require(staged.keySet.subsetOf(Set("u", "n")),
        s"$op: $TagCol must be 'u' or 'n', got ${staged.keySet.mkString(", ")}")
      requireWithin(parts, staged.valuesIterator.flatten.toSeq, op)
      commitRewrite(v, parts, staged.getOrElse("u", Nil), tagged.drop(TagCol).schema,
        freshAdds = staged.getOrElse("n", Nil))
    }

  /** Partition values present in `df` (small distinct collect — the
    * set of dates a batch touches, not data).
    */
  def touchedPartitions(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.functions.col
    df.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Compaction (the job CandleStream's 10 s appends need): any
    * partition holding more than `maxFilesPerPartition` files is
    * rewritten — hash-identical content, coalesced to one file —
    * under the same conflict-checked commit, so compaction can run
    * while the stream keeps appending (a mid-compaction append makes
    * the compactor retry, never the reverse, and no row is lost
    * either way). Returns the partitions it rewrote.
    */
  def compact(maxFilesPerPartition: Int = 8): Set[String] = {
    val v = version
    if (v < 0) return Set.empty
    val byPart = snapshot(v).files.groupBy(_.partition)
    val fat = byPart.collect { case (p, fs) if fs.size > maxFilesPerPartition => p }.toSet
    fat.foreach { p => rewritePartitions(Set(p))(cur => cur.coalesce(1)) }
    fat
  }

  /** Merge-on-read row deletion — the public Delta deletion-vector
    * design: matching rows are marked dead by (file, row-index) pairs
    * committed INSIDE the atomic delta (`#dv` lines, as durable as
    * the commit itself), and every subsequent read anti-joins them
    * out via the parquet `_metadata.row_index` column. Cost is
    * O(matched rows) metadata — no partition rewrite, no data I/O
    * beyond the matching scan — so deleting a few rows from a 100 TB
    * partition (GDPR erasure, bad-record surgery) is a metadata
    * commit. The vectors ride checkpoints cumulatively, rewrites/
    * compactions MATERIALIZE them (the rewrite reads through
    * [[readSnapshot]], which already filters, and replaces the files
    * — the new files carry no vectors), vacuum's horizon checkpoint
    * carries them forward, and time travel reads each version under
    * its own vector set. Deletes conflict-check like rewrites: a
    * commit that touched the matched partitions after our snapshot
    * read invalidates the match and the whole read-match-commit
    * re-runs. The row-insert change feed does not re-deliver deletes
    * (its contract is inserts); delete commits mark their partitions
    * in [[changedPartitionsSince]] via `#touch` lines instead.
    * Bulk deletes (a large fraction of a partition) belong to
    * [[rewritePartitions]] — the vector set is broadcast at read
    * time and sized for surgical deletes, and `maxMarks`
    * (default [[TxTable.DefaultDvMarkBudget]]) ENFORCES that sizing:
    * a predicate matching past it fails loudly instead of silently
    * bloating every later delta, checkpoint, and read.
    *
    * Returns the new version, or the current one if nothing matched.
    */
  def deleteWhere(cond: org.apache.spark.sql.Column, maxAttempts: Int = 20,
                  maxMarks: Long = TxTable.DefaultDvMarkBudget): Long =
    withConflictRetry(maxAttempts) { () =>
      val v = version
      require(v >= 0, s"deleteWhere on uncommitted table $root")
      val snap = snapshot(v)
      val adds = dvMarks(snap, readSnapshot(snap).filter(cond))
      requireMarkBudget("deleteWhere", adds, maxMarks,
        "Bulk deletes belong to rewritePartitions(parts)(_.filter(!cond))")
      if (adds.isEmpty) v else commitDvOps(v, adds)
    }

  /** Per-file deletion-vector marks of a snapshot read's rows, from
    * the parquet `_metadata` (file name, row index) columns. */
  private def dvMarks(snap: Snapshot, rows: DataFrame): Seq[(TxFile, Seq[Long])] = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    marksAt(snap, rows.select(element_at(split(col("_metadata.file_path"), "/"), -1).as("f"),
      col("_metadata.row_index").as("i")))
  }

  /** [[dvMarks]] over coordinates already projected as (f, i). */
  private def marksAt(snap: Snapshot, coords: DataFrame): Seq[(TxFile, Seq[Long])] = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    val byName = snap.files.map(f => f.path.substring(f.path.lastIndexOf('/') + 1) -> f).toMap
    coords.groupBy(col("f")).agg(sort_array(collect_list(col("i"))).as("is")).collect()
      .toSeq.map(r => (byName(r.getString(0)), r.getSeq[Long](1)))
  }

  /** Fail `op` loudly past the mark budget: marks ride every later
    * delta/checkpoint and broadcast into every read, so a broad match
    * is a bulk change, which belongs to `bulk`. */
  private def requireMarkBudget(op: String, marks: Seq[(TxFile, Seq[Long])],
                                maxMarks: Long, bulk: String): Unit = {
    val n = marks.iterator.map(_._2.size.toLong).sum
    require(n <= maxMarks,
      s"$op matched $n rows — past the $maxMarks deletion-vector mark budget " +
        s"(marks ride every delta/checkpoint and broadcast into every read). " +
        s"$bulk; or raise maxMarks deliberately")
  }

  /** Atomic UPDATE, merge-on-read: matching rows are vector-marked
    * dead AND their updated replacements committed as reshaped `+`
    * files in the SAME delta — one CAS, so readers see either the old
    * rows or the new ones, never both or neither. `sets` may not
    * touch the partition column (a partition move is a rewrite
    * decision). Replacements are reshaped prior content, so the
    * row-insert change feed skips them and
    * [[changedPartitionsSince]] flags their partitions — the same
    * contract as an upserting rewrite. Cost: the matching scan plus
    * O(matched) staged rows — never an O(partition) rewrite.
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  sets: Map[String, org.apache.spark.sql.Column],
                  maxAttempts: Int = 20,
                  maxMarks: Long = TxTable.DefaultDvMarkBudget): Long = {
    require(!sets.contains(partitionCol),
      s"updateWhere may not modify the partition column '$partitionCol' — " +
        "moving rows between partitions is a rewritePartitions job")
    withConflictRetry(maxAttempts) { () =>
      import org.apache.spark.sql.functions.col
      val v = version
      require(v >= 0, s"updateWhere on uncommitted table $root")
      val snap = snapshot(v)
      val unknown = sets.keySet.diff(snap.schema.fieldNames.toSet)
      require(unknown.isEmpty,
        s"updateWhere: $unknown are not table columns " +
          s"(have ${snap.schema.fieldNames.mkString(", ")}) — " +
          "adding columns is an append-schema-evolution or rewrite job")
      val matched = readSnapshot(snap).filter(cond)
      val dvAdds = dvMarks(snap, matched)
      requireMarkBudget("updateWhere", dvAdds, maxMarks,
        "Bulk updates belong to rewritePartitions")
      if (dvAdds.isEmpty) v
      else {
        val parts = dvAdds.map(_._1.partition).toSet
        val updated = sets.foldLeft(matched) { case (df, (c, e)) => df.withColumn(c, e) }
          .select(snap.schema.fieldNames.map(col): _*)
        val staged = stageInto(parts, updated, "updateWhere")
        commitDvOps(v, dvAdds, staged, "update")
      }
    }
  }

  /** CAS-commit a deletion-vector delta: `#dv` lines carry the new
    * (file, indexes) marks, optional `reshaped` files land as `+`
    * ops (updated replacement rows — skipped by the insert feed),
    * `#touch` lines name every touched partition — for update-aware
    * consumers and for [[conflictCheck]], which sees a pure delete
    * only through them. Conflict-checked like a rewrite.
    */
  private def commitDvOps(readVersion: Long,
                          adds: Seq[(TxFile, Seq[Long])],
                          reshaped: Seq[TxFile] = Seq.empty,
                          kind: String = "delete",
                          fresh: Seq[TxFile] = Seq.empty,
                          batchSchema: Option[StructType] = None): Long = {
    val parts = adds.map(_._1.partition).toSet ++ reshaped.map(_.partition) ++
      fresh.map(_.partition)
    val meta = adds.map { case (f, idxs) => s"#dv\t${f.path}\t${idxs.mkString(",")}" } ++
      parts.toSeq.sorted.map(p => s"#touch\t$p")
    retryCas(kind, meta) { snap =>
      conflictCheck(readVersion, snap.version, parts)
      // a widened merge batch evolves the schema additively, exactly
      // like append (a silently-narrowed batch would drop its columns)
      (reshaped, fresh, Seq.empty, batchSchema.fold(snap.schema)(mergedSchema(snap, _)))
    }
  }

  /** Atomic MERGE (the public Delta `MERGE INTO` contract, merge-on-
    * read form): batch rows whose `keys` match an existing row
    * REPLACE it — the old row is vector-marked dead and the new one
    * lands in a reshaped `+` file (skipped by the insert feed, like
    * any update) — while new-key rows land in `n` files the change
    * feed delivers; ONE CAS delta carries all three, so readers see
    * the pre-merge or post-merge table, never a mix. `batch` must be
    * unique per `keys` (the reference's one-row-per-key ON CONFLICT
    * contract) and must carry the partition column. Cost is
    * O(batch + matched) — contrast [[upsertRewritePartitions]],
    * which rewrites whole partitions and is the right tool when the
    * batch is a large fraction of them; this is the surgical form
    * for a small batch against a 100 TB table. Deletes of matched
    * rows may touch partitions outside the batch's own (a key that
    * moved partitions gets its OLD row killed wherever it lives) —
    * all touched partitions conflict-check.
    *
    * An uncommitted table has nothing to match: the whole batch lands
    * as [[insertIgnore]]'s first commit does.
    */
  def mergeInto(batch: DataFrame, keys: Seq[String], maxAttempts: Int = 20,
                maxMatchedMarks: Long = TxTable.DefaultDvMarkBudget): Long =
    withConflictRetry(maxAttempts) { () =>
      val v = version
      if (v < 0) {
        val staged = stage(batch)
        commitUpsert(v, staged.map(_.partition).toSet, staged, batch.schema)
      } else mergeAt(v, batch, keys, maxMatchedMarks)
    }

  /** One [[mergeInto]] attempt against committed version `v`. */
  private def mergeAt(v: Long, batch: DataFrame, keys: Seq[String],
                      maxMatchedMarks: Long): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, split, when, element_at}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val snap = snapshot(v)
    // A batch NARROWER than the table would silently null every
    // omitted column of its matched rows: the old row is DV-killed
    // and the reshaped replacement carries only the batch's columns,
    // which read as null under the snapshot schema — data loss, not
    // evolution. Delta's MERGE errors the same way; the reference's
    // ON CONFLICT DO UPDATE always carries full-width rows
    // (fetchers/config/queries.py:6-18). Widened batches still
    // evolve additively via commitDvOps.
    val omitted = snap.schema.fieldNames.toSet.diff(batch.columns.toSet)
    require(omitted.isEmpty,
      s"mergeInto: batch omits table columns ${omitted.toSeq.sorted.mkString(", ")} — " +
        "matched rows would read null there (silent data loss). Carry " +
        "full-width rows (hydrate missing columns from the current " +
        "table), or use updateWhere for column-scoped changes")
    val existing = readSnapshot(snap)
    val bkeys = batch.select(keys.map(col): _*).distinct()
    // ONE scan of the table yields BOTH the dead coordinates and the
    // matched key set (formerly three scans: the mark scan plus two
    // key-distinct probes for the matched/fresh splits). `_metadata`
    // resolves only on the file-source relation (it does not survive
    // a join), so the coordinates are projected before the semi-join;
    // the result is ≤ |batch| rows (unique-key contract), and the
    // eager localCheckpoint materializes it once for the three tiny
    // consumers below. The batch materializes CONCURRENTLY — its
    // lineage may itself be a query, and everything downstream
    // (keys, split, staging, touched partitions) re-reads it.
    val markedF = Future(existing
      .withColumn("__f", element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__i", col("_metadata.row_index"))
      .join(broadcast(bkeys), keys, "left_semi")
      .select(keys.map(col) :+ col("__f") :+ col("__i"): _*)
      .localCheckpoint(true))(graft.JobPool.ec)
    val batchCkF = Future(batch.localCheckpoint(true))(graft.JobPool.ec)
    val marked = Await.result(markedF, Duration.Inf)
    val batchCk = Await.result(batchCkF, Duration.Inf)
    val nMarks = marked.count()
    require(nMarks <= maxMatchedMarks,
      s"mergeInto matched $nMarks existing rows — past the $maxMatchedMarks " +
        "mark budget for a merge-on-read commit (the mark set is driver-" +
        "collected, rides every delta/checkpoint, and broadcasts into every " +
        "read). A batch replacing this fraction of the table is a bulk " +
        "upsert: use upsertRewritePartitions, or raise maxMatchedMarks " +
        "deliberately")
    val matchedKeys = marked.select(keys.map(col): _*).distinct()
    // The matched/fresh split, the staging write, the mark grouping,
    // and the touched-partition probe are four independent jobs over
    // checkpointed (or tiny) inputs — submit them concurrently. The
    // split is ONE tagged write job ([[stageSplit]]) instead of two
    // per-half writes: a left join against the ≤|batch|-row matched
    // key set tags each batch row `u` (reshaped `+` file, feed-
    // skipped) or `n` (fresh file, feed-delivered).
    val mTag = matchedKeys.withColumn("__m", lit(true))
    val tagged = batchCk.join(broadcast(mTag), keys, "left")
      .withColumn(TagCol, when(col("__m").isNotNull, lit("u")).otherwise(lit("n")))
      .drop("__m")
    val stagedF = Future(stageSplit(tagged, TagCol))(graft.JobPool.ec)
    val touchedF = Future(touchedPartitions(batchCk))(graft.JobPool.ec)
    val dvAdds = marksAt(snap, marked.select(col("__f").as("f"), col("__i").as("i")))
    val staged = Await.result(stagedF, Duration.Inf)
    val stagedUpd = staged.getOrElse("u", Seq.empty)
    val stagedNew = staged.getOrElse("n", Seq.empty)
    val parts = Await.result(touchedF, Duration.Inf) ++ dvAdds.map(_._1.partition)
    requireWithin(parts, stagedUpd ++ stagedNew, "mergeInto")
    if (dvAdds.isEmpty && stagedUpd.isEmpty && stagedNew.isEmpty) v
    else commitDvOps(v, dvAdds, stagedUpd, "merge", stagedNew,
      batchSchema = Some(batch.schema))
  }

  /** [[compact]]'s layout-aware form — the public Delta
    * `OPTIMIZE ZORDER BY` trade: fat partitions (> maxFilesPerPartition
    * files) are rewritten as `filesPerPartition` files range-
    * partitioned and sorted by the Morton code of `cols` (each
    * (name, lo, hi) a FIXED layout bound, [[ZOrder.rangeBucket]] /
    * [[ZOrder.zValue]] — layout constants, so successive compactions
    * interleave identically without rescanning history). After the
    * rewrite each file covers one compact hyper-rectangle of the
    * value space, so the stats sidecars the rewrite's staging pass
    * re-publishes (computeStagedStats) carry [min,max] ranges tight
    * on EVERY layout column at once — [[readPruned]] gets multi-
    * column skipping and the table gets small-file GC in one
    * optimistic partition rewrite. Appends between compactions
    * degrade gracefully: new small files are unpruned-until-
    * compacted, never wrong (stats remain an optimization input
    * only). `filesPerPartition` is the layout's file-count constant —
    * pick ≈ partition size / target file size at the largest
    * expected partition.
    */
  def compactZOrdered(cols: Seq[(String, Long, Long)], bitsPer: Int = 10,
                      maxFilesPerPartition: Int = 8,
                      filesPerPartition: Int = 4): Set[String] = {
    val v = version
    if (v < 0) return Set.empty
    import org.apache.spark.sql.functions.col
    val byPart = snapshot(v).files.groupBy(_.partition)
    val fat = byPart.collect { case (p, fs) if fs.size > maxFilesPerPartition => p }.toSet
    fat.foreach { p =>
      rewritePartitions(Set(p)) { cur =>
        val z = ZOrder.zValue(
          cols.map { case (c, lo, hi) => ZOrder.rangeBucket(col(c), lo, hi, bitsPer) },
          bitsPer)
        cur.withColumn("__z", z)
          .repartitionByRange(filesPerPartition, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    }
    fat
  }

  /** Physically delete data files no snapshot within the last
    * `retainVersions` references, plus manifests older than that
    * horizon. Readers are snapshot-pinned, so retention must exceed
    * the longest running query (the standard ACID-table tradeoff).
    *
    * Retention contract (the public Delta `VACUUM` design): a data
    * file is deleted only when it is BOTH unreferenced by every
    * retained snapshot AND older than `retainAgeMillis` by
    * modification time. The age guard exists because [[stage]] moves
    * files into `data/` *before* the manifest CAS publishes them — an
    * unreferenced-but-fresh file may be a concurrent writer's
    * staged-but-uncommitted batch, and deleting it would let that
    * writer commit a snapshot pointing at nothing (data loss). With
    * the default 7-day horizon any in-flight commit finishes long
    * before its staged files become eligible; pass `0L` only when the
    * caller can prove no writer is mid-commit (e.g. single-threaded
    * tests). Log-file pruning needs no age guard: once the horizon
    * checkpoint is pinned, log files below it are redundant by
    * construction, and concurrent committers only ever create files
    * at `latest+1`, above any horizon.
    */
  def vacuum(retainVersions: Int = 2,
             retainAgeMillis: Long = TxTable.DefaultVacuumRetainAgeMillis): Int = {
    val v = version
    if (v < 0) return 0
    val keepFrom = math.max(0L, v - (retainVersions - 1).toLong)
    // Pin the horizon as a checkpoint FIRST: once it exists, every
    // retained snapshot reconstructs from it plus retained deltas,
    // making all older log files redundant and safe to prune.
    val horizon = snapshot(keepFrom)
    casCreate(checkpointPath(keepFrom),
      checkpointBody(horizon.files, horizon.schema, horizon.dv))
    val live: Set[String] =
      (keepFrom to v).flatMap(i => snapshot(i).files.map(_.path)).toSet
    var deleted = 0
    val ageCutoff = System.currentTimeMillis() - retainAgeMillis
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    if (fs.exists(dataDir)) {
      val qualifiedRoot = fs.makeQualified(rootPath).toString
      val doomed = parquetFilesUnder(dataDir).filter { st =>
        val rel = fs.makeQualified(st.getPath).toString.stripPrefix(qualifiedRoot + "/")
        !live.contains(rel) && st.getModificationTime <= ageCutoff
      }
      doomed.foreach { st => if (fs.delete(st.getPath, false)) deleted += 1 }
    }
    // Consolidate the LIVE files' stats into one horizon sidecar
    // before pruning the per-commit ones (the checkpoint pattern —
    // derived data, CAS-created, a lost race or partial content only
    // weakens pruning, never correctness). Unconditional on statsCols:
    // the param is per-handle, not persisted, so a vacuum through a
    // handle opened WITHOUT statsCols must still carry forward stats
    // other handles wrote — gating on this handle's statsCols would
    // silently discard live files' pruning metadata below.
    locally {
      val liveStats = fileStats().filter { case (p, _) => live.contains(p) }
      if (liveStats.nonEmpty && !fs.exists(statsCkPath(keepFrom)))
        casCreate(statsCkPath(keepFrom),
          liveStats.toSeq.sortBy(_._1).map { case (p, m) =>
            (p +: m.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
              s"$c\t$mn\t$mx" }).mkString("\t")
          }.mkString("\n") + "\n")
    }
    // Prune log files strictly below the horizon — all kinds. Log
    // storage (and the listing cost of `version`) is thereafter
    // bounded by the retention window, not the table's age.
    val (deltas, ckpts) = logVersions()
    deltas.filter(_ < keepFrom).foreach(i => fs.delete(deltaPath(i), false))
    ckpts.filter(_ < keepFrom).foreach(i => fs.delete(checkpointPath(i), false))
    if (fs.exists(logDir)) fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      val ver = n match {
        case TxTable.StatsName(x) => Some(x.toLong)
        case TxTable.StatsCkName(x) => Some(x.toLong)
        case _ => None
      }
      if (ver.exists(_ < keepFrom)) fs.delete(st.getPath, false)
    }
    deleted
  }

  // ---------------------------------------------------------------- commit CAS

  private def deltaPath(v: Long) =
    new org.apache.hadoop.fs.Path(logDir, f"v$v%020d.delta")

  private def checkpointPath(v: Long) =
    new org.apache.hadoop.fs.Path(logDir, f"v$v%020d.checkpoint")

  private def checkpointBody(files: Seq[TxFile], schema: StructType,
                             dv: Map[String, Seq[Long]] = Map.empty): String = {
    val live = files.map(_.path).toSet
    val dvLines = dv.toSeq.filter { case (p, _) => live.contains(p) }
      .sortBy(_._1)
      .map { case (p, idxs) => s"#dv\t$p\t${idxs.mkString(",")}" }
    ((schema.json +: files.map(f => s"${f.partition}\t${f.path}")) ++ dvLines)
      .mkString("\n")
  }

  /** Run `build(latest snapshot)` to produce the next commit's
    * (reshaped adds, fresh adds, removes, schema) and CAS-publish the
    * delta, with the `meta` lines, as latest+1; on a lost race,
    * re-runs `build` against the new latest. Every commit path goes
    * through here. An uncommitted table builds on `Snapshot(-1, null,
    * Nil)`. `build` may throw (conflict detection) — that propagates
    * to the caller. Every `checkpointInterval`-th version also gets a
    * full checkpoint; checkpoint contents are deterministic per
    * version, so a lost checkpoint race is harmless.
    */
  private def retryCas(kind: String, meta: Seq[String] = Nil)(
      build: Snapshot => (Seq[TxFile], Seq[TxFile], Seq[TxFile], StructType)): Long = {
    while (true) {
      val v = version
      val (reshaped, fresh, removes, schema) =
        build(if (v < 0) Snapshot(-1, null, Seq.empty) else snapshot(v))
      // readLog parses this body back. The op letter carries the
      // content provenance the change feed needs: `n` files hold rows
      // never committed before (append batches, upsert inserts); `+`
      // files hold previously-committed rows reshaped (rewrite/
      // compact). `kind` names the commit path; the update marker
      // reads it.
      val ops = removes.map(f => s"-\t${f.partition}\t${f.path}") ++
        reshaped.map(f => s"+\t${f.partition}\t${f.path}") ++
        fresh.map(f => s"n\t${f.partition}\t${f.path}")
      val body = ((schema.json +: ops) ++ meta :+ s"#kind\t$kind").mkString("\n")
      val nv = v + 1
      if (casCreate(deltaPath(nv), body)) {
        writeStatsSidecar(nv, reshaped ++ fresh)
        if (nv > 0 && nv % checkpointInterval == 0) {
          // full replay (not base±this commit) so the checkpoint
          // carries the cumulative deletion vectors at nv — a
          // checkpoint that lost them would resurrect deleted rows
          // once older deltas are vacuumed
          val snap = snapshot(nv)
          casCreate(checkpointPath(nv),
            checkpointBody(snap.files, schema, snap.dv))
        }
        return nv
      }
    }
    sys.error("unreachable")
  }

  /** Atomically create `target` with `body` iff it does not exist.
    * Local filesystems: write a temp file and hard-link it into place
    * (`link(2)` fails with EEXIST atomically — `rename(2)` would
    * silently overwrite, and Hadoop's create(overwrite=false) on the
    * local FS is check-then-act). Every other scheme:
    * `create(overwrite=false)` + write + close.
    *
    * Consistency contract for that second branch — what the backing
    * store must provide, and ALL it must provide: the object named
    * `target` appears atomically with its full body, at most once
    * across racers, and a loser's attempt fails with an IOException
    * no later than `close()`. HDFS meets it at create() time (the
    * NameNode arbitrates the exclusive create). An object store
    * meets it at close() time with a conditional PUT
    * (`If-None-Match: *` — the upload is buffered and the key either
    * materializes whole or the PUT fails with 412): a FileSystem
    * adapter over such a store maps create(overwrite=false) to
    * exactly that, which is how this log commits on S3-class storage
    * — no rename, no link, no lock service. The protocol never
    * renames under the log dir and tolerates non-atomic (copy+
    * delete) rename for staged DATA files, whose visibility comes
    * only from the committed manifest. MemObjectStoreTxSpec drives
    * the full commit/conflict/vacuum protocol against a simulated
    * store exposing exactly this contract and nothing more.
    */
  private def casCreate(target: org.apache.hadoop.fs.Path, body: String): Boolean = {
    fs.mkdirs(target.getParent)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val dir = java.nio.file.Paths.get(target.getParent.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(dir, ".tmp-", ".manifest")
      try {
        java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
        java.nio.file.Files.createLink(java.nio.file.Paths.get(target.toUri.getPath), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      try {
        val out = fs.create(target, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }
}

object TxTable {
  val LogDirName = "_graft_log"

  /** The staging tag column of [[TxTable.upsertRewritePartitions]]'s
    * frame: `u` for reshaped prior content, `n` for net-new rows.
    */
  val TagCol = "__tag"

  /** Default vacuum age horizon: 7 days, the public Delta `VACUUM`
    * default. Files younger than this are never deleted even when
    * unreferenced — they may be a concurrent writer's staged batch.
    */
  val DefaultVacuumRetainAgeMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** Default cap on (file, row-index) deletion-vector marks a single
    * [[TxTable.deleteWhere]] / [[TxTable.updateWhere]] /
    * [[TxTable.mergeInto]] commit may collect. The mark set is
    * driver-collected, rides every subsequent delta/checkpoint, and is
    * broadcast into every read — sized for SURGICAL mutations. A
    * predicate matching past this budget is a bulk rewrite wearing a
    * delete's clothes; the guard fails loudly with the
    * rewritePartitions / upsertRewritePartitions pointer instead of
    * silently degrading (or OOMing) a 100 TB deployment.
    */
  val DefaultDvMarkBudget: Long = 5000000L

  private val DeltaName = """v(\d+)\.delta""".r
  private val CheckpointName = """v(\d+)\.checkpoint""".r
  private[storage] val StatsName = """v(\d+)\.stats""".r
  private[storage] val StatsCkName = """v(\d+)\.statsck""".r
  private val PartitionDirName = """([^=]+)=(.*)""".r

  /** One live data file: path relative to the table root + its
    * partition value ("" for unpartitioned).
    */
  final case class TxFile(path: String, partition: String)

  /** `dv`: the snapshot's deletion vectors — per live data file (by
    * rel path), the ascending row indexes deleted by
    * [[TxTable.deleteWhere]] commits up to this version. Committed
    * inside the atomic delta/checkpoint bodies (`#dv` lines), never
    * as best-effort sidecars: unlike stats, a lost deletion vector
    * would resurrect rows.
    */
  final case class Snapshot(version: Long, schema: StructType, files: Seq[TxFile],
                            dv: Map[String, Seq[Long]] = Map.empty)

  /** One parsed log file ([[TxTable.readLog]]; line format in
    * [[TxTable]]): the file ops in file order, the `#dv` marks, the
    * `#touch` partitions, and the `#kind` (`append` when absent).
    */
  private[storage] final case class Delta(schema: StructType, kind: String,
                                          ops: Seq[(Char, TxFile)],
                                          dv: Seq[(String, Seq[Long])],
                                          touched: Seq[String]) {
    /** Files of rows never committed before — what the change feed
      * delivers: `n` ops, plus the legacy `+` ops of `append` deltas. */
    def netNew: Seq[TxFile] = ops.collect {
      case (op, f) if op == 'n' || (op == '+' && kind == "append") => f
    }

    /** Partitions whose prior content this commit reshaped or removed —
      * the update marker: the `+`/`-` ops and `#touch` lines of a
      * non-`append` delta. */
    def reshaped: Seq[String] =
      if (kind == "append") Nil
      else ops.collect { case (op, f) if op != 'n' => f.partition } ++ touched

    /** Every partition this commit touched: file ops and `#touch`. */
    def partitions: Set[String] = (ops.map(_._2.partition) ++ touched).toSet
  }
}

/** A rewrite lost an optimistic-concurrency race: another commit
  * touched the same partitions after the rewrite's snapshot read.
  */
class TxConflictException(msg: String) extends RuntimeException(msg)
