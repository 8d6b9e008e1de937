package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Maintenance for a [[ManifestSink]] directory: snapshot expiry.
  *
  * Every commit publishes an immutable `manifest-v{n}.json`; across
  * many appends the version history grows without bound (the round-10
  * scale note). `expireSnapshots(path, keepLast)` deletes all version
  * manifests older than the newest `keepLast`, under the sink's own
  * `_commit.lock` so an expiry never races a commit's version-number
  * scan. Only the HISTORY dies: appends carry every previous file
  * forward into the newer manifests, so no data file is referenced
  * exclusively by an expired version — expiry can never orphan or
  * strand committed data (a truncate is the only operation that
  * deletes part files, and it already purges history itself).
  * Reading an expired version afterwards fails loudly with the same
  * FileNotFoundException a truncate-expired version raises.
  */
object ManifestMaintenance {

  /** Delete all but the newest `keepLast` version manifests at `path`.
    * Returns the number of snapshots expired. Takes `_commit.lock`
    * exclusively (same protocol as the sink: fail loudly on a live
    * lock rather than race a commit). */
  def expireSnapshots(
      spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val dir = new Path(path)
    val fs = ManifestFs.of(dir, spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return 0
    ManifestLock.withLock(fs, dir,
      s"expire-snapshots-${java.util.UUID.randomUUID()}",
      "ManifestMaintenance") {
      val vRe = """manifest-v(\d+)\.json""".r
      val versions = fs.listStatus(dir).map(_.getPath.getName).collect {
        case vRe(v) => v.toLong
      }.sorted
      val expire = versions.dropRight(keepLast)
      expire.foreach(v => fs.delete(new Path(dir, s"manifest-v$v.json"), false))
      expire.length
    }
  }

  /** Row-level DELETE, merge-on-read (the delete-vector analog): rows
    * matching `predicate` (a SQL expression over the table's columns)
    * are recorded as POSITIONAL delete vectors — (dataFile, rowOrdinal,
    * lineHash) lines written by [[ManifestDvWriter]], the writer SQL
    * `DELETE` uses — and a new manifest version carries the data
    * entries unchanged plus the dv entries. No data file is rewritten:
    * readers apply the dvs at scan time (batch, time travel, and the
    * streaming tail all skip deleted records), and [[compact]] later
    * rewrites the survivors physically, consuming the dvs.
    *
    * The matching scan runs through the DSv2 source WITH the current
    * dvs applied, so re-deleting (or an overlapping predicate) never
    * records the same position twice — dv positions stay unique, which
    * keeps `gross − dvRows = net` exact. The row ordinal is stable
    * row identity: data files are immutable between compactions, and
    * the lineHash term lets compact's checksum conservation stay exact
    * net-of-deletes.
    *
    * One Spark job stages the positions into `_tmp-delete-<id>`; the
    * publish runs through the one commit step ([[ManifestCommit]]).
    * Concurrency: the scan runs outside the lock; under it the publish
    * verifies the scanned data files are still current AND the dv set
    * is unchanged (an append is fine — its new files can't match a scan
    * that never saw them — but a compaction/truncate/delete
    * invalidates positions; abort loudly, retry). Returns the number
    * of rows deleted. */
  def delete(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String, predicate: String): Long = {
    // distributed matched-position scan (current dvs applied by the
    // source, so already-deleted rows can never match again)
    val matched = spark.read.format("graft.sources.ManifestSource")
      .schema(schemaDdl).option("path", path)
      .option("metadata", "true").load()
      .where(predicate)
      .selectExpr("_mf_file", "_mf_pos", "_mf_linehash")
    mutate(spark, path, matched, None, "delete")._1
  }

  /** UPSERT, merge-on-read (the MERGE INTO analog): table rows whose
    * `keyCols` match an incoming update row are superseded (recorded as
    * delete vectors), and ALL update rows are appended as new data
    * files — both in ONE committed manifest version, so readers see the
    * merge atomically: matched keys carry their new values, unmatched
    * keys insert. No data file is rewritten; [[compact]] later applies
    * the supersedes physically. The matching scan reads through current
    * dvs (a twice-upserted key supersedes the LATEST version of the
    * row, never re-deletes the same position). Keys match in the
    * table's key types: a batch whose keys Spark would broadcast has
    * them collected ([[ManifestKeySet]]) and matched in the staging
    * job's table scan, a larger one by a left-semi join.
    * The positions and the inserted rows are staged by one Spark job
    * into `_tmp-upsert-<id>`, through the writers SQL `MERGE` uses; the
    * publish and its conflict rules are [[delete]]'s. `epoch` =
    * Some((ledgerKey, epochId)) makes a replayed streaming micro-batch a
    * no-op. Returns (supersededRows, upsertedRows). */
  def upsert(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String, keyCols: Seq[String],
      updates: org.apache.spark.sql.DataFrame,
      epoch: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val schema = StructType.fromDDL(schemaDdl)
    val tbl = spark.read.format("graft.sources.ManifestSource")
      .schema(schemaDdl).option("path", path)
      .option("metadata", "true").load()
    val keys = updates.select(
      keyCols.map(k => col(k).cast(schema(k).dataType).as(k)): _*)
    val inserts = Some(updates.select(schema.fieldNames.toSeq.map(col): _*))
    val meta = Seq("_mf_file", "_mf_pos", "_mf_linehash").map(col)
    if (keys.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold)
      mutate(spark, path, tbl.select(meta ++ keyCols.map(col): _*),
        inserts, "upsert", epoch, Some(keys))
    else
      mutate(spark, path, tbl.join(keys, keyCols, "left_semi").select(meta: _*),
        inserts, "upsert", epoch)
  }

  /** Shared merge-on-read mutation: record `matchedPos` rows —
    * (_mf_file, _mf_pos, _mf_linehash) of rows to supersede — as new
    * delete vectors, optionally append `inserts` as new data files,
    * and publish BOTH in one manifest version; with `keys`, only the
    * rows whose key (their further columns) is among the batch's
    * distinct keys. Both are staged by one Spark job outside the
    * lock; the commit verifies the data files current when the
    * operation began are still current and the dv list is unchanged
    * (appends are fine; rewrites/deletes invalidate positions — abort
    * loudly, retry). Returns (deletedRows, insertedRows). */
  private def mutate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      matchedPos: org.apache.spark.sql.DataFrame,
      inserts: Option[org.apache.spark.sql.DataFrame],
      opName: String,
      // (ledgerKey, epochId) for STREAMING CDC APPLY (foreachBatch →
      // upsert): the manifest's streamEpochs ledger makes a replayed
      // micro-batch a no-op — the same exactly-once contract as the
      // streaming sink, for the DML verb
      epoch: Option[(String, Long)] = None,
      keys: Option[org.apache.spark.sql.DataFrame] = None): (Long, Long) = {
    val dir = new Path(path)
    // one copy of the session's Hadoop conf for the whole operation
    val conf = spark.sessionState.newHadoopConf()
    val fs = ManifestFs.of(dir, conf)
    val before = ManifestRead.text(fs, dir, "manifest.json")
    val beforeFiles = ManifestRead.entriesOfText(before).map(_.file).toSet
    val beforeDvs = ManifestRead.dvsOfText(before).map(_._1)
    val id = java.util.UUID.randomUUID().toString
    val stageName = s"_tmp-$opName-$id"
    // fixes the scan's snapshot before the batch's keys are collected
    val positions = matchedPos.queryExecution.toRdd
    val (dvs, added) = ManifestStage(spark, conf, fs, path, stageName,
      Some(positions), keys.map(new ManifestKeySet(_)),
      inserts.map(df => (df.queryExecution.toRdd, df.schema)))
    val deleted = dvs.map(_.rows).sum
    val inserted = added.map(_.rows).sum
    val stageDir = new Path(dir, stageName)
    if (deleted == 0 && inserted == 0) {
      fs.delete(stageDir, true)
      return (0L, 0L)
    }
    val published = ManifestCommit(fs, dir, id, "ManifestMaintenance",
      Some(stageDir)) { snap =>
      // EPOCH GUARD first (streaming CDC apply): a replayed epoch's rows
      // are already merged — its staged files are discarded BEFORE the
      // staleness check (the replay's positions are legitimately stale
      // against the post-commit state)
      if (epoch.exists { case (q, e) => snap.epochs.get(q).exists(_ >= e) })
        None
      else {
        if (!beforeFiles.subsetOf(snap.entries.map(_.file).toSet) ||
          snap.dvs.map(_._1) != beforeDvs)
          throw new IllegalStateException(
            s"ManifestMaintenance: concurrent rewrite/delete changed " +
              s"$path during the $opName scan — positions are stale; retry")
        // the table's entries carry forward VERBATIM (cols/stats
        // included — file skipping must survive DML); a DML commit
        // keeps the streaming exactly-once ledger, and a CDC-apply
        // commit advances its own entry
        Some(ManifestCommit.Change(snap.entries, snap.dvs,
          snap.epochs ++ epoch, added, dvs))
      }
    }
    if (published) (deleted, inserted) else (0L, 0L)
  }

  /** CDC CHANGE FEED between two committed versions (the
    * table_changes / readChangeFeed analog): every row the table
    * gained or lost in (fromV, toV], as (op, version, <data columns>)
    * rows satisfying the reconstruction identity
    * `state(fromV) + inserts − deletes = state(toV)`.
    *
    * The walk mirrors the streaming tail: an APPEND/UPSERT version
    * contributes its new files' rows (GROSS — rows deleted later in
    * the range still count as inserts, then again as deletes) as
    * op='insert'; new delete-vector entries contribute op='delete'
    * rows MATERIALIZED by reading the target files at the dv's own
    * version with dvs disabled and joining on (file, position) — the
    * position is row identity, so the emitted delete carries the full
    * old row; a COMPACTION version is a pure rewrite and contributes
    * nothing. Requires retained history (an expired mid-range
    * manifest or reclaimed pre-compaction file fails loudly — the
    * streaming-tail contract). */
  def changes(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String,
      fromV: Long, toV: Long): org.apache.spark.sql.DataFrame = {
    require(fromV >= 1 && toV >= fromV,
      s"changes: need 1 <= fromV <= toV, got ($fromV, $toV)")
    import org.apache.spark.sql.functions._
    val cols = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      .fieldNames.toSeq
    val fs = ManifestRead.fsFor(path)
    val dir = new Path(path)
    // (data files, dv files) of one version, from one read
    def names(m: String): (Seq[String], Seq[String]) = {
      val txt = ManifestRead.text(fs, dir, m)
      (ManifestRead.entriesOfText(txt).map(_.file),
        ManifestRead.dvsOfText(txt).map(_._1))
    }
    val (fromFiles, fromDvs) = names(s"manifest-v$fromV.json")
    var prevFiles = fromFiles.toSet
    var prevDvs = fromDvs.toSet
    val insertsByV = Seq.newBuilder[(Long, Seq[String])]
    val dvsByV = Seq.newBuilder[(Long, Seq[String])]
    ((fromV + 1) to toV).foreach { v =>
      val m = s"manifest-v$v.json"
      val (cur, curDvs) = names(m)
      if (!ManifestRead.isCompaction(fs, dir, m)) {
        val nf = cur.filterNot(prevFiles)
        if (nf.nonEmpty) insertsByV += ((v, nf))
      }
      val nd = curDvs.filterNot(prevDvs)
      if (nd.nonEmpty) dvsByV += ((v, nd))
      prevFiles = cur.toSet
      prevDvs = curDvs.toSet
    }
    def readFiles(v: Long, files: Seq[String], withMeta: Boolean) = {
      val r = spark.read.format("graft.sources.ManifestSource")
        .schema(schemaDdl).option("path", path)
        .option("version", v)
        .option("groups", files.mkString(";")) // one whole file per task
        .option("skipdvs", "true")
      (if (withMeta) r.option("metadata", "true") else r).load()
    }
    val insertDfs = insertsByV.result().map { case (v, files) =>
      readFiles(v, files, withMeta = false)
        .select(lit("insert").as("op") +: lit(v).as("version") +:
          cols.map(col): _*)
    }
    val deleteDfs = dvsByV.result().map { case (v, dvs) =>
      // dv rows are (dataFile, position, lineHash) — names and numbers,
      // no quoting, so a plain csv read round-trips them
      val pos = spark.read.schema("f STRING, p LONG, h LONG")
        .csv(dvs.map(d => s"$path/$d"): _*)
        .select(col("f"), col("p"))
      // only the files this version's dvs actually target (file-name
      // metadata — bounded like a manifest listing)
      val targets = pos.select("f").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      readFiles(v, targets, withMeta = true)
        .join(pos,
          col("_mf_file") === col("f") && col("_mf_pos") === col("p"))
        .select(lit("delete").as("op") +: lit(v).as("version") +:
          cols.map(col): _*)
    }
    val all = insertDfs ++ deleteDfs
    if (all.isEmpty) {
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("op",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType)) ++
          org.apache.spark.sql.types.StructType.fromDDL(schemaDdl).fields)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else all.reduce(_ unionByName _)
  }

  /** Small-file COMPACTION (the rewrite_data_files analog): bin-packs
    * the CURRENT snapshot's data files into size-bounded groups
    * (first-fit decreasing; budget = `targetBytes`, or total size /
    * `targetFiles` when unset), rewrites each group with its own task
    * — the DSv2 source reads it, the sink's writer stages it into
    * `_compact-<id>`, all groups in one Spark job (same
    * order-independent checksums; pending delete vectors are applied —
    * and consumed — by the rewrite) — and publishes a new manifest
    * version listing ONLY the compacted files. One task never rewrites
    * more than one group, so compaction parallelism scales with the
    * table instead of collapsing to a single funnel. Old part files
    * stay on disk — every retained version manifest still reads
    * exactly its own snapshot (time travel is untouched) — until
    * [[expireSnapshots]] + [[removeOrphans]] reclaim them.
    *
    * Safety: the distributed rewrite runs OUTSIDE the lock (it can be
    * long); the publish runs through the one commit step
    * ([[ManifestCommit]]), which re-reads the manifest under
    * `_commit.lock` — if a concurrent commit changed the file set or
    * the dv list since the rewrite began, it aborts loudly (optimistic
    * concurrency, retry).
    * Conservation guard: the sum of per-file checksums and row counts
    * is invariant under a pure rewrite (checksums are order-independent
    * sums of row-line hashes), so any lost/duplicated/altered row
    * fails the publish before it happens.
    *
    * LAYOUT-AWARE compaction (`clusterBy` non-empty): instead of
    * bin-packing whole files, the snapshot is globally re-clustered on
    * the given SQL expressions (plain sort columns, or a Morton
    * interleave for a Z-order cut — the q424 layout, now a maintenance
    * verb) and cut into `targetFiles` exact-ntile buckets over a total
    * order (ScalableRank — no global window funnel, no sampled
    * boundaries, so the resulting layout is DETERMINISTIC and
    * spec-pinnable). Each bucket becomes one file whose zone maps are
    * tight on the cluster keys, so compaction IMPROVES file skipping
    * instead of just merging small files. The conservation guard is
    * unchanged: per-file checksums are order-independent sums of row
    * hashes, so their global sum is invariant under any re-clustering.
    * (The bucket writes are one single-partition filtered pass per
    * bucket over a pinned localCheckpoint, all tasks of one job; a
    * range-exchange single-pass write would trade that for sampled,
    * nondeterministic boundaries.)
    *
    * Returns (filesBefore, filesAfter). */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String, targetFiles: Int = 1,
      targetBytes: Long = 0L, clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = ManifestFs.of(dir, conf)
    val beforeText = ManifestRead.text(fs, dir, "manifest.json")
    val before = ManifestRead.entriesOfText(beforeText).map(e => (e.file, e.rows))
    val beforeDvs = ManifestRead.dvsOfText(beforeText)
    // with delete vectors pending, compaction must run even at the
    // target file count — it is what applies the deletes physically;
    // a layout request likewise always rewrites (re-clustering IS the
    // point, whatever the current file count)
    if (before.length <= targetFiles && beforeDvs.isEmpty && clusterBy.isEmpty)
      return (before.length, before.length)
    // BIN-PACK the input files into size-bounded groups (first-fit
    // decreasing, budget = targetBytes or total/targetFiles): each
    // group is rewritten by its OWN task reading only its own files
    // (a files-subset scan coalesced to 1, unioned across groups), so
    // one task never funnels the whole table — the rewrite is as
    // parallel as the group count and no shuffle moves any row
    val sizes = before.map { case (name, _) =>
      (name, fs.getFileStatus(new Path(dir, name)).getLen)
    }
    val totalBytes = sizes.map(_._2).sum
    val budget = math.max(1L,
      if (targetBytes > 0) targetBytes
      else (totalBytes + targetFiles - 1) / targetFiles)
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
    sizes.sortBy { case (name, sz) => (-sz, name) }.foreach { case (name, sz) =>
      bins.indexWhere(_._2 + sz <= budget) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(name), sz))
        case i =>
          bins(i)._1 += name
          bins(i) = (bins(i)._1, bins(i)._2 + sz)
      }
    }
    val groups = bins.map(_._1.toSeq).toSeq
    if (groups.length == before.length && beforeDvs.isEmpty && clusterBy.isEmpty)
      return (before.length, before.length) // nothing to merge
    // distributed rewrite: ONE Spark job stages one data file per group
    // (or layout bucket) into `_compact-<id>` through the sink's writer,
    // which records each file's (rows, checksum) entry
    val id = java.util.UUID.randomUUID().toString
    val stageName = s"_compact-$id"
    val (toWrite, schema) = if (clusterBy.isEmpty) {
      val df = spark.read.format("graft.sources.ManifestSource")
        .schema(schemaDdl).option("path", path)
        .option("groups", groups.map(_.mkString(",")).mkString(";")).load()
      (df.queryExecution.toRdd, df.schema)
    } else {
      import org.apache.spark.sql.functions.{col, expr}
      // layout rewrite: exact-ntile buckets over (clusterBy, all
      // columns) — the trailing columns make the order total, so equal
      // cluster keys land deterministically
      val src = spark.read.format("graft.sources.ManifestSource")
        .schema(schemaDdl).option("path", path).load()
      val keys = clusterBy.map(expr) ++ src.columns.toSeq.map(col)
      val ranked = graft.operators.ScalableRank.withRank(src, "__rk", keys: _*)
      val n = ranked.count()
      val k = math.min(targetFiles.toLong, math.max(n, 1L))
      val q = n / k; val m = n % k; val cut = (q + 1) * m
      val bucketed = ranked.withColumn("__b",
        org.apache.spark.sql.functions.when(col("__rk") <= cut,
          expr(s"CAST((__rk - 1) div ${q + 1} AS INT)"))
          .otherwise(expr(
            s"CAST($m + (__rk - 1 - $cut) div ${math.max(q, 1L)} AS INT)")))
        .localCheckpoint()
      // one single-partition filtered pass per bucket, all in one job
      val buckets = (0L until k).map(b =>
        bucketed.filter(col("__b") === b).drop("__rk", "__b").coalesce(1))
      (spark.sparkContext.union(buckets.map(_.queryExecution.toRdd)),
        buckets.head.schema)
    }
    val (_, compacted) = ManifestStage(spark, conf, fs, path, stageName, None, None,
      Some((toWrite, schema)))
    // ---- publish through the one commit step (ManifestCommit)
    ManifestCommit(fs, dir, s"compact-$id", "ManifestMaintenance",
      Some(new Path(dir, stageName))) { snap =>
      if (snap.entries.map(_.file).toSet != before.map(_._1).toSet ||
        snap.dvs.map(_._1) != beforeDvs.map(_._1))
        throw new IllegalStateException(
          s"ManifestMaintenance: concurrent commit changed $path during " +
            "compaction — rewrite is stale; retry")
      // Conservation, NET of pending deletes: a pure rewrite preserves
      // every surviving row, so rows must match gross − deleted and the
      // order-independent checksum must match the before-sum minus the
      // deleted rows' line hashes (recorded per-row in the dvs exactly
      // for this). With no dvs both reduce to strict equality.
      val rowsBefore = snap.entries.map(_.rows).sum
      val dvRows = snap.dvs.map(_._2).sum
      val dvHashSum = dvLineHashSum(fs, dir, snap.dvs.map(_._1))
      val sumBefore = snap.entries.map(_.checksum).sum
      val rowsAfter = compacted.map(_.rows).sum
      val sumAfter = compacted.map(_.checksum).sum
      // The CHECKSUM leg of the guard holds only when every input file
      // shares the rewrite's column layout: rewriting an older-schema
      // file re-renders its lines (added columns materialize as empty
      // trailing fields), so line hashes legitimately change. The ROW
      // conservation leg always holds.
      val schemaCols = StructType.fromDDL(schemaDdl).fieldNames.mkString(",")
      val homogeneous = snap.entries.forall(e => e.cols.forall(_ == schemaCols))
      require(rowsBefore - dvRows == rowsAfter &&
        (!homogeneous || sumBefore - dvHashSum == sumAfter),
        s"ManifestMaintenance: compaction conservation check failed at " +
          s"$path (rows $rowsBefore - $dvRows deleted -> $rowsAfter, " +
          s"checksum $sumBefore - $dvHashSum -> $sumAfter) — aborting publish")
      // "compaction":true = a PURE REWRITE (dataChange=false in Delta
      // terms): the streaming tail must NOT re-emit these files as new
      Some(ManifestCommit.Change(Nil, Nil, snap.epochs, compacted,
        compaction = true))
    }
    (before.length, compacted.length)
  }

  /** Orphan-file cleanup (the remove_orphan_files analog): deletes
    * `part-*` data files and `dv-*` delete vectors referenced by NO surviving manifest — neither
    * the current one nor any retained `manifest-v{n}.json` — plus
    * crashed writers' `_tmp-*` staging dirs and crashed compactions'
    * `_compact-*` staging dirs older than 10 minutes.
    * Runs under `_commit.lock`, so no committer is mid-publish while
    * files are judged; uncommitted in-flight data lives in `_tmp-*`
    * dirs (never as root `part-*`), so a live writer can't lose files.
    * Returns the number of data files deleted. */
  def removeOrphans(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val dir = new Path(path)
    val fs = ManifestFs.of(dir, spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return 0
    ManifestLock.withLock(fs, dir,
      s"remove-orphans-${java.util.UUID.randomUUID()}",
      "ManifestMaintenance") {
      val vRe = """manifest-v(\d+)\.json""".r
      val manifests = fs.listStatus(dir).map(_.getPath.getName).filter(n =>
        n == "manifest.json" || vRe.findFirstIn(n).contains(n))
      // both data files and delete vectors count as referenced while
      // ANY surviving manifest (current or retained history) lists them
      val referenced = manifests.flatMap { m =>
        val txt = ManifestRead.text(fs, dir, m)
        ManifestRead.entriesOfText(txt).map(_.file) ++
          ManifestRead.dvsOfText(txt).map(_._1)
      }.toSet
      var removed = 0
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith("part-") || n.startsWith("dv-")) &&
          (n.endsWith(".csv") || n.endsWith(".parquet")) && !referenced(n)) {
          fs.delete(st.getPath, false); removed += 1
        } else if (st.isDirectory &&
          (n.startsWith("_tmp-") || n.startsWith("_compact-")) &&
          System.currentTimeMillis() - st.getModificationTime > 10 * 60 * 1000L) {
          // _compact-* : a hard-crashed compaction (killed before its
          // in-code catch ran) strands a full rewritten copy of the
          // dataset in its staging dir; a LIVE compaction never holds
          // a staging dir past its lock-protected publish, so the age
          // threshold is safe
          fs.delete(st.getPath, true)
        }
      }
      removed
    }
  }

  /** Sum of the deleted rows' line hashes across `dvNames` — the exact
    * amount a physical delete removes from the order-independent file
    * checksum sum. */
  private def dvLineHashSum(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      dvNames: Seq[String]): Long = {
    var sum = 0L
    dvNames.foreach { dv =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(new Path(dir, dv)), "UTF-8"))
      try {
        var l = in.readLine()
        while (l != null) {
          sum += ManifestDialect.splitCsv(l)(2).toLong
          l = in.readLine()
        }
      } finally in.close()
    }
    sum
  }
}

/** The one Spark job that stages maintenance DML's and compaction's
  * files into `path/stageName`: each partition of `positions`
  * ((_mf_file, _mf_pos, _mf_linehash) rows) becomes one delete-vector
  * file through [[ManifestDvWriter]], and each partition of `rows` (with
  * its schema) one data file through the sink's writer — the writers SQL
  * `MERGE`/`UPDATE`/`DELETE` use, so bytes, checksums and line hashes are
  * theirs. Returns (delete vectors, data files); a failed job drops the
  * staging directory.
  *
  * With `keys`, only position rows whose key (their columns from the
  * fourth on) is in the set count. A dv file may list positions of any
  * data files, so the position scan (a partition per file or row group)
  * is coalesced to the task slots the row partitions leave free.
  *
  * The task function lives in this small object on purpose: Spark's
  * closure cleaner parses the class file that defines a task function
  * on every job, and [[ManifestMaintenance]]'s is large. One `runJob`
  * over the union, not `mapPartitions` + `collect`, cleans only that one
  * function. */
private object ManifestStage {
  def apply(
      spark: org.apache.spark.sql.SparkSession,
      hadoopConf: org.apache.hadoop.conf.Configuration, fs: FileSystem,
      path: String, stageName: String,
      positions: Option[RDD[InternalRow]], keys: Option[ManifestKeySet],
      rows: Option[(RDD[InternalRow], StructType)])
    : (Seq[ManifestFileCommit], Seq[ManifestFileCommit]) = {
    val conf = ShippedConf(hadoopConf)
    val keySet = keys.map(spark.sparkContext.broadcast(_))
    val stageDir = s"$path/$stageName"
    val writers = rows.map { case (_, schema) =>
      new ManifestWriterFactory(path, stageName, schema, conf) }.orNull
    val slots = math.max(1,
      spark.sparkContext.defaultParallelism - rows.fold(0)(_._1.getNumPartitions))
    val dvInput = positions.map(_.coalesce(slots))
    val nDv = dvInput.fold(0)(_.getNumPartitions)
    val input = spark.sparkContext.union(dvInput.toSeq ++ rows.map(_._1))
    val staged = new Array[Seq[ManifestFileCommit]](input.getNumPartitions)
    try spark.sparkContext.runJob(input,
      (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) =>
        if (ctx.partitionId() < nDv) dvFile(stageDir, conf.value,
          keySet.fold(it) { ks => val k = ks.value; it.filter(k.contains(_, 3)) })
        else writers.writeAll(it),
      staged.indices, (i: Int, files: Seq[ManifestFileCommit]) => staged(i) = files)
    catch { case e: Throwable => fs.delete(new Path(stageDir), true); throw e }
    (staged.take(nDv).flatten.toSeq, staged.drop(nDv).flatten.toSeq)
  }

  private def dvFile(stageDir: String, conf: org.apache.hadoop.conf.Configuration,
      positions: Iterator[InternalRow]): Seq[ManifestFileCommit] = {
    val dir = new Path(stageDir)
    val w = new ManifestDvWriter(ManifestFs.of(dir, conf), dir,
      s"dvstage-${java.util.UUID.randomUUID()}.csv")
    try positions.foreach(r =>
      w.add(r.getUTF8String(0).toString, r.getLong(1), r.getLong(2)))
    catch { case e: Throwable => w.abort(); throw e }
    w.finish().toSeq
  }
}

/** An upsert batch's distinct keys, collected by one Spark job from
  * `keys` (its columns are the key) and matched as an equi-join matches:
  * a key with a null never matches, -0.0 is 0.0 and NaN is NaN. */
private final class ManifestKeySet(keys: org.apache.spark.sql.DataFrame)
  extends Serializable {
  private val types = keys.schema.fields.map(_.dataType)
  private val set = new java.util.HashSet[AnyRef]()
  keys.queryExecution.executedPlan.executeCollect()
    .foreach(r => Option(keyOf(r, 0)).foreach(set.add))

  /** The key in columns `offset` on, or null when one is null; keys compare
    * by `equals` (NaN equals NaN; `+ 0.0` makes -0.0 0.0), composite ones as Java lists. */
  private def keyOf(row: InternalRow, offset: Int): AnyRef = {
    val vs = Array.tabulate[AnyRef](types.length) { i =>
      if (row.isNullAt(offset + i)) null
      else if (types(i) == DoubleType) Double.box(row.getDouble(offset + i) + 0.0d)
      else row.get(offset + i, types(i))
    }
    if (vs.contains(null)) null
    else if (vs.length == 1) vs(0) else java.util.Arrays.asList(vs: _*)
  }

  def contains(row: InternalRow, offset: Int): Boolean =
    Option(keyOf(row, offset)).exists(set.contains)
}
