package graft.sources

import org.apache.hadoop.fs.Path

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
    * lineHash) lines, staged distributed through [[ManifestDvWriter]] —
    * and a new manifest version carries the data
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
    * Concurrency: the scan runs outside the lock; the publish takes
    * `_commit.lock`, then verifies the scanned data files AND the dv
    * set are unchanged (an append is fine — its new files can't match
    * a scan that never saw them — but a compaction/truncate/delete
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
    * row, never re-deletes the same position). Returns
    * (supersededRows, upsertedRows). */
  def upsert(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String, keyCols: Seq[String],
      updates: org.apache.spark.sql.DataFrame,
      epoch: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val cols = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      .fieldNames.toSeq
    val tbl = spark.read.format("graft.sources.ManifestSource")
      .schema(schemaDdl).option("path", path)
      .option("metadata", "true").load()
    // superseded rows: key-match against the incoming batch (left-semi
    // equi-join — shuffles on the key only, never materializes values)
    val matched = tbl
      .join(updates.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
      .selectExpr("_mf_file", "_mf_pos", "_mf_linehash")
    mutate(spark, path, matched, Some(updates.select(cols.map(col): _*)),
      "upsert", epoch)
  }

  /** Shared merge-on-read mutation: record `matchedPos` rows —
    * (_mf_file, _mf_pos, _mf_linehash) of rows to supersede — as new
    * delete vectors, optionally append `inserts` as new data files,
    * and publish BOTH in one manifest version. Scans/writes run
    * distributed OUTSIDE the lock; the publish takes `_commit.lock`
    * and verifies the data-file set and dv list are unchanged since
    * the scan (appends are fine; rewrites/deletes invalidate positions
    * — abort loudly, retry). Returns (deletedRows, insertedRows). */
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
      epoch: Option[(String, Long)] = None): (Long, Long) = {
    val dir = new Path(path)
    val fs = ManifestFs.of(dir, spark.sessionState.newHadoopConf())
    val before = ManifestRead.files(path, "manifest.json")
    val beforeDvs = ManifestRead.dvs(path, "manifest.json")
    val tag = java.util.UUID.randomUUID()
    val scratchDv = s"$path/_tmp-$opName-dv-$tag"
    val scratchIns = s"$path/_tmp-$opName-ins-$tag"
    def cleanup(): Unit = {
      fs.delete(new Path(scratchDv), true)
      fs.delete(new Path(scratchIns), true)
    }
    try {
      // one staged dv file per task that matched anything
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val dvParts = matchedPos.queryExecution.toRdd.mapPartitions { it =>
        val stage = new Path(scratchDv)
        val w = new ManifestDvWriter(ManifestFs.of(stage, conf.value), stage,
          s"dvstage-${java.util.UUID.randomUUID()}.csv")
        try it.foreach(r =>
          w.add(r.getUTF8String(0).toString, r.getLong(1), r.getLong(2)))
        catch { case e: Throwable => w.abort(); throw e }
        w.finish().iterator
      }.collect().toSeq
      val deleted = dvParts.map(_.rows).sum
      val insEntries: Seq[ManifestEntry] = inserts match {
        case None => Nil
        case Some(df) =>
          df.write.format("graft.sources.ManifestSink")
            .option("path", scratchIns).mode("append").save()
          readEntries(fs, new Path(scratchIns, "manifest.json"))
            .filter(_.rows > 0)
      }
      val inserted = insEntries.map(_.rows).sum
      if (deleted == 0 && inserted == 0) { cleanup(); return (0L, 0L) }
      // ---- publish under the commit lock (shared ManifestLock
      // protocol: stale takeover + ownership re-verify)
      try ManifestLock.withLock(fs, dir, s"$opName-$tag",
        "ManifestMaintenance") {
        // EPOCH GUARD first (streaming CDC apply): a replayed epoch's
        // rows are already merged — its scratch output is discarded
        // BEFORE the staleness check (the replay's positions are
        // legitimately stale against the post-commit state)
        val lockTxt = ManifestRead.manifestText(path, "manifest.json")
        val prevEpochs = ManifestRead.streamEpochs(lockTxt)
        val isReplay = epoch.exists { case (qid, e) =>
          prevEpochs.get(qid).exists(_ >= e)
        }
        if (isReplay) { cleanup(); return (0L, 0L) }
        val now = ManifestRead.files(path, "manifest.json")
        val nowDvs = ManifestRead.dvs(path, "manifest.json")
        if (!before.map(_._1).toSet.subsetOf(now.map(_._1).toSet) ||
          nowDvs.map(_._1) != beforeDvs.map(_._1))
          throw new IllegalStateException(
            s"ManifestMaintenance: concurrent rewrite/delete changed " +
              s"$path during the $opName scan — positions are stale; retry")
        // move position files in under dv- names, insert files as-is
        // (task-uuid names can't collide with committed files)
        val movedDvs = dvParts.zipWithIndex.map { case (c, i) =>
          val dvName = s"dv-$tag-$i.csv"
          if (!fs.rename(new Path(s"$scratchDv/${c.file}"), new Path(dir, dvName)))
            throw new java.io.IOException(
              s"ManifestMaintenance: failed to move delete vector ${c.file}")
          (dvName, c.rows, c.checksum)
        }
        insEntries.foreach { e =>
          if (!fs.rename(new Path(s"$scratchIns/${e.file}"), new Path(dir, e.file)))
            throw new java.io.IOException(
              s"ManifestMaintenance: failed to move inserted file ${e.file}")
        }
        val allDvs = nowDvs ++ movedDvs
        // carry the table's entries forward VERBATIM (cols/stats
        // included — file skipping must survive DML) + the inserts'
        // own sink-written entries
        val nowEntries = ManifestRead.entriesOfText(lockTxt)
        val dataEntries = (nowEntries ++ insEntries)
          .sortBy(_.file).map(ManifestRead.render)
        ManifestFs.publish(fs, dir, ManifestRead.latestVersion(path) + 1,
          s"""{"total_rows":${now.map(_._2).sum + inserted},""" +
            s""""files":${dataEntries.mkString("[", ",", "]")},""" +
            s""""deletes":${
              allDvs.sortBy(_._1).map { case (n, r, c) =>
                s"""{"dv":"$n","rows":$r,"checksum":$c}"""
              }.mkString("[", ",", "]")}""" +
            // a DML commit must not lose the streaming exactly-once
            // ledger, and a CDC-apply commit advances its own entry
            ManifestRead.renderEpochs(
              prevEpochs ++ epoch.map { case (q, e) => q -> e }) +
            "}", "ManifestMaintenance")
        cleanup()
        (deleted, inserted)
      } catch { case e: Throwable =>
        cleanup()
        throw e
      }
    } catch { case e: Throwable =>
      cleanup()
      throw e
    }
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
    var prevFiles = ManifestRead.files(path, s"manifest-v$fromV.json")
      .map(_._1).toSet
    var prevDvs = ManifestRead.dvs(path, s"manifest-v$fromV.json")
      .map(_._1).toSet
    val insertsByV = Seq.newBuilder[(Long, Seq[String])]
    val dvsByV = Seq.newBuilder[(Long, Seq[String])]
    ((fromV + 1) to toV).foreach { v =>
      val m = s"manifest-v$v.json"
      val cur = ManifestRead.files(path, m).map(_._1)
      val curDvs = ManifestRead.dvs(path, m).map(_._1)
      if (!ManifestRead.isCompaction(path, m)) {
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
    val insertDfs = insertsByV.result().map { case (v, fs) =>
      readFiles(v, fs, withMeta = false)
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
    * through the DSv2 source+sink pair (same order-independent
    * checksums; pending delete vectors are applied —
    * and consumed — by the rewrite), and publishes a new manifest
    * version listing ONLY the compacted files. One task never rewrites
    * more than one group, so compaction parallelism scales with the
    * table instead of collapsing to a single funnel. Old part files
    * stay on disk — every retained version manifest still reads
    * exactly its own snapshot (time travel is untouched) — until
    * [[expireSnapshots]] + [[removeOrphans]] reclaim them.
    *
    * Safety: the distributed rewrite runs OUTSIDE the lock (it can be
    * long); the publish step takes `_commit.lock` and re-reads the
    * manifest — if a concurrent append changed the file set since the
    * rewrite began, it aborts loudly (optimistic concurrency, retry).
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
    * (The bucket writes run one filtered pass per bucket over a pinned
    * localCheckpoint; a range-exchange single-pass write would trade
    * that for sampled, nondeterministic boundaries.)
    *
    * Returns (filesBefore, filesAfter). */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String, schemaDdl: String, targetFiles: Int = 1,
      targetBytes: Long = 0L, clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val dir = new Path(path)
    val fs = ManifestFs.of(dir, spark.sessionState.newHadoopConf())
    val before = ManifestRead.files(path, "manifest.json")
    val beforeDvs = ManifestRead.dvs(path, "manifest.json")
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
    // distributed rewrite into a scratch manifest dir: the sink's own
    // writer produces the part files AND their (rows, checksum) entries
    val scratch = s"$path/_compact-${java.util.UUID.randomUUID()}"
    if (clusterBy.isEmpty) {
      spark.read.format("graft.sources.ManifestSource")
        .schema(schemaDdl).option("path", path)
        .option("groups", groups.map(_.mkString(",")).mkString(";")).load()
        .write.format("graft.sources.ManifestSink")
        .option("path", scratch).mode("append").save()
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
      (0L until k).foreach { b =>
        bucketed.filter(col("__b") === b).drop("__rk", "__b")
          .coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", scratch).mode("append").save()
      }
    }
    val compactedEntries = readEntries(fs, new Path(scratch, "manifest.json"))
    val compacted = compactedEntries.map(e => (e.file, e.rows))
    val compactedChecksums =
      compactedEntries.map(e => e.file -> e.checksum).toMap
    // ---- publish under the commit lock (shared ManifestLock
    // protocol: stale takeover + ownership re-verify)
    try ManifestLock.withLock(fs, dir,
      s"compact-${java.util.UUID.randomUUID()}", "ManifestMaintenance") {
      val now = ManifestRead.files(path, "manifest.json")
      val nowDvs = ManifestRead.dvs(path, "manifest.json")
      if (now.map(_._1).toSet != before.map(_._1).toSet ||
        nowDvs.map(_._1) != beforeDvs.map(_._1)) {
        fs.delete(new Path(scratch), true)
        throw new IllegalStateException(
          s"ManifestMaintenance: concurrent commit changed $path during " +
            "compaction — rewrite is stale; retry")
      }
      val beforeChecksums = readChecksums(fs, new Path(dir, "manifest.json"))
      // Conservation, NET of pending deletes: a pure rewrite preserves
      // every surviving row, so rows must match gross − deleted and the
      // order-independent checksum must match the before-sum minus the
      // deleted rows' line hashes (recorded per-row in the dvs exactly
      // for this). With no dvs both reduce to strict equality.
      val dvRows = nowDvs.map(_._2).sum
      val dvHashSum = dvLineHashSum(fs, dir, nowDvs.map(_._1))
      // The CHECKSUM leg of the guard holds only when every input file
      // shares the rewrite's column layout: rewriting an older-schema
      // file re-renders its lines (added columns materialize as empty
      // trailing fields), so line hashes legitimately change. The ROW
      // conservation leg always holds.
      val schemaCols = org.apache.spark.sql.types.StructType
        .fromDDL(schemaDdl).fieldNames.mkString(",")
      val homogeneous = readEntries(fs, new Path(dir, "manifest.json"))
        .forall(e => e.cols.forall(_ == schemaCols))
      require(
        now.map(_._2).sum - dvRows == compacted.map(_._2).sum &&
          (!homogeneous || beforeChecksums.values.sum - dvHashSum ==
            compactedChecksums.values.sum),
        s"ManifestMaintenance: compaction conservation check failed at " +
          s"$path (rows ${now.map(_._2).sum} - $dvRows deleted -> " +
          s"${compacted.map(_._2).sum}, " +
          s"checksum ${beforeChecksums.values.sum} - $dvHashSum -> " +
          s"${compactedChecksums.values.sum}) — aborting publish")
      compacted.foreach { case (name, _) =>
        if (!fs.rename(new Path(s"$scratch/$name"), new Path(dir, name)))
          throw new java.io.IOException(
            s"ManifestMaintenance: failed to move compacted file $name")
      }
      val entries = compactedEntries.sortBy(_.file)
        .map(ManifestRead.render).mkString("[", ",", "]")
      val total = compacted.map(_._2).sum
      // "compaction":true = a PURE REWRITE (dataChange=false in Delta
      // terms): the streaming tail must NOT re-emit these files as new
      val body = s"""{"total_rows":$total,"compaction":true,""" +
        s""""files":$entries""" +
        ManifestRead.renderEpochs(ManifestRead.streamEpochs(
          ManifestRead.manifestText(path, "manifest.json"))) + "}"
      ManifestFs.publish(fs, dir, ManifestRead.latestVersion(path) + 1, body,
        "ManifestMaintenance")
      fs.delete(new Path(scratch), true)
      (before.length, compacted.length)
    } catch { case e: Throwable =>
      // a failed publish must not strand the scratch dir; any files
      // already moved in are unreferenced and removeOrphans reclaims
      // them (the manifest was never swapped, so no reader sees them)
      fs.delete(new Path(scratch), true)
      throw e
    }
  }

  /** Orphan-file cleanup (the remove_orphan_files analog): deletes
    * `part-*` data files and `dv-*` delete vectors referenced by NO surviving manifest — neither
    * the current one nor any retained `manifest-v{n}.json` — plus
    * crashed writers' `_tmp-*` staging dirs and crashed compactions'
    * `_compact-*` scratch dirs older than 10 minutes.
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
      val referenced = manifests.flatMap(m =>
        ManifestRead.files(path, m).map(_._1) ++
          ManifestRead.dvs(path, m).map(_._1)).toSet
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
          // dataset in its scratch dir; a LIVE compaction never holds
          // a scratch dir past its lock-protected publish, so the age
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

  /** file -> checksum entries of one manifest. */
  private def readChecksums(
      fs: org.apache.hadoop.fs.FileSystem, mp: Path): Map[String, Long] =
    readEntries(fs, mp).map(e => e.file -> e.checksum).toMap

  /** Full data-file entries of one manifest at an explicit fs path
    * (scratch manifests live outside the table dir). */
  private def readEntries(
      fs: org.apache.hadoop.fs.FileSystem, mp: Path): Seq[ManifestEntry] = {
    val in = fs.open(mp)
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    ManifestRead.entriesOfText(txt)
  }
}
