package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSource V2 WRITE path: a parquet sink with an atomic manifest
  * commit — the connector-side half of the source story
  * (SynthEventsSource covers reads). The point is the two-phase commit
  * protocol every production sink implements:
  *
  *  - each task's [[DataWriter]] streams rows to a UNIQUELY-NAMED temp
  *    file under a PER-JOB temp dir (`_tmp-<writeId>/`) and returns
  *    (file, rows, checksum) as its commit message — task retries /
  *    speculation produce distinct temp files, never clobbering each
  *    other, and concurrent jobs never share a temp dir;
  *  - the driver's [[BatchWrite.commit]] runs once with the messages of
  *    the WINNING task attempts only and hands exactly those files to
  *    the connector's one commit step, [[ManifestCommit]]: under
  *    `_commit.lock` it moves them into place and publishes
  *    `manifest.json` (per-file rows/checksum + total) LAST, so a
  *    reader that requires the manifest sees either the complete
  *    committed write or nothing; the temp dir goes with the commit;
  *  - abort deletes the job's temp dir — losers and failures leave no
  *    visible state.
  *
  * All I/O goes through the Hadoop [[FileSystem]] API, resolved by
  * [[ManifestFs]], so the path may be any Hadoop-visible filesystem
  * (file:/, hdfs:/, s3a:/ …) shared by driver and executors — executors
  * resolve the filesystem from the cluster's default Hadoop
  * configuration. Concurrent commits to the same path (this sink, SQL
  * DML, maintenance) serialize on [[ManifestLock]]: a second committer
  * arriving while the lock is held FAILS LOUDLY rather than silently
  * losing the other commit's manifest entries, and a crashed driver's
  * lock is taken over after 10 minutes. The manifest is published by
  * [[ManifestFs.publish]]: never torn, and on local paths never missing
  * either (elsewhere a reader racing a commit can find it missing for
  * an instant).
  *
  * Data files are parquet, the connector's only data-file format
  * ([[ManifestParquet]]); a `format` option asking for anything else
  * fails loudly. Row identity is the hash of each row's canonical CSV
  * rendering ([[ManifestSink.appendField]] per field): a hash input,
  * not a file format — `_mf_linehash`, delete vectors and the file
  * checksum (an order-independent sum of line hashes, so file-internal
  * row order never matters) are all defined over it.
  *
  * Usage: df.write.format("graft.sources.ManifestSink")
  *   .option("path", dir).mode("append").save()
  */
class ManifestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only: schema comes from the dataframe

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("ManifestSink requires option 'path'"))
    new ManifestTable(path, schema)
  }
}

private[graft] object ManifestSink {
  /** String field of the canonical row rendering (quote `"`, escape
    * `\`). CR/LF are escaped as the two-char sequences `\r`/`\n`, so a
    * rendering is ONE line and [[ManifestDialect.splitCsv]] inverts it:
    * distinct rows never share a rendering. */
  def csvField(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r' || c == '\\'))
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r") + "\""
    else v

  // Value kinds of the types ManifestParquet stores, as int tags so the
  // per-row loops on both sides (the sink's write pass, the reader's
  // filters and line hash) dispatch without DataType pattern matches.
  final val KLong = 0
  final val KInt = 1
  final val KStr = 2
  final val KTs = 3 // session-UTC epoch MICROSECONDS, long-backed
  final val KDec = 4
  final val KBool = 5
  final val KDbl = 6

  def kindOf(dt: DataType): Int = dt match {
    case LongType => KLong
    case IntegerType => KInt
    case StringType => KStr
    case TimestampType => KTs
    case _: DecimalType => KDec
    case BooleanType => KBool
    case DoubleType => KDbl
    case _ => throw new UnsupportedOperationException(
      s"Manifest connector: unsupported column type $dt")
  }

  /** Appends NON-NULL field `i` of `row` (of kind `kind`; precision and
    * scale matter for decimals only) in the canonical row rendering —
    * the ONE definition of a row's identity: the sink's file checksum
    * and the reader's `_mf_linehash` both build lines with it (fields
    * comma-joined in file column order, a NULL field empty). Longs,
    * ints and timestamps (epoch micros) as integer digits, doubles as
    * `Double.toString`, booleans as true/false, decimals scale-stable
    * and plain ("12.30", never scientific notation), strings through
    * [[csvField]]. */
  def appendField(sb: java.lang.StringBuilder, row: SpecializedGetters,
      i: Int, kind: Int, prec: Int, scale: Int): Unit = kind match {
    case KLong | KTs => sb.append(row.getLong(i))
    case KInt => sb.append(row.getInt(i))
    case KStr => sb.append(csvField(row.getUTF8String(i).toString))
    case KDec =>
      sb.append(row.getDecimal(i, prec, scale).toJavaBigDecimal.toPlainString)
    case KBool => sb.append(row.getBoolean(i))
    case KDbl => sb.append(row.getDouble(i))
  }

  /** The lock at `lock` must still carry exactly `myBody` — a
    * different (or unreadable) body means a racing committer clobbered
    * our freshly-created lock after reading a stale view of its
    * predecessor. Throws IllegalStateException; the caller must then
    * abort WITHOUT deleting the (now foreign) lock. */
  private[graft] def verifyLockOwnership(
      f: FileSystem, lock: Path, myBody: String, path: String): Unit = {
    val onDisk =
      try readFully(f.open(lock)) catch { case _: java.io.IOException => "" }
    if (onDisk != myBody)
      throw new IllegalStateException(
        s"ManifestSink: lost the commit lock at $path to a concurrent " +
          s"committer [$onDisk] — aborting this commit; retry it")
  }

  /** Parquet is the only data-file format: a request for any other
    * (a `format` write option, `USING csv`) fails loudly instead of
    * silently producing a parquet table. */
  private[graft] def requireParquet(format: Option[String], what: String): Unit =
    format.filterNot(_.equalsIgnoreCase("parquet")).foreach { f =>
      throw new IllegalArgumentException(
        s"$what: data files are parquet only; format '$f' is not supported")
    }

  /** The first `limit` bytes of `in` (all of it by default) as UTF-8;
    * closes `in`. Loops: a read may legally return fewer bytes than
    * asked (common on HDFS/S3), and a short read must never truncate. */
  private[graft] def readFully(in: java.io.InputStream,
      limit: Int = Int.MaxValue): String =
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = 0
      while (buf.size < limit &&
        { n = in.read(chunk, 0, math.min(chunk.length, limit - buf.size)); n > 0 })
        buf.write(chunk, 0, n)
      buf.toString("UTF-8")
    } finally in.close()
}

/** Exclusive `_commit.lock` acquisition: [[ManifestCommit]] takes it
  * for every manifest publisher (batch/streaming sink, row-level DML,
  * maintenance DML, compaction); snapshot expiry, the orphan sweep and
  * the catalog's ALTER TABLE take it directly. One protocol everywhere:
  * create-exclusive with an `(epoch-millis owner)` body; a lock older than the 10-minute staleness bound (a crashed
  * driver — commits take seconds, not minutes) is broken automatically
  * via an atomic RENAME to an owner-unique tombstone (of two committers
  * that both read the same stale body, exactly one wins the rename and
  * re-creates the lock; the loser's rename fails — source gone — and it
  * fails loudly; an unconditional delete here would be check-then-act:
  * the loser could delete the winner's FRESH lock and both would enter
  * the manifest read-merge-write silently); a FRESH lock still fails
  * loudly with its age and owner in the message.
  *
  * On local paths the exclusive create is atomic: [[ManifestFs]] opens
  * the lock with `CREATE_NEW`, so of racing committers exactly one
  * holds it and the others fail loudly. Other schemes get their Hadoop
  * filesystem's `create(overwrite = false)`, which is atomic on HDFS
  * but may be check-then-create elsewhere (object stores). So on every
  * scheme ownership is re-verified after the create as a second line of
  * defense: if a racing committer clobbered ours between create and
  * verify, the commit aborts BEFORE touching the manifest and leaves
  * the clobberer's lock alone. */
private[graft] object ManifestLock {
  private val staleMs = 10 * 60 * 1000L

  /** Runs `body` while holding `dir/_commit.lock`. `owner` must be
    * unique per attempt (a writeId) — it tags the lock body for
    * diagnostics and the takeover tombstone for atomicity. `what`
    * prefixes error messages. The lock is removed on exit only while
    * still owned (never deletes a foreign lock). */
  def withLock[T](f: FileSystem, dir: Path, owner: String, what: String)
      (body: => T): T = {
    f.mkdirs(dir)
    val lock = new Path(dir, "_commit.lock")
    def tryLock(): java.io.OutputStream =
      try f.create(lock, false) catch { case _: java.io.IOException => null }
    var lockStream = tryLock()
    if (lockStream == null) {
      val lockBody =
        try ManifestSink.readFully(f.open(lock))
        catch { case _: java.io.IOException => "" }
      val heldSince = lockBody.split(' ').headOption.flatMap(s =>
        scala.util.Try(s.toLong).toOption)
      val ageMs = heldSince.map(System.currentTimeMillis() - _)
      if (ageMs.exists(_ > staleMs)) {
        val tombstone = new Path(dir, s"_commit.lock.stale-$owner")
        if (f.rename(lock, tombstone)) {
          f.delete(tombstone, false) // crashed driver's body, no longer needed
          lockStream = tryLock()
        }
      }
      if (lockStream == null)
        throw new IllegalStateException(
          s"$what: concurrent commit in flight at $dir " +
            s"(_commit.lock held${ageMs.map(a => s" for ${a / 1000}s").getOrElse("")}" +
            s"${if (lockBody.nonEmpty) s" by [$lockBody]" else ""}); retry after " +
            "it completes, or delete the lock if a crashed driver left it behind")
    }
    var ownsLock = true
    try {
      val myBody = s"${System.currentTimeMillis()} $owner"
      lockStream.write(myBody.getBytes("UTF-8"))
      lockStream.close()
      try ManifestSink.verifyLockOwnership(f, lock, myBody, dir.toString)
      catch { case e: IllegalStateException => ownsLock = false; throw e }
      body
    } finally if (ownsLock) f.delete(lock, false)
  }
}

private class ManifestTable(path: String, writeSchema: StructType)
  extends Table with SupportsWrite {
  override def name(): String = s"manifest_sink($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        val t = doTruncate
        val pBy = Option(info.options.get("partitionBy")).filter(_.nonEmpty)
        ManifestSink.requireParquet(Option(info.options.get("format")),
          "ManifestSink")
        new Write {
          override def toBatch: BatchWrite =
            new ManifestBatchWrite(path, info.schema(), t, pBy)
          // exactly-once STREAMING sink: each micro-batch commits as
          // one manifest version, idempotent by (queryId, epochId) —
          // the manifest records the last committed epoch per query,
          // so a post-failure replay of an already-committed batch
          // skips cleanly instead of duplicating rows. APPEND-only:
          // complete/truncate mode would have to rewrite the table
          // every batch — refuse loudly rather than silently append.
          override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (t) throw new UnsupportedOperationException(
              "ManifestSink streaming writes are append-only " +
                "(outputMode complete/update with truncate is not supported)")
            new ManifestStreamingWrite(path, info.schema(),
              info.queryId(), pBy)
          }
        }
      }
    }
}

/** One committed data file (a task may produce several under
  * identity-partition fan-out). */
private[graft] case class ManifestFileCommit(file: String, rows: Long,
    checksum: Long, cols: String = "", stats: String = "",
    pv: Option[Long] = None, pt: Option[String] = None,
    // staged file's on-disk length (-1 = unknown), recorded into the
    // manifest so scan statistics never stat data files at plan time
    bytes: Long = -1L,
    // per-row-group metadata JSON ("" = none): multi-row-group parquet
    // files record each group's (rows, byte range, zone maps) so the
    // planner splits AND SKIPS inside one fat file
    rgs: String = "",
    // multi-transform partitioning: pipe-joined partition-value tuple
    // and transform list ("" = single or none; see ManifestFileWriter)
    pvs: String = "", pts: String = "")

private case class ManifestWriteMessage(files: Seq[ManifestFileCommit])
  extends WriterCommitMessage

/** Streaming face of the sink: same commit protocol, plus the epoch
  * guard. Spark re-runs the last un-committed micro-batch after a
  * restart and may re-invoke commit for an epoch the sink already
  * published (the failure happened AFTER the manifest swap, BEFORE the
  * checkpoint commit) — the manifest's own `streamEpochs` record makes
  * that replay a no-op, which is the whole exactly-once contract for a
  * DSv2 streaming sink. */
private class ManifestStreamingWrite(path: String, schema: StructType,
    queryId: String, partitionBy: Option[String] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
  private val core =
    new ManifestBatchWrite(path, schema, truncate = false, partitionBy)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    core.writerFactory

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    core.commitCore(messages, s"_tmp-${core.writeId}-$epochId",
      Some((queryId, epochId)))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    core.abortTmp(s"_tmp-${core.writeId}-$epochId")
}

private class ManifestBatchWrite(path: String, schema: StructType,
    truncate: Boolean, partitionBy: Option[String] = None)
  extends BatchWrite {

  // one temp namespace per write job: concurrent appends to the same
  // path never see (or clean up) each other's in-flight files
  private[sources] val writeId = java.util.UUID.randomUUID().toString

  private val hadoopConf = ShippedConf()

  private def fs(): FileSystem =
    ManifestFs.of(new Path(path), hadoopConf.value)

  private[sources] def writerFactory: ManifestWriterFactory =
    new ManifestWriterFactory(path, s"_tmp-$writeId", schema, hadoopConf,
      partitionBy)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = writerFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commitCore(messages, s"_tmp-$writeId", None)

  /** Shared commit path, through the one commit step
    * ([[ManifestCommit]]). `epoch` = Some((queryId, epochId)) for a
    * streaming micro-batch commit: the previous manifest's
    * `streamEpochs` entry decides idempotence (an epoch at or below
    * the last committed one is a checkpoint replay — its files are
    * discarded and nothing publishes). */
  private[sources] def commitCore(messages: Array[WriterCommitMessage],
      tmpDirName: String, epoch: Option[(String, Long)]): Unit = {
    val f = fs()
    val dir = new Path(path)
    val files =
      messages.toSeq.flatMap(_.asInstanceOf[ManifestWriteMessage].files)
    ManifestCommit(f, dir, writeId, "ManifestSink",
      Some(new Path(dir, tmpDirName))) { snap =>
      if (epoch.exists { case (qid, e) => snap.epochs.get(qid).exists(_ >= e) })
        None // a checkpoint replay: the rows are already in the table
      else if (truncate) {
        // Overwrite (SupportsTruncate): the previous files vanish, and
        // HISTORY with them (the expire-snapshots analog) — version
        // manifests reference the deleted part files. Stream epoch
        // records die too: a truncated table is a new table. Version
        // numbers stay monotonic across the truncate (the snapshot
        // listed them before this purge).
        f.listStatus(dir).filter { st =>
          val n = st.getPath.getName
          n.startsWith("part-") || n.startsWith("dv-") ||
            n == "manifest.json" ||
            (n.startsWith("manifest-v") && n.endsWith(".json"))
        }.foreach(st => f.delete(st.getPath, false))
        Some(ManifestCommit.Change(Nil, Nil, Map.empty, files))
      } else
        // append: every committed entry and delete vector carries
        // forward, so the manifest always describes the full content
        Some(ManifestCommit.Change(snap.entries, snap.dvs,
          snap.epochs ++ epoch, files))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    abortTmp(s"_tmp-$writeId")

  private[sources] def abortTmp(tmpDirName: String): Unit = {
    val f = fs()
    f.delete(new Path(new Path(path), tmpDirName), true)
  }
}

/** The sink's data-file writers, staging into `path/stageName`. */
private[sources] class ManifestWriterFactory(path: String, stageName: String,
    schema: StructType,
    hadoopConf: ShippedConf,
    partitionBy: Option[String] = None)
  extends DataWriterFactory
  with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, stageName)

  // streaming face: each EPOCH stages into its own temp dir, so a
  // micro-batch commit moves (and cleans) exactly its own files
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, s"$stageName-$epochId")

  /** Writes all of `rows` in the calling task (one data file, or one
    * per partition value) and returns their commits; on failure the
    * task's files are deleted. */
  def writeAll(rows: Iterator[InternalRow]): Seq[ManifestFileCommit] = {
    val ctx = org.apache.spark.TaskContext.get()
    val w = createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      rows.foreach(w.write)
      w.commit().asInstanceOf[ManifestWriteMessage].files
    } catch { case e: Throwable => w.abort(); throw e }
    finally w.close()
  }

  private def createWriter(partitionId: Int, taskId: Long,
      tmpDirName: String): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fs = ManifestFs.of(new Path(path), hadoopConf.value)
      private val tmpDir = new Path(new Path(path), tmpDirName)
      fs.mkdirs(tmpDir)
      // identity-partition FAN-OUT (sink option "partitionBy", a BIGINT
      // column): each distinct partition value this task sees writes
      // its own file, whose manifest entry records the value — the
      // Iceberg fan-out writer. Rows with a NULL partition value fall
      // into an un-keyed file (no pv recorded), which conservatively
      // disables partition grouping for the whole table. Without the
      // option there is exactly one (un-keyed) file per task. Files
      // are created LAZILY on first row, so empty tasks commit nothing.
      private val pSpecs: Seq[ManifestPartSpec] =
        partitionBy.map(ManifestPartSpec.parseMulti).getOrElse(Nil)
      private val pIdxs: Seq[Int] = pSpecs.map { sp =>
        val i = schema.fieldIndex(sp.col)
        require(schema(i).dataType == LongType,
          s"ManifestSink partitionBy column ${sp.col} must be BIGINT, " +
            s"got ${schema(i).dataType.simpleString}")
        i
      }
      // OPEN writers are bounded (MaxOpen), independent of the distinct-
      // value guard below: each open writer holds a live output stream,
      // and with many concurrent tasks an unbounded map would exhaust
      // executor file descriptors before the 1000-value guard tripped.
      // Eviction is LRU (access re-inserts at the tail) and CLOSES the
      // victim's file — a later row for that value simply starts a NEW
      // uniquely-named file (multiple files per value per task are
      // already first-class manifest entries), so no append support is
      // needed from the filesystem.
      private val MaxOpen = 128
      private val parts = scala.collection.mutable.LinkedHashMap
        .empty[Option[Seq[Long]], ManifestFileWriter]
      private val finished =
        scala.collection.mutable.ArrayBuffer.empty[ManifestFileCommit]
      private val seenPvs =
        scala.collection.mutable.HashSet.empty[Option[Seq[Long]]]

      override def write(r: InternalRow): Unit = {
        // multi-transform key = the TUPLE of per-spec values (a NULL in
        // any component falls to the un-keyed file, like single-column)
        val pv: Option[Seq[Long]] =
          if (pIdxs.isEmpty || pIdxs.exists(r.isNullAt)) None
          else Some(pSpecs.zip(pIdxs).map { case (sp, i) =>
            sp.pv(r.getLong(i))
          })
        val w = parts.remove(pv).getOrElse {
          // fan-out guard: identity partitioning is for BOUNDED key
          // domains (buckets, days, shards). A high-cardinality column
          // would scatter one file per distinct value per task — fail
          // loudly before the manifest drowns in entries.
          seenPvs += pv
          require(seenPvs.size <= 1000,
            s"ManifestSink partitionBy=${partitionBy.get}: more than 1000 " +
              "distinct partition values in one task — identity " +
              "partitioning needs a bounded key domain (bucket the column " +
              "first, e.g. pmod(col, N))")
          if (parts.size >= MaxOpen) {
            val lru = parts.head._1
            finished += parts.remove(lru).get.finish()
          }
          new ManifestFileWriter(
            fs, tmpDir,
            f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet",
            schema, pv, if (pv.isDefined) pSpecs else Nil,
            hadoopConf.value)
        }
        parts.put(pv, w) // re-insert at the tail = LRU access order
        w.write(r)
      }

      override def commit(): WriterCommitMessage =
        ManifestWriteMessage(finished.toSeq ++ parts.values.map(_.finish()).toSeq)

      override def abort(): Unit = {
        parts.values.foreach(_.abort())
        // evicted writers already closed their files — delete those too
        finished.foreach(c => fs.delete(new Path(tmpDir, c.file), false))
      }

      override def close(): Unit = parts.values.foreach(_.close())
    }
}

/** Per-file writer state: the parquet writer plus the statistics the
  * reader prunes on — null counts for every column, min/max for
  * NUMERIC columns, truncated UTF-8 byte bounds + a Bloom for STRING
  * columns. A NaN poisons a double column's bounds (dropped, so the
  * reader can never prune on a NaN-tainted range). Stats/cols are only
  * recorded when every column name is a simple identifier (no quoting
  * ambiguity in the manifest JSON). */
private class ManifestFileWriter(
    fs: FileSystem, tmpDir: Path, name: String, schema: StructType,
    pvs: Option[Seq[Long]], pSpecs: Seq[ManifestPartSpec],
    conf: Configuration = new Configuration()) {
  // single-transform files keep the legacy pv/pt manifest fields (every
  // pre-round-15 reader path); multi-transform files record the tuple
  // as pipe-joined pvs/pts
  private val pv: Option[Long] =
    pvs.filter(_ => pSpecs.length == 1).map(_.head)
  private val pt: Option[String] =
    if (pSpecs.length == 1 && pvs.isDefined) Some(pSpecs.head.render)
    else None
  private val pvsStr: String =
    if (pSpecs.length > 1) pvs.map(_.mkString("|")).getOrElse("") else ""
  private val ptsStr: String =
    if (pSpecs.length > 1 && pvs.isDefined)
      pSpecs.map(_.render).mkString("|")
    else ""
  private val pq =
    new ManifestParquet.RowParquetWriter(new Path(tmpDir, name), schema, conf)
  private var rows = 0L
  private var checksum = 0L
  private val safeNames =
    schema.fieldNames.forall(_.matches("[A-Za-z0-9_]+"))
  private val nNulls = new Array[Long](schema.length)
  private val minL = Array.fill(schema.length)(Long.MaxValue)
  private val maxL = Array.fill(schema.length)(Long.MinValue)
  private val minD = Array.fill(schema.length)(Double.PositiveInfinity)
  private val maxD = Array.fill(schema.length)(Double.NegativeInfinity)
  private val sawNum = new Array[Boolean](schema.length)
  private val sawNaN = new Array[Boolean](schema.length)
  // per-file BLOOM over each string column's raw values: prunes
  // string EQUALITY at scan time, where min/max can't (collation)
  private val blooms: Array[Array[Long]] = schema.fields.map {
    case f if f.dataType == StringType =>
      new Array[Long](ManifestBloom.Bits / 64)
    case _ => null
  }
  private val sawStr = new Array[Boolean](schema.length)
  // Iceberg-style truncated BINARY string bounds (UTF-8 byte
  // prefixes, unsigned order = Spark's UTF8String order): sloB is
  // an inclusive lower bound (truncation only lowers a value);
  // shiB bounds the max — the value itself when it fits in T bytes
  // (inclusive), else the byte-successor of its prefix (exclusive,
  // shiX). A value whose prefix is all 0xFF has no successor: the
  // file's upper bound is dropped (shiDead). Lets the reader prune
  // string ranges and prefix probes where the Bloom (equality-only)
  // can't.
  private val sloB = new Array[Array[Byte]](schema.length)
  private val shiB = new Array[Array[Byte]](schema.length)
  private val shiX = new Array[Boolean](schema.length)
  private val shiDead = new Array[Boolean](schema.length)

  private def trackStrBounds(i: Int, v: String): Unit = {
    import ManifestStrBounds._
    val b = utf8(v)
    val t = trunc(b)
    if (sloB(i) == null || cmpB(t, sloB(i)) < 0) sloB(i) = t
    if (!shiDead(i)) {
      val (u, ex) =
        if (b.length <= T) (b, false)
        else succ(t) match {
          case Some(s) => (s, true)
          case None => shiDead(i) = true; (null, false)
        }
      if (!shiDead(i)) {
        if (shiB(i) == null) { shiB(i) = u; shiX(i) = ex }
        else {
          val c = cmpB(u, shiB(i))
          if (c > 0) { shiB(i) = u; shiX(i) = ex }
          // on a tie, inclusive wins: an attained value == bound
          // means the reader must NOT prune `>= bound`
          else if (c == 0 && !ex) shiX(i) = false
        }
      }
    }
  }

  // per-column dispatch precompiled to int tags (ManifestSink.kindOf)
  // so the per-row loop does no DataType pattern matching and allocates
  // no field array / closure
  private val colKind: Array[Int] =
    schema.fields.map(f => ManifestSink.kindOf(f.dataType))
  private val colPrec: Array[Int] = schema.fields.map(_.dataType match {
    case d: DecimalType => d.precision; case _ => 0 })
  private val colScale: Array[Int] = schema.fields.map(_.dataType match {
    case d: DecimalType => d.scale; case _ => 0 })
  private val nFields = schema.length
  private val lineSb = new java.lang.StringBuilder(128)
  // reused per-row value carry between the fused pass and the parquet
  // render pass (strings/decimals are EXTRACTED once; numerics re-read
  // from the row — primitive getters, no allocation)
  private val strVals = new Array[String](nFields)
  private val decVals = new Array[Long](nFields)
  private var curRow: InternalRow = _
  /** Emits EXACTLY GroupWriter's startField/addValue/endField sequence
    * for this row's non-null fields — identical parquet bytes, minus
    * the SimpleGroup materialization (see RowParquetWriter). */
  private val renderRow: org.apache.parquet.io.api.RecordConsumer => Unit =
    rc => {
      val r = curRow
      var i = 0
      while (i < nFields) {
        if (!r.isNullAt(i)) {
          val fn = schema.fields(i).name
          rc.startField(fn, i)
          colKind(i) match {
            case ManifestSink.KLong | ManifestSink.KTs =>
              rc.addLong(r.getLong(i))
            case ManifestSink.KInt => rc.addInteger(r.getInt(i))
            case ManifestSink.KStr => rc.addBinary(
              org.apache.parquet.io.api.Binary.fromString(strVals(i)))
            case ManifestSink.KDec => rc.addLong(decVals(i))
            case ManifestSink.KBool => rc.addBoolean(r.getBoolean(i))
            case ManifestSink.KDbl => rc.addDouble(r.getDouble(i))
          }
          rc.endField(fn, i)
        }
        i += 1
      }
    }

  def write(r: InternalRow): Unit = {
    import ManifestSink._
    // ONE fused pass per row: zone-map / Bloom stats, and the canonical
    // line (the checksum/delete-vector identity, rendered by
    // ManifestSink.appendField) into a reused StringBuilder; the row then
    // streams straight into the record consumer (renderRow above) — no
    // per-row Group.
    val sb = lineSb
    sb.setLength(0)
    var i = 0
    while (i < nFields) {
      if (i > 0) sb.append(',')
      if (r.isNullAt(i)) nNulls(i) += 1 // canonical rendering: empty
      else {
        colKind(i) match {
          case KLong | KTs =>
            // LONG, and session-UTC MICROSECONDS timestamps: the
            // InternalRow long itself is the zone-map bound (total
            // order, no NaN/zone hazards); INT64 in parquet
            val v = r.getLong(i)
            if (v < minL(i)) minL(i) = v
            if (v > maxL(i)) maxL(i) = v
            sawNum(i) = true
          case KInt =>
            val v = r.getInt(i)
            if (v < minL(i)) minL(i) = v.toLong
            if (v > maxL(i)) maxL(i) = v.toLong
            sawNum(i) = true
          case KStr =>
            val v = r.getUTF8String(i).toString
            ManifestBloom.add(blooms(i), v)
            trackStrBounds(i, v)
            sawStr(i) = true
            strVals(i) = v
          case KDec =>
            // unscaled long, INT64(decimal) in parquet. Zone maps track
            // the UNSCALED long (order-preserving at the column's fixed
            // scale — getDecimal normalizes to it) at zero extra cost.
            val u = r.getDecimal(i, colPrec(i), colScale(i)).toUnscaledLong
            if (u < minL(i)) minL(i) = u
            if (u > maxL(i)) maxL(i) = u
            sawNum(i) = true
            decVals(i) = u
          case KBool =>
          case KDbl =>
            val v = r.getDouble(i)
            if (v.isNaN) sawNaN(i) = true
            else {
              // Spark's nanSafeCompareDoubles treats -0.0 == 0.0; the
              // pruner compares with the same semantics, so bounds must
              // be recorded under it too — otherwise a file holding both
              // ±0.0 could record min=0.0 and a pushed `d < 0.0` probe
              // would prune a row the scan should emit. Normalizing the
              // *bound* (not the stored value) keeps primitive </> and
              // Double.compare in agreement for every non-NaN double.
              val b = if (v == 0.0d) 0.0d else v
              if (b < minD(i)) minD(i) = b
              if (b > maxD(i)) maxD(i) = b
              sawNum(i) = true
            }
        }
        appendField(sb, r, i, colKind(i), colPrec(i), colScale(i))
      }
      i += 1
    }
    // order-independent file checksum: sum of per-row line hashes (the
    // CANONICAL rendering, so checksums and delete-vector hashes survive
    // any rewrite that keeps the rows)
    checksum += sb.toString.hashCode.toLong
    rows += 1
    curRow = r
    pq.write(renderRow)
  }

  def finish(): ManifestFileCommit = {
    pq.close()
    // length of the staged file, measured executor-side once per file
    // at write time (amortized), so the driver never has to stat data
    // files when Catalyst asks the scan for statistics
    val len =
      try fs.getFileStatus(new Path(tmpDir, name)).getLen
      catch { case _: java.io.IOException => -1L }
    // multi-row-group parquet: record each group's rows/byte-range/zone
    // maps so the scan planner can split and skip INSIDE the file (from
    // the writer's own footer, executor-side, vs per-scan on the driver)
    val rgJson =
      if (!safeNames) ""
      else {
        val groups = ManifestParquet.rowGroups(pq.footer, schema)
        if (groups.isEmpty) "" else ManifestParquet.renderRgs(groups)
      }
    if (!safeNames)
      return ManifestFileCommit(name, rows, checksum, bytes = len)
    val stats = schema.fields.zipWithIndex.map { case (f, i) =>
      val bounds =
        if (sawNaN(i) || !sawNum(i)) ""
        else f.dataType match {
          case LongType | IntegerType | TimestampType =>
            s""","min":${minL(i)},"max":${maxL(i)}"""
          case DoubleType =>
            s""","min":${minD(i)},"max":${maxD(i)}"""
          case d: DecimalType =>
            // rescale the unscaled-long bounds to the column's plain
            // rendering (a valid JSON number, e.g. -1.50) — the pruner
            // compares them as BigDecimal values
            s""","min":${java.math.BigDecimal.valueOf(minL(i), d.scale)
              .toPlainString},"max":${java.math.BigDecimal
              .valueOf(maxL(i), d.scale).toPlainString}"""
          case _ => ""
        }
      val strBounds =
        if (sawStr(i) && sloB(i) != null) {
          val lo = s""","slo":"${ManifestStrBounds.b64(sloB(i))}""""
          val hi =
            if (shiB(i) != null && !shiDead(i))
              s""","shi":"${ManifestStrBounds.b64(shiB(i))}","shix":${shiX(i)}"""
            else ""
          lo + hi
        } else ""
      val bloom =
        if (blooms(i) != null && sawStr(i))
          s""","bloom":"${ManifestBloom.encode(blooms(i))}""""
        else ""
      s""""${f.name}":{"nulls":${nNulls(i)}$bounds$strBounds$bloom}"""
    }.mkString("{", ",", "}")
    ManifestFileCommit(name, rows, checksum,
      schema.fieldNames.mkString(","), stats, pv, pt, len, rgJson,
      pvsStr, ptsStr)
  }

  def abort(): Unit = {
    pq.close()
    fs.delete(new Path(tmpDir, name), false)
  }

  def close(): Unit = pq.close()
}

/** Stages ONE delete-vector file: a `dataFile,pos,lineHash` line per
  * deleted row (data-file names are the sink's own — no commas or
  * quotes — so lines need no escaping), and a checksum that sums the
  * lines' hashes like a data file's. The file is created on the first
  * row, so a task that deletes nothing stages nothing. The one writer
  * of delete vectors: SQL row-level DML and the maintenance
  * DELETE/UPSERT path both stage through it. */
private[sources] final class ManifestDvWriter(
    fs: FileSystem, dir: Path, name: String) {
  private var out: java.io.PrintWriter = _
  private var rows = 0L
  private var checksum = 0L

  def add(file: String, pos: Long, lineHash: Long): Unit = {
    if (out == null) {
      fs.mkdirs(dir)
      out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        fs.create(new Path(dir, name), true), "UTF-8"))
    }
    val line = s"$file,$pos,$lineHash"
    out.print(line)
    out.print('\n')
    checksum += line.hashCode.toLong
    rows += 1
  }

  /** Closes the file; its commit, or None when no row was added. */
  def finish(): Option[ManifestFileCommit] = {
    close()
    if (rows > 0) Some(ManifestFileCommit(name, rows, checksum)) else None
  }

  def close(): Unit = if (out != null) out.close()

  def abort(): Unit = if (out != null) {
    out.close()
    fs.delete(new Path(dir, name), false)
  }
}
