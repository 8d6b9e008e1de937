package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED row-level operations for manifest tables — the DSv2
  * machinery behind pure-SQL `MERGE INTO`, `UPDATE`, and arbitrary-
  * predicate `DELETE` on a [[ManifestCatalog]] table (merge-on-read):
  *
  *  - Spark's row-level rewrite rules plan a `WriteDelta` over a scan
  *    of THIS operation's pinned snapshot; each matched row arrives at
  *    the [[ManifestDeltaWriter]] as a delete (row id = the connector's
  *    positional identity `(_mf_file, _mf_pos)`, metadata = the row's
  *    line hash) and/or an insert (the full new row);
  *  - deletes become POSITIONAL DELETE VECTOR files — the same
  *    (dataFile, rowOrdinal, lineHash) lines [[ManifestMaintenance]]'s
  *    DELETE/UPSERT stage, through the same [[ManifestDvWriter]] — and
  *    inserts stream through the sink's own fan-out writer
  *    (identity-partitioned tables keep their SPJ layout);
  *  - the driver commit publishes BOTH in ONE manifest version through
  *    the connector's one commit step ([[ManifestCommit]]), so readers
  *    see the merge atomically; no data file is ever rewritten
  *    ([[ManifestMaintenance.compact]] later applies the vectors
  *    physically, conservation-checked via the lineHash term each
  *    delete carries).
  *
  * SNAPSHOT ISOLATION with loud conflict aborts: the operation pins
  * the table's latest committed version at creation, scans exactly
  * that version, and the commit re-verifies under the lock that no
  * other commit landed since — positions scanned against an older
  * snapshot must never be applied to a newer one (a concurrent
  * append's rows would silently escape the merge; a concurrent
  * compaction would invalidate every row position). Updates are
  * represented as delete + reinsert, so the writer needs only two
  * verbs and an updated row moves files like any other insert.
  */
private[graft] class ManifestRowLevelOperation(
    dir: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command, partitionBy: Option[String])
  extends SupportsDelta {

  /** The snapshot this whole operation reads and must still be the
    * head at commit time (0 = empty table, no manifest yet). */
  private[sources] val snapshotV: Long = ManifestRead.latestVersion(dir)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestReadTable(dir,
      if (snapshotV > 0) Some(snapshotV) else None, tableSchema)
      .newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new ManifestDeltaWrite(dir, info.schema(), snapshotV, partitionBy)
    }

  /** Positional row identity — the pair every delete vector keys on. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_mf_file"), Expressions.column("_mf_pos"))

  /** The deleted row's line hash rides along as metadata: it is the
    * exact term compaction's checksum-conservation guard subtracts. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_mf_linehash"))

  /** UPDATE = DELETE + REINSERT: the two verbs the merge-on-read
    * format has (a new value always lands in a new file). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String =
    s"ManifestRowLevelOperation($cmd, $dir@v$snapshotV)"
}

private class ManifestDeltaWrite(dir: String, dataSchema: StructType,
    snapshotV: Long, partitionBy: Option[String])
  extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new ManifestDeltaBatchWrite(dir, dataSchema, snapshotV, partitionBy)
  override def description(): String = s"ManifestDeltaWrite($dir@v$snapshotV)"
}

private class ManifestDeltaBatchWrite(dir: String, dataSchema: StructType,
    snapshotV: Long, partitionBy: Option[String])
  extends DeltaBatchWrite {

  private val writeId = java.util.UUID.randomUUID().toString
  private def tmpDirName = s"_tmp-$writeId"

  private val hadoopConf = ShippedConf()

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new ManifestDeltaWriterFactory(dir, writeId, dataSchema, hadoopConf,
      partitionBy)

  /** Atomic merge publish through the one commit step
    * ([[ManifestCommit]]): the pinned snapshot must still be the head;
    * the delete vectors and insert files move in, and one manifest
    * version carries the previous entries verbatim (cols/stats/pv —
    * file skipping and SPJ must survive DML) plus the new ones. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val table = new Path(dir)
    val fs = ManifestFs.of(table, hadoopConf.value)
    val tmp = new Path(table, tmpDirName)
    val commits = messages.toSeq.collect {
      case m: ManifestDeltaCommit => m
    }
    val dataCommits = commits.flatMap(_.data).filter(_.rows > 0)
    val dvCommits = commits.flatMap(_.dvs).filter(_.rows > 0)
    if (dataCommits.isEmpty && dvCommits.isEmpty) {
      fs.delete(tmp, true)
      return
    }
    ManifestCommit(fs, table, writeId, "ManifestRowLevel", Some(tmp)) { snap =>
      // snapshot-isolation conflict check: ANY commit since this
      // operation's scan snapshot invalidates it — an append's rows
      // escaped the merge condition, a compaction/delete moved row
      // positions. Abort loudly; the statement can simply be retried.
      if (snap.version != snapshotV)
        throw new IllegalStateException(
          s"ManifestRowLevel: concurrent commit at $dir (snapshot v$snapshotV " +
            s"is no longer the head v${snap.version}) — the merge read a " +
            "stale snapshot; retry the statement")
      Some(ManifestCommit.Change(snap.entries, snap.dvs, snap.epochs,
        dataCommits, dvCommits))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = ManifestFs.of(new Path(dir), hadoopConf.value)
    fs.delete(new Path(new Path(dir), tmpDirName), true)
  }
}

/** Data-file commits (inserts, via the sink's own fan-out writer) plus
  * delete-vector commits of one task. */
private[graft] case class ManifestDeltaCommit(
    data: Seq[ManifestFileCommit], dvs: Seq[ManifestFileCommit])
  extends WriterCommitMessage

private class ManifestDeltaWriterFactory(dir: String, writeId: String,
    dataSchema: StructType, hadoopConf: ShippedConf,
    partitionBy: Option[String])
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // inserts ride the sink's own fan-out DataWriter (stats, Blooms,
      // string bounds, identity-partition pv fan-out — everything a
      // plain INSERT gets, updates get too)
      private val insertWriter =
        new ManifestWriterFactory(dir, s"_tmp-$writeId", dataSchema,
          hadoopConf, partitionBy).createWriter(partitionId, taskId)
      // one positional delete-vector stage file per task
      private val dv = new ManifestDvWriter(
        ManifestFs.of(new Path(dir), hadoopConf.value),
        new Path(new Path(dir), s"_tmp-$writeId"),
        f"dvstage-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.csv")

      // id = (_mf_file, _mf_pos) in rowId() order; metadata = (_mf_linehash)
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        dv.add(id.getUTF8String(0).toString, id.getLong(1), metadata.getLong(0))

      override def insert(row: InternalRow): Unit = insertWriter.write(row)

      /** Reinsert = the insert half of an update (metadata of the OLD
        * row is irrelevant to where the NEW value lands). */
      override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
        insert(row)

      override def update(metadata: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "ManifestRowLevel: updates are represented as delete+reinsert " +
            "(representUpdateAsDeleteAndInsert=true); update() must not be called")

      override def commit(): WriterCommitMessage = {
        val dvFile = dv.finish()
        val dataFiles = insertWriter.commit() match {
          case ManifestWriteMessage(files) => files
          case other => throw new IllegalStateException(
            s"ManifestRowLevel: unexpected insert commit $other")
        }
        ManifestDeltaCommit(dataFiles, dvFile.toSeq)
      }

      override def abort(): Unit = {
        dv.abort()
        insertWriter.abort()
      }

      override def close(): Unit = {
        dv.close()
        insertWriter.close()
      }
    }
}
