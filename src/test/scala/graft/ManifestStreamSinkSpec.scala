package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestRead

/** Exactly-once STREAMING WRITES into the manifest connector: each
  * micro-batch is one manifest version, idempotent by (queryId,
  * epochId) via the manifest's own `streamEpochs` ledger. q417 pins the
  * end-to-end restart + forced-replay choreography; this spec pins the
  * ledger's survival through everything else that rewrites the
  * manifest (batch appends, DML, compaction) and its per-query
  * isolation. */
class ManifestStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshBase(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mssink").toString
    new java.io.File(d).delete()
    d
  }

  /** Stage `ks` as one parquet file and drain it into `table` through
    * the streaming sink on checkpoint `ckpt`. */
  private def drain(stage: String, ckpt: String, table: String,
      ks: Seq[Long]): Unit = {
    import spark.implicits._
    if (ks.nonEmpty)
      ks.toDF("k").coalesce(1).write.mode("append").parquet(stage)
    val q = spark.readStream.schema("k LONG").parquet(stage)
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", table).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def readKs(table: String): Seq[Long] =
    spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", table).load()
      .collect().map(_.getLong(0)).sorted.toSeq

  test("epoch ledger survives batch appends, DML, and compaction") {
    import spark.implicits._
    val base = freshBase()
    val (stage, ckpt, table) = (s"$base/st", s"$base/ck", s"$base/tbl")
    drain(stage, ckpt, table, Seq(1L, 2L, 3L))
    val ledger0 = ManifestRead.streamEpochs(
      ManifestRead.manifestText(table, "manifest.json"))
    assert(ledger0.size == 1 && ledger0.values.head == 0L)
    // a BATCH append must carry the ledger forward
    Seq(10L, 11L).toDF("k").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", table).mode("append").save()
    // DML and compaction rebuild the manifest — ledger must survive both
    graft.sources.ManifestMaintenance.delete(spark, table, "k LONG", "k = 2")
    graft.sources.ManifestMaintenance.upsert(spark, table, "k LONG", Seq("k"),
      Seq(3L).toDF("k"))
    graft.sources.ManifestMaintenance.compact(spark, table, "k LONG")
    val ledger = ManifestRead.streamEpochs(
      ManifestRead.manifestText(table, "manifest.json"))
    assert(ledger == ledger0,
      s"ledger changed across append/delete/upsert/compact: $ledger0 -> $ledger")
    assert(readKs(table) == Seq(1L, 3L, 10L, 11L))
    // an upsert tagged with an epoch the ledger already holds is a
    // replay: it merges nothing and publishes no version
    val (qid, e0) = ledger0.head
    val vBefore = ManifestRead.latestVersion(table)
    assert(graft.sources.ManifestMaintenance.upsert(spark, table, "k LONG",
      Seq("k"), Seq(3L, 99L).toDF("k"), epoch = Some((qid, e0))) == ((0L, 0L)))
    assert(ManifestRead.latestVersion(table) == vBefore)
    assert(readKs(table) == Seq(1L, 3L, 10L, 11L))
    // and the stream continues exactly-once AFTER the maintenance
    drain(stage, ckpt, table, Seq(4L))
    assert(readKs(table) == Seq(1L, 3L, 4L, 10L, 11L))
    val after = ManifestRead.streamEpochs(
      ManifestRead.manifestText(table, "manifest.json"))
    assert(after.values.head == 1L, s"epoch should advance: $after")
  }

  test("two stream queries keep independent ledger entries") {
    val base = freshBase()
    val table = s"$base/tbl"
    drain(s"$base/stA", s"$base/ckA", table, Seq(1L))
    drain(s"$base/stB", s"$base/ckB", table, Seq(2L))
    val ledger = ManifestRead.streamEpochs(
      ManifestRead.manifestText(table, "manifest.json"))
    assert(ledger.size == 2, s"one entry per query id: $ledger")
    assert(ledger.values.forall(_ == 0L))
    assert(readKs(table) == Seq(1L, 2L))
    // each query replays independently: query A's epoch 0 is committed,
    // so a fresh checkpoint for A' (new query id) appends fine while
    // A's own replay would skip — pinned end-to-end in q417
  }
}
