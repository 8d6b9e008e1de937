package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read row-level deletes on the manifest connector:
  * positional delete vectors written through the sink's own writer,
  * applied at scan time (batch, time travel, splits, streaming),
  * carried forward by appends, consumed physically by compaction with
  * the net-of-deletes conservation guard, and reclaimed by the orphan
  * sweep once history lets go. */
class ManifestDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mdel").toString
    new java.io.File(d).delete()
    d
  }

  private def append(out: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
  }

  private def readAll(out: String, version: Option[Int] = None): Seq[(Long, String)] = {
    val r = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out)
    version.fold(r)(v => r.option("version", v)).load()
      .collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq
  }

  test("delete hides rows at latest, time travel still sees them") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    append(out, Seq(4L -> "d", 5L -> "e"))
    val n = graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k % 2 = 0")
    assert(n == 2L)
    assert(readAll(out) == Seq(1L -> "a", 3L -> "c", 5L -> "e"))
    // pre-delete snapshots are untouched (dvs live in v3 only)
    assert(readAll(out, Some(2)) ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
    assert(readAll(out, Some(1)) == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    // re-delete with an overlapping predicate: already-deleted rows
    // never match again (positions stay unique)
    assert(graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k % 2 = 0") == 0L)
    // a delete matching nothing commits nothing
    assert(graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k > 100") == 0L)
  }

  test("appends after a delete carry the dvs; deleted rows stay hidden") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b"))
    assert(graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k = 2") == 1L)
    append(out, Seq(3L -> "c"))
    assert(readAll(out) == Seq(1L -> "a", 3L -> "c"))
    // the delete applies under byte-range splits too (offset identity
    // is the split bookkeeping itself)
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      assert(readAll(out) == Seq(1L -> "a", 3L -> "c"))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("compaction consumes dvs net-of-deletes; orphan sweep reclaims them") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    append(out, Seq(4L -> "d"))
    assert(graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k IN (1, 4)") == 2L)
    // compact: physically drops the 2 deleted rows, conservation guard
    // must pass NET (gross 4 − 2 deleted = 2 surviving)
    val (b, a) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, s STRING")
    assert(b == 2 && a == 1)
    assert(readAll(out) == Seq(2L -> "b", 3L -> "c"))
    // latest manifest carries no dv entries any more
    val mtxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    assert(!mtxt.contains("\"dv\":"), "manifest still carries dv entries")
    // history still references the dv files — nothing to reclaim yet
    assert(graft.sources.ManifestMaintenance.removeOrphans(spark, out) == 0)
    // the delete scan may have produced one dv file per scan task
    val nDv = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("dv-"))
    assert(nDv >= 1)
    graft.sources.ManifestMaintenance.expireSnapshots(spark, out, 1)
    // now the old part files AND the dv files are unreferenced
    val reclaimed = graft.sources.ManifestMaintenance.removeOrphans(spark, out)
    assert(reclaimed == 2 + nDv,
      s"expected 2 part + $nDv dv reclaimed, got $reclaimed")
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("dv-")), "dv files not reclaimed")
    assert(readAll(out) == Seq(2L -> "b", 3L -> "c"))
  }

  test("dv-only compaction runs even at the target file count") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, s STRING", "k = 2") == 1L)
    // one data file, targetFiles=1 — but a dv is pending, so compact
    // must still rewrite to apply it physically
    val (b, a) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, s STRING")
    assert(b == 1 && a == 1)
    val mtxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    assert(!mtxt.contains("\"dv\":"), "manifest still carries dv entries")
    assert(readAll(out) == Seq(1L -> "a", 3L -> "c"))
  }

  test("compaction bin-packs by bytes: groups rewrite independently") {
    val out = freshDir()
    // four ~equal files; a byte budget that fits two files but not
    // three must yield 2 output files (2 groups), not 1 — and conserve
    // rows + checksums
    (1 to 4).foreach(i => append(out,
      (1 to 10).map(j => (i * 100L + j, s"row-$i-$j"))))
    val sizes = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length())
    assert(sizes.length == 4)
    val budget = 2 * sizes.max
    assert(budget < 3 * sizes.min)
    val (b, a) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, s STRING", targetBytes = budget)
    assert(b == 4 && a == 2, s"expected 4 -> 2 files, got $b -> $a")
    val back = readAll(out)
    assert(back.length == 40 && back.map(_._1).distinct.length == 40)
    // a budget no file pair fits under leaves the layout alone
    val (b2, a2) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, s STRING", targetBytes = 1L)
    assert(b2 == 2 && a2 == 2)
  }

  test("streaming: bootstrap is net of deletes; appends tail net too") {
    import org.apache.spark.sql.streaming.Trigger
    val src = freshDir(); val sink = freshDir(); val ckpt = freshDir()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .schema("k LONG, s STRING").option("path", src).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    append(src, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    graft.sources.ManifestMaintenance.delete(
      spark, src, "k LONG, s STRING", "k = 2")
    drain() // fresh stream: initial snapshot must not emit k=2
    def got(): Seq[Long] = spark.read.schema("k LONG, s STRING")
      .parquet(sink).select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got() == Seq(1L, 3L))
    // delete inside an appended-but-not-yet-drained file: the new
    // file's rows are emitted net of the delete
    append(src, Seq(4L -> "d", 5L -> "e"))
    graft.sources.ManifestMaintenance.delete(
      spark, src, "k LONG, s STRING", "k = 5")
    drain()
    assert(got() == Seq(1L, 3L, 4L))
  }

  test("metadata columns expose stable row identity") {
    val out = freshDir()
    append(out, Seq(1L -> "x,comma", 2L -> "y"))
    val meta = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out)
      .option("metadata", "true").load()
      .select("k", "_mf_file", "_mf_pos", "_mf_linehash")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(meta.length == 2)
    // both rows in the same (single) part file; offsets distinct, the
    // first record starts at byte 0
    assert(meta.map(_._2).distinct.length == 1)
    assert(meta(0)._3 == 0L && meta(1)._3 > 0L)
    // a plain read (no option) must NOT expose metadata columns
    val plain = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out).load()
    assert(!plain.columns.contains("_mf_pos"))
  }

  test("upsert: matched keys supersede, unmatched insert, one version") {
    import spark.implicits._
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    def versions(): Int = new java.io.File(out).listFiles()
      .count(_.getName.matches("manifest-v\\d+\\.json"))
    val v0 = versions()
    val (sup, ins) = graft.sources.ManifestMaintenance.upsert(
      spark, out, "k LONG, s STRING", Seq("k"),
      Seq(2L -> "B2", 3L -> "B3", 9L -> "N9").toDF("k", "s"))
    assert(sup == 2L && ins == 3L)
    // the merge is ONE atomic version
    assert(versions() == v0 + 1)
    assert(readAll(out) == Seq(
      1L -> "a", 2L -> "B2", 3L -> "B3", 4L -> "d", 9L -> "N9"))
    // pre-upsert snapshot unchanged
    assert(readAll(out, Some(1)) ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // re-upsert the same key: supersedes the LATEST version of the row
    // (the scan reads through dvs — no duplicate positions)
    val (sup2, ins2) = graft.sources.ManifestMaintenance.upsert(
      spark, out, "k LONG, s STRING", Seq("k"),
      Seq(2L -> "C2").toDF("k", "s"))
    assert(sup2 == 1L && ins2 == 1L)
    assert(readAll(out) == Seq(
      1L -> "a", 2L -> "C2", 3L -> "B3", 4L -> "d", 9L -> "N9"))
    // compaction applies all supersedes physically
    val (_, a) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, s STRING")
    assert(a == 1)
    val mtxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    assert(!mtxt.contains("\"dv\":"))
    assert(readAll(out) == Seq(
      1L -> "a", 2L -> "C2", 3L -> "B3", 4L -> "d", 9L -> "N9"))
    // an empty update batch commits nothing
    assert(graft.sources.ManifestMaintenance.upsert(
      spark, out, "k LONG, s STRING", Seq("k"),
      Seq.empty[(Long, String)].toDF("k", "s")) == ((0L, 0L)))
  }

  test("change feed satisfies state(from) + inserts - deletes = state(to)") {
    import spark.implicits._
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))          // v1
    append(out, Seq(4L -> "d", 5L -> "e"))                      // v2
    graft.sources.ManifestMaintenance.delete(                   // v3
      spark, out, "k LONG, s STRING", "k IN (2, 4)")
    graft.sources.ManifestMaintenance.upsert(                   // v4
      spark, out, "k LONG, s STRING", Seq("k"),
      Seq(3L -> "C3", 9L -> "N9").toDF("k", "s"))
    graft.sources.ManifestMaintenance.compact(                  // v5
      spark, out, "k LONG, s STRING")
    def state(v: Int): Set[(Long, String)] = readAll(out, Some(v)).toSet
    for (from <- 1 to 4; to <- (from + 1) to 5) {
      val ch = graft.sources.ManifestMaintenance.changes(
        spark, out, "k LONG, s STRING", from, to)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getString(3)))
      val ins = ch.filter(_._1 == "insert").map(c => (c._2, c._3))
      val del = ch.filter(_._1 == "delete").map(c => (c._2, c._3))
      // multiset identity (no dup rows in this fixture, set is exact)
      assert(state(from) ++ ins -- del == state(to),
        s"reconstruction failed for ($from, $to]: ins=${ins.toSeq} del=${del.toSeq}")
    }
    // a compaction-only range is an empty feed
    val none = graft.sources.ManifestMaintenance.changes(
      spark, out, "k LONG, s STRING", 4, 5)
    assert(none.count() == 0)
    // an empty range has the right (empty) schema
    val empty = graft.sources.ManifestMaintenance.changes(
      spark, out, "k LONG, s STRING", 5, 5)
    assert(empty.columns.toSeq == Seq("op", "version", "k", "s"))
    assert(empty.count() == 0)
  }

  test("delete aborts loudly on a live commit lock") {
    val out = freshDir()
    append(out, Seq(1L -> "a"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(out, "_commit.lock"))
    try intercept[IllegalStateException] {
      graft.sources.ManifestMaintenance.delete(
        spark, out, "k LONG, s STRING", "k = 1")
    } finally java.nio.file.Files.delete(
      java.nio.file.Paths.get(out, "_commit.lock"))
    assert(readAll(out) == Seq(1L -> "a"))
    assert(!new java.io.File(out).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("_tmp-delete-")),
      "aborted delete left its scratch dir")
  }
}
