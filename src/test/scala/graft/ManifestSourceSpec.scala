package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 read path + time travel over the manifest sink: exact
  * round trip (quotes, escapes, NULLs), snapshot isolation of version
  * reads across later appends, column pruning, and the torn-file
  * guard. */
class ManifestSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_msrc").toString
    new java.io.File(d).delete() // sink mkdirs it
    d
  }

  test("sink -> source round trip preserves tricky strings and NULLs") {
    import spark.implicits._
    val out = freshDir()
    val rows = Seq(
      (1L, "plain"),
      (2L, "has,comma"),
      (3L, "has\"quote"),
      (4L, "back\\slash"),
      (5L, null.asInstanceOf[String]),
      (6L, "line1\nline2"),
      (7L, "cr\rlf\n mix\r\n"),
      (8L, "literal\\n backslash-n"))
    rows.toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val back = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out).load()
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1)
    assert(back.toSeq == rows)
  }

  test("version reads are immutable snapshots across appends") {
    import spark.implicits._
    val out = freshDir()
    def append(ks: Seq[Long]): Unit =
      ks.toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    append(Seq(1L, 2L))
    val v1Before = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 1).load()
      .as[Long].collect().sorted.toSeq
    append(Seq(3L, 4L, 5L))
    val v1After = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 1).load()
      .as[Long].collect().sorted.toSeq
    assert(v1Before == Seq(1L, 2L) && v1After == Seq(1L, 2L),
      "v1 must be identical before and after the second append")
    val v2 = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 2).load()
      .as[Long].collect().sorted.toSeq
    assert(v2 == Seq(1L, 2L, 3L, 4L, 5L))
    // latest == newest version
    val latest = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
      .as[Long].collect().sorted.toSeq
    assert(latest == v2)
    // truncate expires history (v1 gone — ids are NOT recycled): the
    // post-truncate commit becomes v3, and reading v1 fails loudly
    Seq(9L).toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", out).mode("overwrite").save()
    val v3 = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 3).load()
      .as[Long].collect().toSeq
    assert(v3 == Seq(9L))
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out).option("version", 1).load()
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("manifest-v1.json")), e.toString)
  }

  test("column pruning reaches the scan") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, "a", 10.5), (2L, "b", 20.25)).toDF("k", "s", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val df = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING, v DOUBLE").option("path", out).load()
      .select("v")
    assert(df.as[Double].collect().sorted.toSeq == Seq(10.5, 20.25))
    // the scan's read schema is just the pruned column
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.scan.readSchema().fieldNames.toSeq == Seq("v"))
  }

  test("filter pushdown reaches the scan and matches unfiltered truth") {
    import spark.implicits._
    val out = freshDir()
    (1L to 100L).map(k => (k, s"name_$k", k * 1.5))
      .toDF("k", "s", "v").repartition(3)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    def read() = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING, v DOUBLE").option("path", out).load()
    // numeric range + string equality both push; the filter column k is
    // NOT in the projection, so the scan must still evaluate it
    val df = read().filter(col("k") > 90 && col("k") <= 95).select("s")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val desc = scans.head.scan.description()
    assert(desc.contains("GreaterThan(k,90)") && desc.contains("LessThanOrEqual(k,95)"),
      s"filters not pushed: $desc")
    assert(df.as[String].collect().sorted.toSeq ==
      (91L to 95L).map(k => s"name_$k").sorted)
    // string INEQUALITY pushes too (round 13): both the reader's eval
    // and the recorded bounds use Spark's own UTF-8 byte order, so the
    // UTF-16-vs-UTF-8 hazard that blocked this before round 13 is gone
    val ineq = read().filter(col("s") > "name_5")
    val ineqScan = ineq.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.description()
    assert(ineqScan.contains("GreaterThan(s"),
      s"string inequality not pushed: $ineqScan")
    assert(ineq.select("s").as[String].collect().sorted.toSeq ==
      (0L to 99L).map(k => s"name_$k").filter(_ > "name_5").sorted)
    // …while string EQUALITY does, and agrees with Spark's own filter
    val eq = read().filter(col("s") === "name_42")
    assert(eq.select("k").as[Long].collect().toSeq == Seq(42L))
  }

  test("streaming tail processes each commit's files exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = freshDir(); val sink = freshDir(); val ckpt = freshDir()
    def append(ks: Seq[Long]): Unit =
      ks.toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", src).mode("append").save()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", src).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    append(Seq(1L, 2L)); drain()
    val after1 = spark.read.schema("k LONG").parquet(sink)
      .as[Long].collect().sorted.toSeq
    assert(after1 == Seq(1L, 2L))
    append(Seq(3L, 4L)); append(Seq(5L)); drain()
    val after2 = spark.read.schema("k LONG").parquet(sink)
      .as[Long].collect().sorted.toSeq
    // exactly once: 1,2 never re-read; the two new commits both land
    assert(after2 == Seq(1L, 2L, 3L, 4L, 5L), s"got $after2")
    // an idle drain with nothing new emits nothing
    drain()
    val after3 = spark.read.schema("k LONG").parquet(sink)
      .as[Long].collect().sorted.toSeq
    assert(after3 == after2)
  }

  test("a file shorter than its manifest row count fails loudly") {
    import spark.implicits._
    val out = freshDir()
    Seq(1L, 2L, 3L).toDF("k").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    // swap in a valid one-row file behind the manifest's back: its
    // pages carry valid checksums and the connector writes no `.crc`
    // sidecar, so OUR row-count guard is what catches a whole-file swap
    val short = freshDir()
    Seq(1L).toDF("k").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", short).mode("append").save()
    def part(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part(short).toPath, part(out).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out).load().collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("torn or tampered")), e.toString)
  }
  test("snapshot expiry keeps the newest versions and fails expired reads") {
    import spark.implicits._
    val out = freshDir()
    def append(ks: Seq[Long]): Unit =
      ks.toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    append(Seq(1L)); append(Seq(2L)); append(Seq(3L)); append(Seq(4L))
    val n = graft.sources.ManifestMaintenance.expireSnapshots(spark, out, 2)
    assert(n == 2, s"expected 2 expired snapshots, got $n")
    // lock released
    assert(!new java.io.File(out, "_commit.lock").exists())
    // v3/v4/latest intact
    val v3 = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 3).load()
      .as[Long].collect().sorted.toSeq
    assert(v3 == Seq(1L, 2L, 3L))
    val latest = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
      .as[Long].collect().sorted.toSeq
    assert(latest == Seq(1L, 2L, 3L, 4L))
    // expired v1 fails loudly; a further append still commits (v5)
    intercept[Exception] {
      spark.read.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", out).option("version", 1).load()
        .collect()
    }
    append(Seq(5L))
    val v5 = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 5).load()
      .as[Long].collect().sorted.toSeq
    assert(v5 == Seq(1L, 2L, 3L, 4L, 5L))
    // expiry refuses to run under a live commit lock
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(out, "_commit.lock"))
    intercept[IllegalStateException] {
      graft.sources.ManifestMaintenance.expireSnapshots(spark, out, 1)
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_commit.lock"))
  }

  test("a streaming tail never re-emits a compaction's rewritten files") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = freshDir(); val sink = freshDir(); val ckpt = freshDir()
    def append(ks: Seq[Long]): Unit =
      ks.toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", src).mode("append").save()
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .schema("k LONG").option("path", src).load()
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    append(Seq(1L, 2L)); append(Seq(3L)); drain()
    // compact 2 files -> 1 (a pure rewrite) while the stream is down
    val (b, a) = graft.sources.ManifestMaintenance.compact(spark, src, "k LONG")
    assert(b == 2 && a == 1)
    // then a real append lands
    append(Seq(4L, 5L)); drain()
    val got = spark.read.schema("k LONG").parquet(sink)
      .as[Long].collect().sorted.toSeq
    // exactly once: the compaction's rewritten file (holding 1,2,3) must
    // NOT re-emit; only the genuine append is new
    assert(got == Seq(1L, 2L, 3L, 4L, 5L), s"got $got")
    // and the batch faces agree: latest == everything
    val latest = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", src).load()
      .as[Long].collect().sorted.toSeq
    assert(latest == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("compaction conserves rows+checksums and aborts on a live lock") {
    import spark.implicits._
    val out = freshDir()
    def append(ks: Seq[Long]): Unit =
      ks.toDF("k").coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    append(Seq(1L, 2L)); append(Seq(3L, 4L)); append(Seq(5L))
    // live lock -> loud refusal, scratch cleaned up
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(out, "_commit.lock"))
    intercept[IllegalStateException] {
      graft.sources.ManifestMaintenance.compact(spark, out, "k LONG")
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_commit.lock"))
    assert(!new java.io.File(out).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("_compact-")),
      "aborted compaction left its scratch dir behind")
    val (b, a) = graft.sources.ManifestMaintenance.compact(spark, out, "k LONG")
    assert(b == 3 && a == 1)
    assert(!new java.io.File(out, "_commit.lock").exists())
    // the compacted snapshot reads exactly; pre-compaction v1 still does
    val latest = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
      .as[Long].collect().sorted.toSeq
    assert(latest == Seq(1L, 2L, 3L, 4L, 5L))
    val v1 = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).option("version", 1).load()
      .as[Long].collect().sorted.toSeq
    assert(v1 == Seq(1L, 2L))
    // orphan cleanup: nothing while history references the old files;
    // after expiring to just the compaction snapshot, exactly 3 reclaimed
    assert(graft.sources.ManifestMaintenance.removeOrphans(spark, out) == 0)
    graft.sources.ManifestMaintenance.expireSnapshots(spark, out, 1)
    assert(graft.sources.ManifestMaintenance.removeOrphans(spark, out) == 3)
    val still = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
      .as[Long].collect().sorted.toSeq
    assert(still == Seq(1L, 2L, 3L, 4L, 5L))
  }

}
