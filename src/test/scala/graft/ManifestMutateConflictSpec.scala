package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Holds a scan task between its manifest snapshot and the publish:
  * `hold()` (the body of the `mf_hold` UDF) signals `entered`, then
  * waits for `release`. An object, so the UDF closure reaches the same
  * latches in every task instead of a serialized copy. */
object MutateGate {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)

  def reset(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }

  def hold(): Boolean = {
    entered.countDown()
    release.await(60, TimeUnit.SECONDS)
    true
  }
}

/** The conflict rules of [[graft.sources.ManifestMaintenance]]'s DELETE
  * and UPSERT: their matched scan runs outside the commit lock, and the
  * publish then checks that every scanned data file is still current and
  * the delete-vector list is unchanged. So an append that lands in that
  * window is kept and the DML commits; a compaction that lands there
  * moves every row position, and the DML aborts loudly with the table
  * as the compaction left it and no staging directory behind. */
class ManifestMutateConflictSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    // nondeterministic: the optimizer never evaluates it while planning
    s.udf.register("mf_hold", org.apache.spark.sql.functions.udf(
      (_: Long) => MutateGate.hold()).asNondeterministic())
    s
  }
  private val ddl = "k LONG, s STRING"

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mconf").toString
    new java.io.File(d).delete()
    d
  }

  private def append(out: String, rows: Seq[(Long, String)]): Unit = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
  }

  private def readAll(out: String): Seq[(Long, String)] =
    spark.read.format("graft.sources.ManifestSource")
      .schema(ddl).option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  /** Upsert input read from a parquet file (not a local relation the
    * optimizer could filter while planning), held at the gate. */
  private def gatedUpdates(out: String, rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    val file = s"$out-updates"
    rows.toDF("k", "s").coalesce(1).write.parquet(file)
    spark.read.parquet(file).where("mf_hold(k)")
  }

  private def stagingDirs(out: String): Seq[String] =
    new java.io.File(out).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("_tmp-"))
      .map(_.getName)

  /** Runs `dml` on another thread; once its scan task is inside the
    * gate, runs `meanwhile` and opens the gate. The DML's outcome. */
  private def inWindow[T](dml: => T)(meanwhile: => Unit): Try[T] = {
    MutateGate.reset()
    val f = Future(dml)
    try {
      assert(MutateGate.entered.await(60, TimeUnit.SECONDS),
        "the DML's scan never reached the gate")
      meanwhile
    } finally MutateGate.release.countDown()
    Try(Await.result(f, 2.minutes))
  }

  private def staleAbort(t: Try[_]): Unit = {
    assert(t.isFailure, s"the DML committed over a compaction: $t")
    assert(t.failed.get.getMessage.contains("positions are stale"), t.failed.get)
  }

  test("delete: an append landing between scan and publish is kept") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val r = inWindow(graft.sources.ManifestMaintenance.delete(
      spark, out, ddl, "k = 2 AND mf_hold(k)")) {
      append(out, Seq(4L -> "d"))
    }
    assert(r.get == 1L)
    assert(readAll(out) == Seq(1L -> "a", 3L -> "c", 4L -> "d"))
    assert(stagingDirs(out).isEmpty)
  }

  test("delete: a compaction landing between scan and publish aborts it") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b"))
    append(out, Seq(3L -> "c"))
    val r = inWindow(graft.sources.ManifestMaintenance.delete(
      spark, out, ddl, "k = 2 AND mf_hold(k)")) {
      assert(graft.sources.ManifestMaintenance.compact(spark, out, ddl) == (2, 1))
    }
    staleAbort(r)
    assert(readAll(out) == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(graft.sources.ManifestRead.latestVersion(out) == 3L)
    assert(stagingDirs(out).isEmpty, stagingDirs(out))
  }

  test("upsert: an append landing between scan and publish is kept") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    val updates = gatedUpdates(out, Seq(2L -> "B", 5L -> "e"))
    val r = inWindow(graft.sources.ManifestMaintenance.upsert(
      spark, out, ddl, Seq("k"), updates)) {
      append(out, Seq(4L -> "d"))
    }
    assert(r.get == ((1L, 2L)))
    assert(readAll(out) ==
      Seq(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d", 5L -> "e"))
    assert(stagingDirs(out).isEmpty)
  }

  test("upsert: a compaction landing between scan and publish aborts it") {
    val out = freshDir()
    append(out, Seq(1L -> "a", 2L -> "b"))
    append(out, Seq(3L -> "c"))
    val updates = gatedUpdates(out, Seq(2L -> "B", 5L -> "e"))
    val r = inWindow(graft.sources.ManifestMaintenance.upsert(
      spark, out, ddl, Seq("k"), updates)) {
      assert(graft.sources.ManifestMaintenance.compact(spark, out, ddl) == (2, 1))
    }
    staleAbort(r)
    assert(readAll(out) == Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(graft.sources.ManifestRead.latestVersion(out) == 3L)
    assert(stagingDirs(out).isEmpty, stagingDirs(out))
  }
}
