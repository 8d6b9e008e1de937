package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write path (graft.sources.ManifestSink): the visible contract
  * of the two-phase commit — committed part files + a manifest written
  * last, temp dir gone, per-file rows/checksums agreeing with what's
  * on disk. */
class ManifestSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("commit leaves manifest + exactly the committed files, no temp residue") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_spec").toString
    val df = Tables.load(spark, "/root/testdata/sf0.001", "supplier")
      .select(col("s_suppkey").cast("long").as("k"), col("s_name"))
    val n = df.count()
    df.repartition(3, col("k"))
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()

    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("_tmp")), "temp dir survived commit")
    assert(!new java.io.File(out, "_commit.lock").exists(),
      "commit lock survived commit")
    val manifest = spark.read.option("multiLine", "true")
      .json(s"$out/manifest.json")
    assert(manifest.selectExpr("total_rows").head().getLong(0) === n)
    val entries = manifest
      .selectExpr("explode(files) AS e").select("e.file", "e.rows")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(entries.map(_._2).sum === n)
    assert(entries.length === 3)
    // every manifest file exists; no extra part files beyond the manifest
    val onDisk = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    assert(onDisk === entries.map(_._1).toSet)
    // per-file row counts agree with the actual file contents
    entries.foreach { case (f, rows) =>
      assert(spark.read.parquet(s"$out/$f").count() === rows,
        s"$f row count mismatch")
    }
    // full round trip: nothing lost, nothing duplicated (the data files
    // are plain parquet any reader can open)
    val back = spark.read.parquet(entries.map(e => s"$out/${e._1}"): _*)
    assert(back.count() === n)
    assert(back.select("k").distinct().count() === n)
  }

  test("append merges the manifest; overwrite truncates it") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_modes").toString
    val df = Tables.load(spark, "/root/testdata/sf0.001", "supplier")
      .select(col("s_suppkey").cast("long").as("k"))
    val n = df.count()
    def write(mode: String): Unit =
      df.repartition(2, col("k")).write
        .format("graft.sources.ManifestSink")
        .option("path", out).mode(mode).save()
    def total(): Long = spark.read.option("multiLine", "true")
      .json(s"$out/manifest.json").selectExpr("total_rows").head().getLong(0)
    def partFiles(): Int = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("part-"))
    write("append")
    write("append")
    assert(total() === 2 * n, "append did not merge the previous manifest")
    assert(partFiles() === 4)
    write("overwrite")
    assert(total() === n, "overwrite did not truncate")
    assert(partFiles() === 2, "overwrite left stale part files")
  }

  test("fresh commit lock fails loudly; stale lock is broken automatically") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_lock").toString
    val df = Tables.load(spark, "/root/testdata/sf0.001", "region")
      .select(col("r_regionkey").cast("long").as("k"))
    def write(): Unit = df.coalesce(1).write
      .format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val lock = java.nio.file.Paths.get(out, "_commit.lock")
    // a FRESH lock (now, other-writer id) must abort the commit
    java.nio.file.Files.write(lock,
      s"${System.currentTimeMillis()} other-writer".getBytes("UTF-8"))
    val e = intercept[Exception](write())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("concurrent commit in flight")),
      s"expected loud lock failure, got: $e")
    // a STALE lock (crashed driver, >10 min old) self-heals
    java.nio.file.Files.write(lock,
      s"${System.currentTimeMillis() - 11 * 60 * 1000L} dead-writer"
        .getBytes("UTF-8"))
    write()
    assert(!java.nio.file.Files.exists(lock), "lock survived the commit")
    val totalRows = spark.read.option("multiLine", "true")
      .json(s"$out/manifest.json").selectExpr("total_rows").head().getLong(0)
    assert(totalRows === df.count())
  }
}
