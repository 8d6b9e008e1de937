package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the manifest connector's row identity values. They are defined
  * over the canonical CSV rendering of each typed row (a hash input, not
  * a file format), so they must not change with the data-file format:
  *  - `_mf_linehash` of every row, and a data file's checksum (the sum
  *    of its rows' line hashes);
  *  - delete-vector lines (`file,pos,hash`) and their checksums, from
  *    both the maintenance path and SQL row-level DML;
  *  - compaction's conservation guard: the compacted file's checksum is
  *    the old checksum minus the deleted rows' hashes.
  * The literal numbers were recorded from a table written with the
  * connector's defaults before parquet became its only format.
  */
class ManifestIdentityPinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ddl = "k BIGINT, i INT, d DOUBLE, s STRING, b BOOLEAN, " +
    "ts TIMESTAMP, dec DECIMAL(12,2)"

  private val tsMicros = "1709287872123456" // 2024-03-01 10:11:12.123456 UTC

  /** k -> (canonical rendering, its pinned String.hashCode). */
  private val pinned: Map[Long, (String, Long)] = Map(
    1L -> (s"1,10,1.5,plain,true,$tsMicros,1.75", 1885969533L),
    2L -> ("2,,-0.0,\"comma, \\\"q\\\" \\\\b\\nnl\",false,,-3.50", 692497553L),
    3L -> (s"3,-7,,unicode é中😀,,$tsMicros,", 409983499L),
    4L -> (s"4,0,1.0E300,,true,$tsMicros,123456.78", 1570521381L),
    5L -> ("5,,,,,,", 1094726901L))
  private val fileChecksum = 5653698867L

  private def rows = {
    import spark.implicits._
    Seq(
      (1L, Some(10), Some(1.5), Some("plain"), Some(true)),
      (2L, None, Some(-0.0), Some("comma, \"q\" \\b\nnl"), Some(false)),
      (3L, Some(-7), None, Some("unicode é中😀"), None),
      (4L, Some(0), Some(1.0e300), None, Some(true)),
      (5L, None, None, None, None))
      .toDF("k", "i", "d", "s", "b")
      .withColumn("ts", when(col("k").isin(1L, 3L, 4L),
        to_timestamp(lit("2024-03-01 10:11:12.123456"))))
      .withColumn("dec", when(col("k") === 1L, "1.75")
        .when(col("k") === 2L, "-3.50").when(col("k") === 4L, "123456.78")
        .cast("decimal(12,2)"))
  }

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pin").toString
    new java.io.File(d).delete()
    d
  }

  private def meta(path: String) =
    spark.read.format("graft.sources.ManifestSource").schema(ddl)
      .option("path", path).option("metadata", "true").load()
      .select("k", "_mf_file", "_mf_pos", "_mf_linehash").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap

  /** (dv entry checksum, rows, its `file,pos,hash` lines) per dv file. */
  private def dvFiles(path: String): Seq[(Long, Long, Seq[String])] =
    graft.sources.ManifestRead.dvs(path, "manifest.json").map {
      case (name, rows, checksum) =>
        assert(name.startsWith("dv-") && name.endsWith(".csv"), name)
        val lines = scala.io.Source.fromFile(s"$path/$name", "UTF-8")
        try (checksum, rows, lines.getLines().toList) finally lines.close()
    }

  test("canonical renderings hash to the pinned values") {
    pinned.foreach { case (k, (line, h)) =>
      assert(line.hashCode.toLong == h, s"k=$k")
    }
    assert(pinned.values.map(_._2).sum == fileChecksum)
  }

  test("_mf_linehash and the file checksum keep their pinned values") {
    val path = freshDir()
    rows.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()
    val got = meta(path)
    assert(got.keySet == pinned.keySet)
    pinned.foreach { case (k, (_, h)) =>
      assert(got(k)._3 == h, s"_mf_linehash of k=$k")
    }
    val entries = graft.sources.ManifestRead.entries(path, "manifest.json")
    assert(entries.length == 1 && entries.head.rows == 5)
    assert(entries.head.checksum == fileChecksum)
  }

  test("delete vectors and compaction conservation keep pinned values") {
    val path = freshDir()
    rows.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()
    val before = meta(path)
    assert(graft.sources.ManifestMaintenance.delete(
      spark, path, ddl, "k IN (2, 4)") == 2L)
    val dvs = dvFiles(path)
    val lines = dvs.flatMap(_._3)
    assert(dvs.map(_._2).sum == 2L)
    // each line is the deleted row's (file, position, canonical hash)
    assert(lines.toSet == Set(2L, 4L).map { k =>
      val (f, p, h) = before(k)
      assert(h == pinned(k)._2)
      s"$f,$p,$h"
    })
    // a dv checksum is the sum of its lines' hashes
    dvs.foreach { case (checksum, _, ls) =>
      assert(checksum == ls.map(_.hashCode.toLong).sum)
    }
    // compaction applies the deletes; the guard's arithmetic holds on
    // the pinned numbers
    graft.sources.ManifestMaintenance.compact(spark, path, ddl, targetFiles = 1)
    val after = graft.sources.ManifestRead.entries(path, "manifest.json")
    assert(after.length == 1 && after.head.rows == 3)
    assert(after.head.checksum ==
      fileChecksum - pinned(2L)._2 - pinned(4L)._2)
    assert(graft.sources.ManifestRead.dvs(path, "manifest.json").isEmpty)
    assert(meta(path).map { case (k, v) => k -> v._3 } ==
      Seq(1L, 3L, 5L).map(k => k -> pinned(k)._2).toMap)
  }

  test("SQL row-level DML writes the same delete-vector lines") {
    val base = java.nio.file.Files.createTempDirectory("graft_pinc").toString
    val cat = "pin_" + math.abs(base.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t ($ddl)")
    rows.coalesce(1).writeTo(t).append()
    val path = s"$base/db/t"
    val before = meta(path)
    spark.sql(s"UPDATE $t SET i = 99 WHERE k = 1")
    val dvs = dvFiles(path)
    val (f, p, h) = before(1L)
    assert(h == pinned(1L)._2)
    assert(dvs.flatMap(_._3) == Seq(s"$f,$p,$h"))
    assert(dvs.head._1 == s"$f,$p,$h".hashCode.toLong)
    assert(spark.sql(s"SELECT i FROM $t WHERE k = 1").head().getInt(0) == 99)
  }
}
