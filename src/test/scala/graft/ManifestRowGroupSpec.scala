package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row-group-granular parquet planning (q438's mechanism): the sink
  * records every parquet file's per-row-group (rows, byte range, zone
  * maps) in the manifest at commit time; the planner emits one split
  * per SURVIVING row group. Pins:
  *  - splitting: a multi-group file reads through N parallel splits
  *    with identical results;
  *  - skipping: a range probe prunes groups whose zone maps prove
  *    emptiness, without opening them;
  *  - `_mf_pos` stays FILE-GLOBAL across splits (row identity);
  *  - delete vectors keep working on rg-split reads;
  *  - the per-group row-count tamper guard is active.
  */
class ManifestRowGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_rg").toString
    new java.io.File(d).delete()
    d
  }

  /** One sorted parquet file, k = 0..n-1, exact 500-row groups. */
  private def writeSorted(out: String, n: Int): Unit = {
    import spark.implicits._
    val saved = spark.conf.getOption("parquet.rowgroup.row.count.limit")
    spark.conf.set("parquet.rowgroup.row.count.limit", "500")
    try (0L until n.toLong).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.expr("k * 10"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft.sources.ManifestSink")
      .option("path", out)
      .mode("append").save()
    finally saved.fold(spark.conf.unset("parquet.rowgroup.row.count.limit"))(
      spark.conf.set("parquet.rowgroup.row.count.limit", _))
  }

  private def scan(out: String) = spark.read
    .format("graft.sources.ManifestSource")
    .schema("k LONG, v LONG").option("path", out).load()

  test("multi-group file: manifest records groups, scan plans per group") {
    val out = freshDir()
    writeSorted(out, 5000)
    val es = graft.sources.ManifestRead.entries(out, "manifest.json")
    assert(es.length == 1)
    val rgs = graft.sources.ManifestParquet.parseRgs(es.head.rgs.get)
    assert(rgs.length == 10 && rgs.forall(_.rows == 500))
    // zone maps recorded per group over the sorted key
    assert(rgs.head.stats.contains(""""k":{"nulls":0,"min":0,"max":499}"""))
    val df = scan(out)
    assert(df.rdd.getNumPartitions == 10, "one split per row group")
    assert(df.count() == 5000)
    assert(df.agg(org.apache.spark.sql.functions.sum("v")).first().getLong(0)
      == (0L until 5000L).map(_ * 10).sum)
  }

  test("range probe reads only overlapping groups") {
    val out = freshDir()
    writeSorted(out, 5000)
    val probe = scan(out).filter("k >= 1200 AND k <= 1800")
    assert(probe.count() == 601)
    // groups [1000,1499] and [1500,1999] overlap; 8 of 10 never open
    assert(graft.sources.ManifestScanMetrics.candidateRowGroups(out) == 10)
    assert(graft.sources.ManifestScanMetrics.plannedRowGroups(out) == 2,
      "zone-map skip inside the file")
    // file-level counts untouched: the one file is kept
    assert(graft.sources.ManifestScanMetrics.plannedFiles(out) == 1)
  }

  test("_mf_pos stays file-global across row-group splits") {
    val out = freshDir()
    writeSorted(out, 2000)
    val rows = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v LONG").option("path", out)
      .option("metadata", "true").load()
      .filter("k >= 700 AND k <= 1300")
      .selectExpr("k", "_mf_pos").collect()
    assert(rows.length == 601)
    // sorted insert k=0..n-1 means global ordinal == k, even for rows
    // served by the second and third splits
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)),
      rows.filter(r => r.getLong(0) != r.getLong(1)).take(3).mkString(", "))
  }

  test("delete vectors apply correctly on rg-split reads") {
    val out = freshDir()
    writeSorted(out, 2000)
    val n = graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, v LONG", "k % 500 = 7")
    assert(n == 4L) // one row per group
    assert(scan(out).count() == 1996)
    assert(scan(out).filter("k % 500 = 7").count() == 0)
    // a survivor right next to each deleted ordinal is still served
    assert(scan(out).filter("k % 500 = 8").count() == 4)
  }

  test("per-group tamper guard: a truncated file fails loudly") {
    val out = freshDir()
    writeSorted(out, 2000)
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // chop the file: later groups' byte ranges now read short/garbage
    val all = java.nio.file.Files.readAllBytes(file.toPath)
    java.nio.file.Files.write(file.toPath,
      java.util.Arrays.copyOf(all, all.length / 2))
    // a real data read (count() alone is answered from manifest stats
    // without ever opening the file — the q432 agg pushdown)
    intercept[Exception] { scan(out).select("k", "v").collect() }
  }
}
