package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet data files in the manifest connector (q432's mechanism),
  * its only data-file format:
  *  - exact round-trip (nulls, quoting-hazard strings, unicode,
  *    ±0.0 / extreme doubles);
  *  - file skipping (zone maps + string bounds + Blooms) and aggregate
  *    pushdown answer from the same manifest stats;
  *  - merge-on-read DML: DELETE/MERGE delete vectors key on ROW
  *    ORDINALS, time travel unaffected;
  *  - compaction with the conservation guard;
  *  - SPJ: identity-partitioned parquet tables join exchange-free;
  *  - a request for another format fails loudly.
  */
class ManifestParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pq").toString
    new java.io.File(d).delete()
    d
  }

  private val ddl = "k BIGINT, d DOUBLE, s STRING"

  private def write(path: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()

  private def read(path: String, schema: String = ddl) =
    spark.read.format("graft.sources.ManifestSource")
      .schema(schema).option("path", path).load()

  test("round-trip: nulls, csv-hazard strings, unicode, odd doubles") {
    import spark.implicits._
    val path = freshDir()
    val rows = Seq(
      (1L, 1.5, "plain"),
      (2L, -0.0, "comma, quote\" back\\slash"),
      (3L, Double.MaxValue, "line\nbreak\rboth"),
      (4L, Double.MinPositiveValue, "unicode é中😀"),
      (5L, 0.0, null.asInstanceOf[String]))
      .toDF("k", "d", "s")
    write(path, rows)
    val got = read(path).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1.5, "plain"),
      (2L, -0.0, "comma, quote\" back\\slash"),
      (3L, Double.MaxValue, "line\nbreak\rboth"),
      (4L, Double.MinPositiveValue, "unicode é中😀"),
      (5L, 0.0, null)))
    assert(graft.sources.ManifestRead.entries(path, "manifest.json")
      .forall(_.file.endsWith(".parquet")))
  }

  test("file skipping + filter pushdown prune parquet files too") {
    import spark.implicits._
    val path = freshDir()
    (0 until 4).foreach { i =>
      write(path, (i * 10 until (i + 1) * 10)
        .map(j => (j.toLong, j.toDouble, s"s$j")).toDF("k", "d", "s")
        .coalesce(1))
    }
    val probe = read(path).filter(col("k") >= 13 && col("k") <= 17)
    assert(probe.collect().map(_.getLong(0)).sorted.toSeq == (13L to 17L))
    assert(probe.queryExecution.toRdd.getNumPartitions == 1,
      "a 13..17 range must plan exactly the 10..19 parquet file")
    // string-equality Bloom pruning works off the same manifest stats
    val bp = read(path).filter(col("s") === "s35")
    bp.queryExecution.toRdd.getNumPartitions
    assert(graft.sources.ManifestScanMetrics.plannedFiles(path) == 1L)
  }

  test("aggregate pushdown answers from manifest stats (no file open)") {
    import spark.implicits._
    val path = freshDir()
    write(path, (1 to 50).map(i => (i.toLong, i / 2.0, s"x$i"))
      .toDF("k", "d", "s"))
    graft.sources.ManifestScanMetrics.reset(path)
    val r = read(path).agg(min("k"), max("k"), count(lit(1))).first()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1L, 50L, 50L))
    assert(graft.sources.ManifestScanMetrics.aggFromStats(path),
      "global MIN/MAX/COUNT must come from stats, not a parquet read")
  }

  test("merge-on-read DELETE on parquet: ordinal delete vectors") {
    import spark.implicits._
    val path = freshDir()
    write(path, (1 to 10).map(i => (i.toLong, i.toDouble, s"s$i"))
      .toDF("k", "d", "s").coalesce(1))
    val n = graft.sources.ManifestMaintenance.delete(
      spark, path, ddl, "k % 3 = 0")
    assert(n == 3)
    assert(read(path).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 7L, 8L, 10L))
    // time travel: v1 still reads all 10 rows
    val v1 = spark.read.format("graft.sources.ManifestSource")
      .schema(ddl).option("path", path).option("version", 1).load()
    assert(v1.count() == 10)
  }

  test("compaction: parquet-to-parquet with pending deletes") {
    import spark.implicits._
    // parquet table, 4 files + pending deletes -> 1 file, rows conserved
    val path = freshDir()
    (0 until 4).foreach { i =>
      write(path, (i * 10 until (i + 1) * 10)
        .map(j => (j.toLong, j.toDouble, s"s$j")).toDF("k", "d", "s")
        .coalesce(1))
    }
    graft.sources.ManifestMaintenance.delete(spark, path, ddl, "k < 5")
    val (nb, na) = graft.sources.ManifestMaintenance.compact(
      spark, path, ddl, targetFiles = 1)
    assert(nb == 4 && na == 1)
    assert(read(path).count() == 35)
    assert(read(path).collect().map(_.getLong(0)).sorted.toSeq == (5L to 39L))
    assert(graft.sources.ManifestRead.entries(path, "manifest.json")
      .forall(_.file.endsWith(".parquet")))
  }

  test("a request for a csv data file fails loudly") {
    import spark.implicits._
    val path = freshDir()
    val e = intercept[IllegalArgumentException] {
      Seq(1L).toDF("k").write.format("graft.sources.ManifestSink")
        .option("path", path).option("format", "csv").mode("append").save()
    }
    assert(e.getMessage.contains("parquet only"), e.getMessage)
    assert(!new java.io.File(path, "manifest.json").exists())
    val base = java.nio.file.Files.createTempDirectory("graft_pqcsv").toString
    val cat = "pqcsv_" + math.abs(base.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) USING csv")
    }
    assert(!new java.io.File(s"$base/db/t/_schema.ddl").exists())
  }

  test("SQL MERGE on a parquet catalog table (USING parquet)") {
    val base = java.nio.file.Files.createTempDirectory("graft_pqc").toString
    val cat = "pqc_" + math.abs(base.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) USING parquet")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val entries =
      graft.sources.ManifestRead.entries(s"$base/db/t", "manifest.json")
    assert(entries.nonEmpty && entries.forall(_.file.endsWith(".parquet")),
      s"USING parquet must persist: $entries")
    spark.sql(
      s"""MERGE INTO $t t USING (SELECT * FROM VALUES (2L, 'B'), (9L, 'I')
         |  AS s(k, v)) s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |""".stripMargin)
    assert(spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "I"))
  }

  test("SPJ: identity-partitioned parquet tables join exchange-free") {
    import spark.implicits._
    val a = freshDir(); val b = freshDir()
    def keyed(path: String, v: String): Unit =
      (0L until 40L).map(i => (i % 4, i)).toDF("b", v)
        .repartition(4, col("b"))
        .write.format("graft.sources.ManifestSink")
        .option("path", path).option("partitionBy", "b")
        .mode("append").save()
    keyed(a, "v1"); keyed(b, "v2")
    def rd(p: String, v: String) =
      spark.read.format("graft.sources.ManifestSource")
        .schema(s"b LONG, $v LONG").option("path", p).load()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // join ON THE PARTITION KEY — the clustering the layout gives
      val j = rd(a, "v1").join(rd(b, "v2"), Seq("b"))
      assert(j.count() == 400)
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"keyed parquet join must plan ZERO exchanges:\n${j.queryExecution.executedPlan}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("schema evolution by name: old parquet files read with new schema") {
    import spark.implicits._
    val path = freshDir()
    write(path, Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("k", "d", "s")
      .coalesce(1))
    // evolved writer adds a column; older files read it as NULL
    spark.sql("SELECT * FROM VALUES (3L, CAST(3.0 AS DOUBLE), 'c', 30L)" +
        " AS t(k, d, s, extra)")
      .write.format("graft.sources.ManifestSink")
      .option("path", path)
      .mode("append").save()
    val got = read(path, ddl + ", extra BIGINT").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, -1L), (2L, -1L), (3L, 30L)))
  }
}
