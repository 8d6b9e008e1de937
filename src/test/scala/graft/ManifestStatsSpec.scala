package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestScanMetrics

/** Per-file column statistics (zone maps) + scan-time file skipping,
  * and column-name-mapped SCHEMA EVOLUTION on the manifest connector.
  *
  * The honest observable for skipping is the PLANNED PARTITION COUNT:
  * each unsplit file is exactly one input partition, so a pruned file
  * is a missing partition. Results must be identical with and without
  * pruning — the same filters still run row-by-row in the reader.
  */
class ManifestStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mstats").toString
    new java.io.File(d).delete()
    d
  }

  /** four single-file appends with disjoint k ranges 0-9/10-19/20-29/30-39 */
  private def rangeTable(out: String): Unit = {
    import spark.implicits._
    (0 until 4).foreach { b =>
      (b * 10 until b * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
  }

  private def read(out: String, ddl: String = "k LONG, v STRING") =
    spark.read.format("graft.sources.ManifestSource")
      .schema(ddl).option("path", out).load()

  test("range filter plans only the files whose stats overlap") {
    val out = freshDir()
    rangeTable(out)
    val all = read(out)
    assert(all.queryExecution.toRdd.getNumPartitions == 4)

    val one = read(out).filter(col("k") >= 13 && col("k") <= 17)
    val got = one.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (13L to 17L))
    assert(one.queryExecution.toRdd.getNumPartitions == 1,
      "a 13..17 range must plan exactly the 10..19 file")
    assert(ManifestScanMetrics.skippedFiles(out) == 3 &&
      ManifestScanMetrics.candidateFiles(out) == 4)

    val none = read(out).filter(col("k") > 1000)
    assert(none.count() == 0)
    assert(none.queryExecution.toRdd.getNumPartitions == 0,
      "an out-of-range predicate must plan NO partitions")
  }

  test("string equality prunes via the per-file BLOOM where bounds can't") {
    val out = freshDir()
    rangeTable(out)
    // "v25" lives only in the 20..29 file: the Bloom says "definitely
    // absent" for the other three (no collation hazard — equality is
    // exact in both orders)
    val df = read(out).filter(col("v") === "v25")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(25L))
    assert(df.queryExecution.toRdd.getNumPartitions == 1,
      "bloom must prune the three files that can't contain v25")
    // a value in NO file plans nothing
    val none = read(out).filter(col("v") === "absent-value")
    assert(none.count() == 0)
    assert(none.queryExecution.toRdd.getNumPartitions == 0)
    // bloom-less legacy entries never prune: strip the string stats
    // (bloom AND the round-13 byte bounds) and re-check
    val mf = new java.io.File(out, "manifest.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    val noBloom = txt.replaceAll(""","bloom":"[^"]*"""", "")
      .replaceAll(""","slo":"[^"]*"""", "")
      .replaceAll(""","shi":"[^"]*","shix":(?:true|false)""", "")
    java.nio.file.Files.write(mf.toPath, noBloom.getBytes("UTF-8"))
    val all4 = read(out).filter(col("v") === "v25")
    assert(all4.collect().map(_.getLong(0)).toSeq == Seq(25L))
    assert(all4.queryExecution.toRdd.getNumPartitions == 4)
  }

  test("IS NULL prunes files with zero nulls; IS NOT NULL prunes all-null files") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    Seq((3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val nulls = read(out).filter(col("v").isNull)
    assert(nulls.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    assert(nulls.queryExecution.toRdd.getNumPartitions == 1)
    val nonNulls = read(out).filter(col("v").isNotNull)
    assert(nonNulls.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(nonNulls.queryExecution.toRdd.getNumPartitions == 1)
  }

  test("NaN poisons double bounds: no pruning, correct results") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, 1.5), (2L, Double.NaN), (3L, 99.0)).toDF("k", "d").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val df = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, d DOUBLE").option("path", out).load()
      .filter(col("d") > 1000.0)
    // Spark orders NaN GREATER than every double, so d > 1000 matches
    // the NaN row — a max bound computed over finite values only would
    // wrongly prune this file. NaN therefore poisons the bounds and
    // the file stays planned; the row-level filter then agrees with
    // Spark's NaN semantics and emits exactly the NaN row.
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("pre-stats manifests (no cols/stats entries) read fine and never prune") {
    import spark.implicits._
    val out = freshDir()
    rangeTable(out)
    // rewrite the manifest in the LEGACY entry format (strip cols/stats)
    val mf = new java.io.File(out, "manifest.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    val legacy = txt
      .replaceAll(""","cols":"[^"]*"""", "")
      .replaceAll(""","stats":\{[^{}]*(?:\{[^{}]*\}[^{}]*)*\}""", "")
    java.nio.file.Files.write(mf.toPath, legacy.getBytes("UTF-8"))
    assert(!legacy.contains("\"stats\""))
    val df = read(out).filter(col("k") >= 13 && col("k") <= 17)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (13L to 17L))
    assert(df.queryExecution.toRdd.getNumPartitions == 4,
      "legacy entries carry no stats — nothing may prune")
  }

  test("stats survive delete/upsert/compaction carry-forward") {
    val out = freshDir()
    rangeTable(out)
    graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, v STRING", "k = 15")
    // dv commit rebuilt the manifest: stats must still prune
    val df = read(out).filter(col("k") >= 13 && col("k") <= 17)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(13L, 14L, 16L, 17L))
    assert(df.queryExecution.toRdd.getNumPartitions == 1)
    // compaction rewrites through the sink, so fresh stats appear
    graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, v STRING", targetFiles = 2)
    val post = read(out).filter(col("k") > 1000)
    assert(post.count() == 0)
    assert(post.queryExecution.toRdd.getNumPartitions == 0,
      "compacted files must carry their own (recomputed) stats")
  }

  // ---- aggregate pushdown to manifest statistics ----

  test("global MIN/MAX/COUNT answered from stats: one metadata row, no file read") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, 2.5, "a"), (2L, -1.0, null.asInstanceOf[String]), (3L, 9.0, "c"))
      .toDF("k", "d", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    Seq((10L, 0.0, "z")).toDF("k", "d", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    def tbl() = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, d DOUBLE, s STRING").option("path", out).load()
    ManifestScanMetrics.reset(out)
    val df = tbl().agg(min("k"), max("k"), min("d"), max("d"),
      count(lit(1)), count(col("s")))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4), r.getLong(5)) == (1L, 10L, -1.0, 9.0, 4L, 3L))
    assert(ManifestScanMetrics.aggFromStats(out),
      "aggregate must be answered from manifest stats")
    assert(df.queryExecution.executedPlan.toString.contains("ManifestAggScan"),
      "plan must show the metadata-only scan:\n" +
        df.queryExecution.executedPlan)
    // a FILTERED aggregate can't use file-level stats: falls back to a
    // real scan with the same (correct) answer
    val f = tbl().filter(col("k") > 1).agg(min("k"), count(lit(1)))
    val fr = f.collect()(0)
    assert((fr.getLong(0), fr.getLong(1)) == (2L, 3L))
    assert(!f.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
    // min/max on a STRING column has no bounds: full fallback, right answer
    val s = tbl().agg(min("s"), count(lit(1)))
    val sr = s.collect()(0)
    assert(sr.getString(0) == "a" && sr.getLong(1) == 4L)
    assert(!s.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
  }

  test("delete vectors disable stats aggregates (gross vs net)") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    graft.sources.ManifestMaintenance.delete(spark, out, "k LONG, v STRING",
      "k = 3")
    val df = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING").option("path", out).load()
      .agg(max("k"), count(lit(1)))
    val r = df.collect()(0)
    // net of the delete — the gross manifest stats (max=3, count=3)
    // must NOT answer this
    assert((r.getLong(0), r.getLong(1)) == (2L, 2L))
    assert(!df.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
    // compaction consumes the dvs; stats aggregates re-arm
    graft.sources.ManifestMaintenance.compact(spark, out, "k LONG, v STRING")
    val post = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING").option("path", out).load()
      .agg(max("k"), count(lit(1)))
    val pr = post.collect()(0)
    assert((pr.getLong(0), pr.getLong(1)) == (2L, 2L))
    assert(post.queryExecution.executedPlan.toString.contains("ManifestAggScan"))
  }

  // ---- schema evolution ----

  test("added column reads as NULL from older files; by-name mapping") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    // generation 2 adds column n
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "n").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val df = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING, n LONG").option("path", out).load()
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", -1L), (2L, "b", -1L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // the absent column is all-NULL by construction: IS NOT NULL prunes
    // the gen-1 file without opening it
    val nn = df.filter(col("n").isNotNull)
    assert(nn.count() == 2 && nn.queryExecution.toRdd.getNumPartitions == 1)
    // reordered read schema resolves by name, not position
    val reordered = spark.read.format("graft.sources.ManifestSource")
      .schema("n LONG, k LONG").option("path", out).load()
      .collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1)))
      .sortBy(_._2).toSeq
    assert(reordered == Seq((-1L, 1L), (-1L, 2L), (30L, 3L), (40L, 4L)))
  }

  test("compaction homogenizes an evolved table (rows conserved, layout unified)") {
    import spark.implicits._
    val out = freshDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    Seq((3L, "c", 30L)).toDF("k", "v", "n").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val (nb, na) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, v STRING, n LONG")
    assert(nb == 2 && na == 1)
    val got = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING, n LONG").option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", -1L), (2L, "b", -1L), (3L, "c", 30L)))
    // post-compaction the table is single-layout again: the checksum
    // conservation leg re-arms on the next (pure) compaction
    graft.sources.ManifestMaintenance.delete(
      spark, out, "k LONG, v STRING, n LONG", "k = 2")
    val (nb2, na2) = graft.sources.ManifestMaintenance.compact(
      spark, out, "k LONG, v STRING, n LONG")
    assert(na2 == 1)
    val post = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, v STRING, n LONG").option("path", out).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(post == Seq(1L, 3L))
  }
}
