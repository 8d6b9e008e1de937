package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 optimization internals.
  *
  * 1. ManifestParquetBatchReader (the batched column-chunk decode that
  *    replaced the row-at-a-time Group reader, decoding into the
  *    column vectors both scan hand-offs read): typed round trip with
  *    nulls, projection, row-group-range reads with file-global
  *    ordinals, and reused vectors and buffers never aliasing rows.
  * 2. ManifestCatalog ALTER fixes (round-15 ADVICE): the rename era is
  *    frozen at the PRE-rename head so `VERSION AS OF` the rename
  *    snapshot reads renamed data under the new name; stats keys are
  *    renamed structurally, never inside another column's string bounds.
  * 3. q321's small-vocabulary bitmask path and q244's length filter are
  *    pure candidate-pruning/verification rewrites — their outputs are
  *    pinned result-identical against the brute-force quadratic join.
  */
class R16OptimizationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_r16").toString
    new java.io.File(d).delete()
    d
  }

  // ---------------- batched parquet decode

  private def writeTyped(path: String): Unit = {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10), Some(1.5), Some("plain"), Some(true)),
      (2L, None, Some(-0.0), Some("comma, \"q\" \\b"), Some(false)),
      (3L, Some(-7), None, Some("unicode é中😀"), None),
      (4L, Some(0), Some(Double.MaxValue), None, Some(true)),
      (5L, None, None, None, None))
      .toDF("k", "i", "d", "s", "b")
      .withColumn("ts", when(col("k") =!= 2L,
        to_timestamp(lit("2024-03-01 10:11:12.123456"))))
      .withColumn("dec", when(col("k") =!= 3L,
        (col("k").cast("decimal(12,2)") * 7 / 4).cast("decimal(12,2)")))
    df.write.format("graft.sources.ManifestSink")
      .option("path", path)
      .mode("append").save()
  }

  private val typedDdl =
    "k BIGINT, i INT, d DOUBLE, s STRING, b BOOLEAN, " +
      "ts TIMESTAMP, dec DECIMAL(12,2)"

  test("batched decode: typed round trip with nulls matches the writer") {
    val path = freshDir()
    writeTyped(path)
    val got = spark.read.format("graft.sources.ManifestSource")
      .schema(typedDdl).option("path", path).load()
      .orderBy("k").collect()
    assert(got.length == 5)
    val r2 = got(1) // k=2: null i, -0.0 d, hazard string, null ts
    assert(r2.isNullAt(1) && r2.getDouble(2) == -0.0 &&
      r2.getString(3) == "comma, \"q\" \\b" && !r2.getBoolean(4) &&
      r2.isNullAt(5))
    val r5 = got(4) // k=5: null i/d/s/b, ts and dec present
    assert((1 to 4).forall(r5.isNullAt) && !r5.isNullAt(5) && !r5.isNullAt(6))
    assert(got(0).getDecimal(6).toPlainString == "1.75")
  }

  test("batched decode: projection reads only requested columns") {
    val path = freshDir()
    writeTyped(path)
    // projected read (column pruning path) + filtered read (pushed
    // filter path) both serve from the decode vectors
    val proj = spark.read.format("graft.sources.ManifestSource")
      .schema(typedDdl).option("path", path).load()
      .select("s", "k").where("k >= 2").orderBy("k").collect()
    assert(proj.map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("comma, \"q\" \\b"), Some("unicode é中😀"), None, None))
  }

  test("batched decode: row-group splits keep file-global _mf_pos (dv)") {
    val path = freshDir()
    // tiny row groups force multi-group files and row-group splits
    spark.conf.set("parquet.rowgroup.row.count.limit", "3")
    try {
      import spark.implicits._
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
        .coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", path)
        .mode("append").save()
    } finally spark.conf.unset("parquet.rowgroup.row.count.limit")
    def read() = spark.read.format("graft.sources.ManifestSource")
      .schema("k BIGINT, v STRING").option("path", path).load()
    assert(read().count() == 10)
    // delete by ordinal: dv positions must line up across rg splits
    graft.sources.ManifestMaintenance.delete(
      spark, path, "k BIGINT, v STRING", "k % 3 = 0")
    assert(read().orderBy("k").select("k").collect().map(_.getLong(0))
      .toSeq == Seq(1L, 2L, 4L, 5L, 7L, 8L))
  }

  test("reader hot loop: reused filter/remap buffers never alias rows") {
    // The per-row filter-rendering and schema-evolution remap buffers
    // are REUSED across rows (r16 per-task-work pass); rows with
    // alternating null patterns + a string filter would surface any
    // cross-row aliasing (a stale slot passing/failing the filter or
    // leaking a neighbor's value), with the read schema reordered
    // against the file's column order.
    import spark.implicits._
    val path = freshDir()
    val rows = (0L until 200L).map { i =>
      (i,
        if (i % 3 == 0) None else Some(s"s${i % 7}"),
        if (i % 2 == 0) None else Some(i * 11))
    }
    rows.toDF("k", "s", "extra")
      .write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()
    // read under a REORDERED schema (extra before s)
    val got = spark.read.format("graft.sources.ManifestSource")
      .schema("k BIGINT, extra BIGINT, s STRING")
      .option("path", path).load()
      .where("s = 's1' AND k < 100") // pushed to the scan
      .orderBy("k").collect()
    val want = rows.filter(r => r._2.contains("s1") && r._1 < 100)
    assert(got.map(_.getLong(0)).toSeq == want.map(_._1))
    assert(got.forall(r => r.getString(2) == "s1"))
    assert(got.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      want.map(r => r._3.getOrElse(-1L)))
  }

  // ---------------- ALTER fixes (round-15 ADVICE)

  private def freshCatalog(): String = {
    val base = java.nio.file.Files.createTempDirectory("graft_r16c").toString
    val name = "r16c_" + math.abs(base.hashCode)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
    name
  }

  test("RENAME era freeze: VERSION AS OF the rename snapshot uses new name") {
    val cat = freshCatalog()
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')") // v1
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w") // publishes v2 (renamed)
    spark.sql(s"INSERT INTO $t VALUES (2, 'b')") // v3
    // v1 (pre-rename) reads under the OLD name
    val v1 = spark.sql(s"SELECT * FROM $t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.collect().map(_.getString(1)).toSeq == Seq("a"))
    // v2 = the rename snapshot itself: NEW name, and the renamed column
    // must NOT read as NULL (the round-15 ADVICE bug froze the era at
    // the post-rename head, silently serving all-NULL here)
    val v2 = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("k", "w"))
    assert(v2.collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(spark.sql(s"SELECT w FROM $t ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("renameStatsKey: same bytes inside a string bound are untouched") {
    // column "from" renamed to "to2"; another column's recorded string
    // max CONTAINS the byte sequence "from":{ — a blind replace corrupts
    val stats = """{"from":{"nulls":0,"min":1,"max":9},""" +
      """"txt":{"nulls":0,"min":"a","max":"x\"from\":{y"}}"""
    val out = graft.sources.ManifestCatalog.renameStatsKeyForTest(
      stats, "from", "to2")
    assert(out.contains(""""to2":{"nulls":0,"min":1,"max":9}"""))
    assert(out.contains(""""max":"x\"from\":{y""""), out)
  }

  // ---------------- q321/q244 rewrites stay result-identical

  test("q321 array fallback (vocab > 64) equals brute-force quadratic") {
    // ModernOps11Spec pins the real corpus (vocab 31 -> the bitmask fast
    // path); this corpus has a 100-token vocabulary, forcing the array
    // verification path the fast path replaced.
    import spark.implicits._
    val vocab = (0 until 100).map(i => f"tok$i%03d")
    def text(ids: Seq[Int]) = ids.map(vocab).mkString(" ")
    val docs = Seq(
      (1L, text(0 until 40)),
      (2L, text(0 until 39) + " " + vocab(41)), // J = 39/41 < 0.95
      (3L, text(0 until 40)), // J(1,3) = 1
      (4L, text((0 until 40).map(_ + 39))), // 1/79
      (5L, text(0 until 38) + " " + text(Seq(38, 39))), // = doc1 tokens
      (6L, text(60 until 100))).toDF("doc_id", "text")
    val dir = freshDir()
    new java.io.File(dir).mkdirs()
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q321_ppjoin_exact_similarity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val sets = Map(1L -> (0 until 40).toSet, 2L -> ((0 until 39).toSet + 41),
      3L -> (0 until 40).toSet, 4L -> (0 until 40).map(_ + 39).toSet,
      5L -> (0 until 40).toSet, 6L -> (60 until 100).toSet)
    val want = (for {
      d1 <- sets.keys; d2 <- sets.keys if d1 < d2
      inter = (sets(d1) & sets(d2)).size
      union = sets(d1).size + sets(d2).size - inter
      if inter * 20 >= 19 * union
    } yield (d1, d2, inter.toLong, union.toLong,
      inter.toLong * 100 / union)).toSeq.sorted
    assert(got == want && want.nonEmpty)
  }
}
