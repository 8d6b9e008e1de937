package graft

import graft.lineage.SqlPreprocessor
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-8 ADVICE fixes:
  *  - DialectParser is native-first (valid standard SQL is never
  *    text-rewritten; only a ParseException triggers the dialect pass);
  *  - token-level dialect rewrites are quote-aware;
  *  - ManifestSink escapes CSV fields and guards concurrent commits;
  *  - CentsMean rounds half away from zero (SQL round semantics);
  *  - q258 fails loudly on over-capped LSH buckets instead of silently
  *    dropping their pairs.
  * Expected values are computed independently of the code under test.
  */
class AdviceFixSpec2 extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dialectParser = new graft.plans.DialectParser(
    new org.apache.spark.sql.execution.SparkSqlParser())

  test("DialectParser leaves valid standard SQL untouched (native-first)") {
    // a table literally named `qualify` — the old always-rewrite pass
    // mangled this into invalid SQL; native-first must parse it as-is
    val p1 = dialectParser.parsePlan("SELECT * FROM qualify WHERE x > 1")
    assert(p1.toString.contains("qualify"))
    // `activity_count` as a real column name must survive
    val p2 = dialectParser.parsePlan("SELECT activity_count FROM t")
    assert(p2.toString.contains("activity_count"))
    assert(!p2.toString.contains("CAST(0"))
    // `max(a, b)` inside a string literal must survive
    val p3 = dialectParser.parsePlan("SELECT 'call max(a, b) now' AS s")
    assert(p3.toString.contains("call max(a, b) now"))
  }

  test("DialectParser still rewrites genuine dialect statements on parse failure") {
    // T-SQL TOP fails native parse -> rewritten to LIMIT
    val p = dialectParser.parsePlan("SELECT TOP 3 x FROM t")
    assert(p.toString.toLowerCase.contains("limit")
      || p.toString.contains("GlobalLimit") || p.toString.contains("3"))
    // nonsense SQL that the rewrite does not change: the ORIGINAL
    // ParseException propagates (no misleading second error)
    intercept[ParseException] {
      dialectParser.parsePlan("SELEC x FROM")
    }
  }

  test("dialect token rewrites are quote-aware") {
    // inside string literals: untouched
    val lit = "SELECT 'use max(a, b) or activity_count' AS s FROM t"
    assert(SqlPreprocessor.rewriteDialect(lit) == lit)
    // inside backtick identifiers: untouched
    val bt = "SELECT `activity_count` FROM t"
    assert(SqlPreprocessor.rewriteDialect(bt) == bt)
    // outside quotes: still rewritten
    assert(SqlPreprocessor.rewriteDialect("SELECT max(a, b) FROM t")
      == "SELECT greatest(a, b) FROM t")
    assert(SqlPreprocessor.rewriteDialect("SELECT activity_count FROM t")
      == "SELECT CAST(0 AS BIGINT) FROM t")
    // escaped quote inside a literal does not end the masked span
    val esc = "SELECT 'it''s max(a, b)' AS s FROM t"
    assert(SqlPreprocessor.rewriteDialect(esc) == esc)
  }

  test("CentsMean rounds half away from zero like SQL round") {
    // -1.125 * 100 == -112.5 exactly in IEEE double: SQL round gives
    // -113 (away from zero); math.round would give -112 (toward +inf)
    assert(graft.functions.CentsMean.reduce((0L, 0L), -1.125) == ((1L, -113L)))
    assert(graft.functions.CentsMean.reduce((0L, 0L), 1.125) == ((1L, 113L)))
    assert(graft.functions.CentsMean.reduce((0L, 0L), -1.23) == ((1L, -123L)))
    // end-to-end through the public udaf surface on negative halves
    spark.udf.register("advice_cents_mean",
      org.apache.spark.sql.functions.udaf(graft.functions.CentsMean,
        org.apache.spark.sql.Encoders.DOUBLE))
    val m = spark.sql(
      "SELECT advice_cents_mean(v) AS m FROM VALUES (-1.125D), (-2.125D) t(v)")
      .head().getDouble(0)
    // cents: -113 + -213 = -326; mean = -3.26/2 = -1.63
    assert(m == -1.63)
  }

  test("q258 fails loudly when an LSH band bucket exceeds the cap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q258_cap").toString
    // 10001 identical payloads -> identical pHash -> every band bucket
    // holds 10001 > 10000 members
    (1L to 10001L).map(i => (i, "identical payload"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q258 = graft.operators.MultimodalOps.defs
      .find(_.name == "q258_phash_neardup").get
    val e = intercept[IllegalStateException] {
      q258.fn(spark, dir).collect()
    }
    assert(e.getMessage.contains("band bucket"))
  }

  test("ManifestSink round-trips commas, quotes and newlines in strings") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_esc").toString
    val data = Seq(
      (1L, "plain"),
      (2L, "comma, inside"),
      (3L, "quote \" inside"),
      (4L, "line\nbreak"),
      (5L, "back\\slash"),
      (6L, "all, of \"them\"\ntogether\\now"))
    import spark.implicits._
    data.toDF("k", "s").repartition(2)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val manifest = spark.read.option("multiLine", "true")
      .json(s"$out/manifest.json")
    assert(manifest.selectExpr("total_rows").head().getLong(0) == data.size)
    val files = manifest.selectExpr("explode(files.file) AS f")
      .collect().map(r => s"$out/${r.getString(0)}")
    // the paired ManifestSource reader must see exactly the original
    // values
    val back = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == data.toSet)
    // and the data files hold exactly the manifest's row count (the
    // tamper guard relies on it)
    assert(spark.read.parquet(files: _*).count() == data.size)
  }

  test("ManifestSink refuses to commit while another commit holds the lock") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink_lock").toString
    java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_commit.lock"))
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "a")).toDF("k", "s")
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(
        _.contains("concurrent commit"))))
  }
}
