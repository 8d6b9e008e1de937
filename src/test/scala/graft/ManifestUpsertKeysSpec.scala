package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.sources.ManifestMaintenance.upsert]] matches a small batch's
  * keys as a collected key set and a larger one by a left-semi join
  * (past `spark.sql.autoBroadcastJoinThreshold`). Both must supersede
  * the same rows: equal values in the table's key types, a null key
  * never, -0.0 as 0.0, NaN as NaN, a key repeated in the batch once. */
class ManifestUpsertKeysSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ddl = "k LONG, d DOUBLE, s STRING, m DECIMAL(10,2), t TIMESTAMP, v STRING"

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_upkeys").toString
    new java.io.File(d).delete()
    d
  }

  private def df(rows: Seq[String]) = {
    val s = spark
    import s.implicits._
    rows.toDF("line").selectExpr(
      "try_cast(split(line, '\\\\|')[0] AS BIGINT) AS k",
      "try_cast(split(line, '\\\\|')[1] AS DOUBLE) AS d",
      "nullif(split(line, '\\\\|')[2], 'null') AS s",
      "try_cast(split(line, '\\\\|')[3] AS DECIMAL(10,2)) AS m",
      "try_cast(split(line, '\\\\|')[4] AS TIMESTAMP) AS t",
      "split(line, '\\\\|')[5] AS v")
  }

  // k | d | s | m | t | v ; an empty field casts to null
  private val base = Seq(
    "1|0.0|a|1.10|2024-01-01 00:00:00|b1",
    "2|-0.0|b|2.20|2024-01-02 00:00:00|b2",
    "3|NaN|c|3.30|2024-01-03 00:00:00|b3",
    "4|4.5|null|4.40|2024-01-04 00:00:00|b4",
    "|5.5|e|5.50||b5",
    "6|6.5|f||2024-01-06 00:00:00|b6",
    "7|7.5|g|7.70|2024-01-07 00:00:00|b7")

  private val updates = Seq(
    "1|-0.0|a|1.1|2024-01-01 00:00:00|u1",
    "2|0.0|b|2.2|2024-01-02 00:00:00|u2",
    "2|0.0|b|2.2|2024-01-02 00:00:00|u2",
    "3|NaN|zz|3.3|2024-01-03 00:00:00|u3",
    "|4.5|null|4.4|2024-01-04 00:00:00|u4",
    "|5.5|e|5.5||u5",
    "6|6.5|f||2024-01-06 00:00:00|u6",
    "9|9.5|i|9.9|2024-01-09 00:00:00|u9")

  private def table(): String = {
    val out = freshDir()
    df(base).coalesce(2).write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    out
  }

  private def contents(out: String): Seq[String] =
    spark.read.format("graft.sources.ManifestSource").schema(ddl)
      .option("path", out).load().collect().map(_.toString).sorted.toSeq

  private def upsert(keys: Seq[String], threshold: String) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try {
      val out = table()
      val n = graft.sources.ManifestMaintenance.upsert(
        spark, out, ddl, keys, df(updates))
      (n, contents(out))
    } finally spark.conf.set(key, saved)
  }

  for (keys <- Seq(Seq("k"), Seq("d"), Seq("s"), Seq("m"), Seq("t"),
      Seq("k", "d"), Seq("s", "m", "t")))
    test(s"collected keys and the semi-join supersede the same rows: ${keys.mkString(",")}") {
      val (collected, after) = upsert(keys, "10485760")
      val (joined, afterJoin) = upsert(keys, "-1")
      assert(collected == joined)
      assert(after == afterJoin)
      assert(collected._1 > 0 && collected._2 == updates.size)
    }

  test("a double key's -0.0 matches 0.0 and NaN matches NaN") {
    val ((superseded, _), after) = upsert(Seq("d"), "10485760")
    // 0.0, -0.0 (both by each of the batch's zeros), NaN, 4.5, 5.5, 6.5
    assert(superseded == 6L)
    assert(!after.exists(_.endsWith(",b1]")) && !after.exists(_.endsWith(",b3]")))
  }
}
