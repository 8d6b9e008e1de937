package graft

import org.scalatest.funsuite.AnyFunSuite

/** TIMESTAMP / DECIMAL / BOOLEAN columns through the manifest
  * connector (q439's mechanism). The canonical row rendering — micros
  * digits, plain-scale decimal, true/false — is what checksums and
  * delete vectors hash (values pinned in ManifestIdentityPinSpec). Pins:
  *  - value round trip through the row and the columnar read paths;
  *  - timestamp zone maps prune files AND row groups;
  *  - pushed equality on decimal/boolean evaluates correctly.
  */
class ManifestTypedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_typ").toString
    new java.io.File(d).delete()
    d
  }

  private val Ddl = "ts TIMESTAMP, amt DECIMAL(14,2), flag BOOLEAN, k BIGINT"

  /** k rows with ts = epoch + i hours, amt = i + i/100, flag = even. */
  private def fixture(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(3600L * i)),
        new java.math.BigDecimal(s"$i.${"%02d".format(i % 100)}"),
        i % 2 == 0, i.toLong)
    }.toDF("ts", "amt", "flag", "k")
      .select(col("ts"), col("amt").cast("decimal(14,2)"),
        col("flag"), col("k"))
  }

  private def scan(out: String) = spark.read
    .format("graft.sources.ManifestSource")
    .schema(Ddl).option("path", out).load()

  test("typed values round-trip identically through the row and columnar paths") {
    val pq = freshDir()
    fixture(50).coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", pq).mode("append").save()
    val a = scan(pq).orderBy("k").collect()
    // the reader re-renders exactly the writer's canonical lines: its
    // line hashes sum to the file checksum the sink recorded
    val pe = graft.sources.ManifestRead.entries(pq, "manifest.json").head
    val hashes = spark.read.format("graft.sources.ManifestSource")
      .schema(Ddl).option("path", pq).option("metadata", "true").load()
      .select("_mf_linehash").collect().map(_.getLong(0))
    assert(pe.rows == 50 && hashes.sum == pe.checksum)
    // a filler file (k < 0, other columns absent) takes the snapshot
    // past the columnar row gate; the scan pushes no filter, so the
    // decode vectors go to Spark as they are, and the filler sorts
    // before the typed rows
    spark.range(graft.sources.ManifestScan.ColumnarMinRows)
      .select((-col("id") - 1L).as("k")).coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", pq).mode("append").save()
    val b = scan(pq).orderBy("k").tail(50)
    assert(a.length == 50 && a.sameElements(b))
    val r = a(13)
    assert(r.getTimestamp(0) == java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T13:00:00Z")))
    assert(r.getDecimal(1) == new java.math.BigDecimal("13.13"))
    assert(!r.getBoolean(2))
  }

  test("timestamp zone maps prune files a time-range probe can't hit") {
    val out = freshDir()
    // 4 appends with disjoint 25-hour ts ranges = 4 files
    (0 until 4).foreach { b =>
      fixture(100).filter(col("k") >= b * 25 && col("k") < (b + 1) * 25)
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out)
        .mode("append").save()
    }
    val probe = scan(out).filter(
      "ts >= TIMESTAMP '2024-03-02 04:00:00Z' AND " +
        "ts < TIMESTAMP '2024-03-03 00:00:00Z'") // hours 28..47 = file 2
    assert(probe.count() == 20)
    assert(graft.sources.ManifestScanMetrics.candidateFiles(out) == 4)
    assert(graft.sources.ManifestScanMetrics.plannedFiles(out) == 1,
      "timestamp zone maps must prune the other three files")
  }

  test("pushed equality on decimal and boolean evaluates exactly") {
    val out = freshDir()
    fixture(50).coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", out)
      .mode("append").save()
    assert(scan(out).filter("amt = 7.07").count() == 1)
    assert(scan(out).filter("amt = 7.0700").count() == 1, "value equality")
    assert(scan(out).filter("flag = true").count() == 25)
    assert(scan(out).filter("flag = false").count() == 25)
    assert(scan(out).filter("ts = TIMESTAMP '2024-03-01T05:00:00Z'")
      .count() == 1)
  }
}
