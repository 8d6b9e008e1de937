package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential pin of the manifest connector's pushed filters: every
  * pushable filter (`=`, `<`, `<=`, `>`, `>=`, StringStartsWith,
  * IS NULL, IS NOT NULL) on every stored type, evaluated by a manifest
  * scan and by Spark's own `filter` over the same rows in memory. The
  * rows carry the hazards the evaluator must get right:
  *  - -0.0 against 0.0, NaN, and the infinities;
  *  - a `12.3` literal against a stored `12.30`;
  *  - supplementary characters (Spark orders strings by unsigned UTF-8
  *    bytes, Java's String.compareTo by UTF-16 units) and multi-byte
  *    StartsWith prefixes;
  *  - NULLs, and a file written before the other columns were added,
  *    so every column but `k` is absent from it.
  * The same comparisons run on a small table (the row hand-off) and on
  * one padded past the columnar row gate (the columnar hand-off).
  */
class ManifestFilterPinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("b", BooleanType), StructField("ts", TimestampType),
    StructField("dec9", DecimalType(9, 2)),
    StructField("dec14", DecimalType(14, 2))))

  /** Rows the manifest scan's columnar row gate must reach. */
  private val PadRows = 262144

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
  private val t1 = ts("2024-03-01T10:11:12.123456Z")
  private val t2 = ts("2024-03-01T10:11:12.123457Z")
  private val t0 = ts("1969-12-31T23:59:59.999999Z")
  private def dec(s: String) = new java.math.BigDecimal(s)

  // k, i, d, s, b, ts, dec9, dec14
  private val hazards: Seq[Row] = Seq(
    Row(1L, 10, -0.0, "plain", true, t1, dec("12.30"), dec("12.30")),
    Row(2L, -7, 0.0, "é中😀x", false, t2, dec("-1.50"), dec("123456789.01")),
    Row(3L, 0, Double.NaN, "é中", true, t1, dec("12.31"), dec("-0.01")),
    Row(4L, null, 1.5, "😀", null, null, null, null),
    Row(5L, null, null, null, null, null, null, null),
    Row(6L, Int.MaxValue, -1.0e300, "", false, t0, dec("9999999.99"),
      dec("-999999999999.99")),
    Row(7L, Int.MinValue, Double.PositiveInfinity, "￿", true, t2,
      dec("0.00"), dec("12.30")),
    Row(8L, 1, Double.NegativeInfinity, "comma, \"q\"", false, t1,
      dec("-0.01"), dec("0.00")))
  // rows of the file written before ADD COLUMN: only `k` is stored
  private val oldKeys = Seq(100L, 101L)

  private def memRows: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(hazards ++ oldKeys.map(k =>
      Row.fromSeq(k +: Seq.fill(schema.length - 1)(null))): _*), schema)

  /** Deterministic filler rows that also meet every filter. */
  private def padRows: DataFrame = {
    val id = col("id")
    spark.range(PadRows).select(
      (id + 1000L).as("k"),
      when(id % 17 =!= 0, (id % 11 - 5).cast("int")).as("i"),
      when(id % 13 =!= 0, (id % 7 - 3).cast("double") * 0.5).as("d"),
      when(id % 19 =!= 0, concat(lit("p"), (id % 23).cast("string"))).as("s"),
      when(id % 29 =!= 0, id % 2 === 0).as("b"),
      when(id % 31 =!= 0, timestamp_micros(lit(1709287872123456L) + id % 5 - 2))
        .as("ts"),
      when(id % 37 =!= 0, ((id % 41 - 20) / 10).cast("decimal(9,2)")).as("dec9"),
      when(id % 43 =!= 0, ((id % 47) * 0.25).cast("decimal(14,2)")).as("dec14"))
  }

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_fpin").toString
    new java.io.File(d).delete()
    d
  }

  private def append(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()

  /** The old `k`-only file, then the typed rows, then optional filler. */
  private def table(padded: Boolean): String = {
    val path = freshDir()
    append(memRows.where(col("k") >= 100L).select("k"), path)
    append(memRows.where(col("k") < 100L), path)
    if (padded) append(padRows, path)
    path
  }

  private def scan(path: String): DataFrame = spark.read
    .format("graft.sources.ManifestSource").schema(schema)
    .option("path", path).load()

  private val conditions: Seq[Column] = {
    def cmps(c: String, lits: Seq[Any]): Seq[Column] = lits.flatMap { v =>
      val x = col(c); val l = lit(v)
      Seq(x === l, x < l, x <= l, x > l, x >= l)
    }
    val nulls = schema.fieldNames.toSeq.flatMap(c =>
      Seq(col(c).isNull, col(c).isNotNull))
    cmps("k", Seq(0L, 3L, 100L)) ++
      cmps("i", Seq(0, -7, Int.MaxValue, Int.MinValue)) ++
      cmps("d", Seq(-0.0, 0.0, Double.NaN, 1.5, Double.PositiveInfinity,
        Double.NegativeInfinity)) ++
      cmps("s", Seq("é中", "😀", "￿", "", "plain", "p1")) ++
      Seq("é中", "😀", "é", "p", "comma,").map(p => col("s").startsWith(p)) ++
      Seq(col("b") === lit(true), col("b") === lit(false)) ++
      cmps("ts", Seq(t1, t2, t0)) ++
      cmps("dec9", Seq(dec("12.3"), dec("-1.5"), dec("0"), dec("-0.01"))) ++
      cmps("dec14", Seq(dec("12.3"), dec("-0.01"), dec("123456789.01"))) ++
      nulls
  }

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  private def pin(path: String, reference: DataFrame, columnar: Boolean): Unit = {
    val plan = { val df = scan(path).filter(col("k") === 1L); df.collect()
      df.queryExecution.executedPlan.toString }
    assert(plan.contains("ColumnarToRow") == columnar,
      s"expected the ${if (columnar) "columnar" else "row"} hand-off:\n$plan")
    conditions.foreach { c =>
      val df = scan(path).filter(c)
      val got = keys(df)
      val pushed = df.queryExecution.executedPlan.toString
      assert(!pushed.contains("PushedFilters: []"),
        s"$c was not pushed to the scan:\n$pushed")
      val want = keys(reference.filter(c))
      assert(got == want, s"$c: scan ${got.diff(want).take(10)} extra, " +
        s"${want.diff(got).take(10)} missing")
    }
  }

  test("pushed filters agree with Spark on every type (row hand-off)") {
    pin(table(padded = false), memRows, columnar = false)
  }

  test("pushed filters agree with Spark on every type (columnar hand-off)") {
    pin(table(padded = true), memRows.unionByName(padRows), columnar = true)
  }
}
