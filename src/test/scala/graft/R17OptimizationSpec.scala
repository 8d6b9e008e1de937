package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization internals.
  *
  * 1. Columnar hand-off (`supportColumnarReads` + OnHeapColumnVector):
  *    a manifest snapshot above the row gate is served as
  *    ColumnarBatches, so whole-stage codegen iterates vectors instead
  *    of one InternalRow per row. Pinned here: the executed plan
  *    actually goes columnar (ColumnarToRow present) above the gate and
  *    stays row-based below it, values/nulls/meta columns are identical
  *    to the row path (canonical line hashes agree), delete vectors and
  *    pushed filters survive, and small (int-backed) and large
  *    (long-backed) decimals land in the right vector layout.
  */
class R17OptimizationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_r17").toString
    new java.io.File(d).delete()
    d
  }

  private val ddl =
    "k BIGINT, i INT, d DOUBLE, s STRING, b BOOLEAN, " +
      "ts TIMESTAMP, dec9 DECIMAL(9,2), dec18 DECIMAL(14,2)"

  private def typedDf = {
    import spark.implicits._
    Seq(
      (1L, Some(10), Some(1.5), Some("plain"), Some(true)),
      (2L, None, Some(-0.0), Some("comma, \"q\" \\b"), Some(false)),
      (3L, Some(-7), None, Some("unicode é中😀"), None),
      (4L, Some(0), Some(123.25), None, Some(true)),
      (5L, None, None, None, None))
      .toDF("k", "i", "d", "s", "b")
      .withColumn("ts", when(col("k") =!= 2L,
        to_timestamp(lit("2024-03-01 10:11:12.123456"))))
      .withColumn("dec9", when(col("k") =!= 3L,
        (col("k") * 3 - 7).cast("decimal(9,2)")))
      .withColumn("dec18", when(col("k") =!= 4L,
        (col("k").cast("decimal(14,2)") * 1234567 / 4).cast("decimal(14,2)")))
  }

  private def writeTable(path: String): Unit =
    typedDf.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()

  private def read(path: String) = spark.read
    .format("graft.sources.ManifestSource")
    .schema(ddl).option("path", path).load()

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force execution so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  /** Appends one file of filler rows that takes the snapshot past the
    * columnar row gate (fixture scans stay row-based below it): `k` is
    * negative and every other column is absent, so `k >= 0` selects the
    * typed rows again. */
  private def padPastGate(path: String): Unit =
    spark.range(graft.sources.ManifestScan.ColumnarMinRows)
      .select((-col("id") - 1L).as("k")).coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()

  test("columnar hand-off: large scans go columnar, small ones stay row-based") {
    val pq = freshDir()
    writeTable(pq)
    val rowPlan = executedPlan(read(pq))
    assert(!rowPlan.contains("ColumnarToRow"),
      s"a scan under the row gate must stay row-based:\n$rowPlan")
    padPastGate(pq)
    val colPlan = executedPlan(read(pq))
    assert(colPlan.contains("ColumnarToRow"),
      s"a scan over the row gate should hand off vectors:\n$colPlan")
  }

  test("columnar values identical to the row path (incl. linehash)") {
    val pq = freshDir()
    writeTable(pq)
    // data columns + every row-identity meta column
    def rows() = spark.read
      .format("graft.sources.ManifestSource")
      .schema(ddl).option("path", pq)
      .option("metadata", "true").load()
      .where("k >= 0").orderBy("k").collect().map(_.toSeq).toSeq
    val rowPath = rows()
    assert(rowPath.length == 5)
    padPastGate(pq)
    assert(rowPath == rows())
  }

  test("columnar: pushed filter + delete vectors + decimal layouts") {
    val pq = freshDir()
    writeTable(pq)
    padPastGate(pq)
    val n = graft.sources.ManifestMaintenance.delete(
      spark, pq, ddl, "k = 4")
    assert(n == 1)
    val df = read(pq).where("k >= 2").select("k", "dec9", "dec18", "s")
    val plan = executedPlan(df)
    assert(plan.contains("ColumnarToRow"), plan)
    val got = df.orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(2L, 3L, 5L))
    // k=2: dec9 = 2*3-7 = -1.00 (int-backed vector), dec18 present
    assert(got(0).getDecimal(1).toPlainString == "-1.00")
    assert(got(0).getDecimal(2).toPlainString == "617283.50")
    // k=3: dec9 null, dec18 present; k=5: s null
    assert(got(1).isNullAt(1) && !got(1).isNullAt(2))
    assert(got(2).isNullAt(3))
  }

  test("decimal zone maps: disjoint files prune on a decimal predicate") {
    import spark.implicits._
    val out = freshDir()
    (0 until 3).foreach { i =>
      (i * 100 until (i + 1) * 100)
        .map(j => (j.toLong, BigDecimal(j) + BigDecimal("0.25")))
        .toDF("k", "dec").withColumn("dec", col("dec").cast("decimal(12,2)"))
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", out)
        .mode("append").save()
    }
    val df = spark.read.format("graft.sources.ManifestSource")
      .schema("k BIGINT, dec DECIMAL(12,2)").option("path", out).load()
      .filter("dec > 250.00")
    assert(df.count() == 50) // 250.25 .. 299.25
    assert(graft.sources.ManifestScanMetrics.candidateFiles(out) == 3)
    assert(graft.sources.ManifestScanMetrics.skippedFiles(out) == 2,
      "two files' decimal ranges prove emptiness")
  }

  test("decimal + string ROW-GROUP zone maps prune inside one file") {
    import spark.implicits._
    val out = freshDir()
    val saved = spark.conf.getOption("parquet.rowgroup.row.count.limit")
    spark.conf.set("parquet.rowgroup.row.count.limit", "500")
    try (0L until 5000L)
      .map(k => (k, BigDecimal(k) / 100, f"s$k%08d"))
      .toDF("k", "dec", "s")
      .withColumn("dec", col("dec").cast("decimal(12,2)"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft.sources.ManifestSink")
      .option("path", out)
      .mode("append").save()
    finally saved.fold(spark.conf.unset("parquet.rowgroup.row.count.limit"))(
      spark.conf.set("parquet.rowgroup.row.count.limit", _))
    def scan = spark.read.format("graft.sources.ManifestSource")
      .schema("k BIGINT, dec DECIMAL(12,2), s STRING")
      .option("path", out).load()
    // decimal rg probe: rows 1200..1800 live in groups 2 and 3 of 10
    val dec = scan.filter("dec >= 12.00 AND dec <= 18.00")
    assert(dec.count() == 601)
    assert(graft.sources.ManifestScanMetrics.candidateRowGroups(out) == 10)
    assert(graft.sources.ManifestScanMetrics.plannedRowGroups(out) == 2,
      "decimal row-group zone maps must skip non-overlapping groups")
    // string rg probe over the same sorted layout (s sorts like k)
    val str = scan.filter("s >= 's00001200' AND s <= 's00001800'")
    assert(str.count() == 601)
    assert(graft.sources.ManifestScanMetrics.plannedRowGroups(out) == 2,
      "string row-group byte bounds must skip non-overlapping groups")
  }

  test("bitset adjacency == sorted-merge intersection on random sets") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // deterministic pseudo-random id sets in [0, 1000): the bitmask
    // verify (graft_bitset + graft_bitand_count) must count exactly
    // what the two-pointer sorted merge (graft_isect_count) counts —
    // the q209 dense-path/general-path equivalence, pinned directly on
    // the expressions (the query-level brute-force pin is GraphOpsSpec)
    val rows = (0 until 200).map { i =>
      val a = (0 until 120).map(j => ((i * 7919 + j * 104729) % 1000).toLong)
        .distinct.sorted
      val b = (0 until 90).map(j => ((i * 31337 + j * 7907) % 1000).toLong)
        .distinct.sorted
      (a, b)
    }
    val got = rows.toDF("a", "b").selectExpr(
      "graft_isect_count(a, b) AS merge_cnt",
      "graft_bitand_count(graft_bitset(a, 16), graft_bitset(b, 16)) AS bit_cnt")
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"merge=${r.getLong(0)} bitset=${r.getLong(1)}"))
    // out-of-range ids fail LOUDLY (never alias another vertex) — the
    // query-side guard (max id < 16384) keeps this unreachable in q209
    val err = intercept[Exception] {
      Seq((Seq(1024L), Seq(1L))).toDF("a", "b")
        .selectExpr("graft_bitand_count(graft_bitset(a, 16), graft_bitset(b, 16))")
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("direct-consumer parquet writer: bytes identical to Group writer") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 2))))
    val conf = new org.apache.hadoop.conf.Configuration()
    // (k, i, d, s, b, tsMicros, decUnscaled) with nulls sprinkled
    val rows: Seq[Array[Any]] = (0 until 2000).map { j =>
      Array[Any](
        j.toLong,
        if (j % 7 == 0) null else Integer.valueOf(j * 3),
        if (j % 5 == 0) null else java.lang.Double.valueOf(j / 3.0),
        if (j % 11 == 0) null else s"value_$j é${j % 13}",
        if (j % 3 == 0) null else java.lang.Boolean.valueOf(j % 2 == 0),
        if (j % 13 == 0) null else java.lang.Long.valueOf(1700000000000000L + j),
        if (j % 17 == 0) null else java.lang.Long.valueOf(j * 125L + 7))
    }
    val d = java.nio.file.Files.createTempDirectory("graft_pqw").toString
    val p1 = new org.apache.hadoop.fs.Path(d, "group.parquet")
    val p2 = new org.apache.hadoop.fs.Path(d, "direct.parquet")
    val (gw, gf) = graft.sources.ManifestParquet.writer(p1, schema, conf)
    rows.foreach { v =>
      val g = gf.newGroup()
      if (v(0) != null) g.add(0, v(0).asInstanceOf[Long])
      if (v(1) != null) g.add(1, v(1).asInstanceOf[Integer].intValue)
      if (v(2) != null) g.add(2, v(2).asInstanceOf[java.lang.Double].doubleValue)
      if (v(3) != null) g.add(3, v(3).asInstanceOf[String])
      if (v(4) != null) g.add(4, v(4).asInstanceOf[java.lang.Boolean].booleanValue)
      if (v(5) != null) g.add(5, v(5).asInstanceOf[java.lang.Long].longValue)
      if (v(6) != null) g.add(6, v(6).asInstanceOf[java.lang.Long].longValue)
      gw.write(g)
    }
    gw.close()
    val dw = new graft.sources.ManifestParquet.RowParquetWriter(p2, schema, conf)
    val names = schema.fieldNames
    rows.foreach { v =>
      dw.write { rc =>
        var i = 0
        while (i < 7) {
          if (v(i) != null) {
            rc.startField(names(i), i)
            i match {
              case 0 => rc.addLong(v(0).asInstanceOf[Long])
              case 1 => rc.addInteger(v(1).asInstanceOf[Integer].intValue)
              case 2 => rc.addDouble(v(2).asInstanceOf[java.lang.Double].doubleValue)
              case 3 => rc.addBinary(org.apache.parquet.io.api.Binary
                .fromString(v(3).asInstanceOf[String]))
              case 4 => rc.addBoolean(v(4).asInstanceOf[java.lang.Boolean].booleanValue)
              case _ => rc.addLong(v(i).asInstanceOf[java.lang.Long].longValue)
            }
            rc.endField(names(i), i)
          }
          i += 1
        }
      }
    }
    dw.close()
    val b1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, "group.parquet"))
    val b2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d, "direct.parquet"))
    assert(java.util.Arrays.equals(b1, b2),
      s"files differ: group=${b1.length}B direct=${b2.length}B")
  }

  test("co-supply edge projection: join-free plan, brute-force-identical set") {
    // The generator reshape (groupBy + collect_set + in-row pair explode
    // replacing distinct + count-per-part + self-join) must keep the
    // EXACT edge set — including the PartCap drop and the u < v
    // orientation — and must plan with no join and at most 2 exchanges.
    val dir = "/root/testdata/sf0.001"
    val df = operators.OperatorTestAccess.coSupplyEdges(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"edge projection must be join-free:\n$plan")
    assert("Exchange".r.findAllIn(
      df.queryExecution.executedPlan.treeString).length <= 2)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ps = Tables.load(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val expected = ps.groupBy(_._1).filter(_._2.length <= 50).values.flatMap {
      sup =>
        val ss = sup.map(_._2).sorted
        for (i <- ss.indices; j <- (i + 1) until ss.length)
          yield (ss(i), ss(j))
    }.toSet
    assert(got === expected)
    assert(got.forall { case (u, v) => u < v })
  }

  test("direct lineage store write: Catalyst hash ids, Spark-readable schema") {
    import org.apache.spark.sql.functions._
    val d = freshDir()
    val res = lineage.LineageRunner.run(spark,
      """select col100l, col101s from dw.tab10 where col100l > 0;
        |create table adhoc.r17pin as select col200l as k, count(1) as c
        |from dw.tab20 group by col200l;""".stripMargin)
    lineage.LineageStore.write(spark, "r17pin.sql", res, d, system = "dashboard")
    // every entity table reads back through plain spark.read.parquet
    val edges = spark.read.parquet(s"$d/select_item_rel")
    val items = spark.read.parquet(s"$d/select_item")
    val datasets = spark.read.parquet(s"$d/dataset")
    val src = spark.read.parquet(s"$d/sql_source")
    val links = spark.read.parquet(s"$d/dashboard_dataset")
    assert(edges.schema("id").dataType.typeName == "long")
    assert(items.schema("is_simple_column").dataType.typeName == "boolean")
    assert(datasets.schema("defined_name").dataType.typeName == "string")
    // ids are EXACTLY abs(xxhash64(...)) over the declared column lists —
    // the contract every pre-r17 store was written with
    assert(edges.filter(col("id") =!= abs(xxhash64(col("sql_source_id"),
      col("target"), col("out_column"), col("parent_schema"),
      col("parent_table"), col("parent_column"), col("usage_context"))))
      .count() == 0)
    assert(items.filter(col("id") =!= abs(xxhash64(col("sql_source_id"),
      col("target"), col("name"), col("definition"), col("usage_context"),
      col("ds_type")))).count() == 0)
    assert(datasets.filter(col("id") =!= abs(xxhash64(col("sql_source_id"),
      col("defined_name"), col("type"), col("map_to_schema"),
      col("map_to_table")))).count() == 0)
    // id dedup actually deduplicates
    assert(edges.count() == edges.select("id").distinct().count())
    // dashboard links point at real dataset ids of the same source
    val dsIds = datasets.select("id").collect().map(_.getLong(0)).toSet
    val linkRows = links.collect()
    assert(linkRows.nonEmpty)
    assert(linkRows.forall(r => dsIds.contains(r.getLong(0))))
    assert(src.count() == 1 &&
      src.head().getAs[String]("system_source") == "dashboard")
    spark.sql("DROP TABLE IF EXISTS adhoc.r17pin")
  }
}
