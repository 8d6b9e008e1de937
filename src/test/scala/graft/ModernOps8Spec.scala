package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q312 Theil–Sen, q313 CUSUM, q314 partition evolution (and its
  * pruned directory read). */
class ModernOps8Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def dailySeries(uid: Long): Array[(Int, Long)] =
    Tables.load(spark, dir, "events")
      .filter(col("user_id") === uid && col("value").isNotNull)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .as("di"))
      .agg((sum(col("value").cast("decimal(18,4)")) * 10000)
        .cast("long").as("c"))
      .orderBy("di").collect().map(r => (r.getInt(0), r.getLong(1)))

  test("q312 replays the Theil-Sen median-of-slopes per user") {
    val rows = SparkEntry.queries("q312_theilsen_trend")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDays, nPairs, _) =>
      assert(nPairs === nDays * (nDays - 1) / 2)
    }
    val (uid, _, _, slope) = rows.head
    val pts = dailySeries(uid)
    val slopes = (for {
      i <- pts.indices; j <- pts.indices if i < j
    } yield (pts(j)._2 - pts(i)._2).toDouble /
      (pts(j)._1 - pts(i)._1).toDouble).sorted
    assert(slope === slopes((slopes.length + 1) / 2 - 1),
      "slope must be the lower median of all pairwise slopes")
    // robustness: corrupting one day by 1000x moves the mean slope but
    // the median-of-slopes estimate stays within the original range
    val corrupted = pts.updated(pts.length / 2,
      (pts(pts.length / 2)._1, pts(pts.length / 2)._2 * 1000))
    val cSlopes = (for {
      i <- corrupted.indices; j <- corrupted.indices if i < j
    } yield (corrupted(j)._2 - corrupted(i)._2).toDouble /
      (corrupted(j)._1 - corrupted(i)._1).toDouble).sorted
    val cMedian = cSlopes((cSlopes.length + 1) / 2 - 1)
    val cMean = cSlopes.sum / cSlopes.length
    assert(math.abs(cMedian - slope) < math.abs(cMean - slope),
      "median-of-slopes must move less than the mean under one outlier")
  }

  test("q313 replays the CUSUM fold per user") {
    val rows = SparkEntry.queries("q313_cusum_changepoint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val (uid, nDays, cusumMax, perDay) = rows.head
    val xs = dailySeries(uid).map(_._2)
    assert(xs.length.toLong === nDays)
    val n = xs.length.toLong
    val t = xs.sum
    var s = 0L; var m = 0L
    xs.foreach { x =>
      s = math.max(0L, s + (n * x - t))
      m = math.max(m, s)
    }
    assert(cusumMax === m)
    assert(perDay === m.toDouble / (n.toDouble * n) / 10000)
    // the centered series sums to zero, so S always returns to 0 at
    // the end of a drift-free fold; max is what carries the signal
    assert(m >= 0L)
  }

  test("q314 prunes partitions in both layout generations") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val (v1, v2) = operators.LakehouseOps.writeEvolvedLayouts(spark, dir)
    def partDirs(p: String) = new java.io.File(p).listFiles()
      .count(f => f.isDirectory && !f.getName.startsWith("_"))
    val pred = col("l_shipdate") >= lit("1996-10-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-03-01").cast("timestamp")
    val hist = spark.read.parquet(v1)
      .filter(col("pm") >= "1996-10" && col("pm") <= "1997-03").filter(pred)
    val cur = spark.read.parquet(v2)
      .filter(col("pd") >= "1996-10-01" && col("pd") < "1997-03-01")
      .filter(pred)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    for ((df, root, total) <- Seq((hist, v1, partDirs(v1)), (cur, v2, partDirs(v2)))) {
      df.collect()
      val scan = scans(df.queryExecution.executedPlan).head
      assert(scan.partitionFilters.nonEmpty,
        s"partition filters must push into the $root scan")
      val read = scan.relation.location.inputFiles
        .map(_.split('/').takeRight(2).head).distinct.length
      assert(read <= total)
    }
    // correctness: evolved-layout union equals the straight base filter
    val evolved = hist.select("l_returnflag").unionByName(cur.select("l_returnflag")).count()
    val base = Tables.load(spark, dir, "lineitem").filter(pred).count()
    assert(evolved === base)
  }

  test("q314 pruned read: an unlistable layout root falls back to the full read") {
    // a root that is a plain parquet FILE lists as null: the full read
    // of the root still answers
    val file = java.nio.file.Files.createTempDirectory("graft_q314f")
      .resolve("one.parquet").toString
    spark.range(3).coalesce(1).write.parquet(file)
    val single = new java.io.File(file).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    assert(operators.LakehouseOps.prunedRead(spark, single, "pd", _ => true)
      .count() == 3)
    // a missing root fails loudly in Spark's path check, not with an NPE
    val missing = s"$file-missing"
    val e = intercept[Exception] {
      operators.LakehouseOps.prunedRead(spark, missing, "pd", _ => true)
    }
    assert(!e.isInstanceOf[NullPointerException])
    assert(e.getMessage.contains("missing"), e.getMessage)
  }
}
