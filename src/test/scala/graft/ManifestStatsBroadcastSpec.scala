package graft

import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `SupportsReportStatistics` on the manifest scan (q433's mechanism):
  * the reported bytes/rows — POST file skipping — drive Catalyst's
  * broadcast decision with no hints. Pins:
  *  - a small dim table broadcasts under the default threshold;
  *  - a table larger than the threshold does NOT broadcast;
  *  - stats are post-pushdown: a selective filter on a big table
  *    shrinks its reported size enough to flip the join to broadcast.
  */
class ManifestStatsBroadcastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_bc").toString
    new java.io.File(d).delete()
    d
  }

  /** n rows (k, pad) per file across `files` files. */
  private def table(path: String, files: Int, rowsPerFile: Int): Unit = {
    import spark.implicits._
    (0 until files).foreach { i =>
      (0 until rowsPerFile)
        .map(j => ((i * rowsPerFile + j).toLong,
          s"pad_${i}_${j}_" + "x" * 40))
        .toDF("k", "pad").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", path).mode("append").save()
    }
  }

  private def rd(path: String) =
    spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, pad STRING").option("path", path).load()

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def joins(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (plan.collect { case b: BroadcastHashJoinExec => b }.length,
      plan.collect { case s: SortMergeJoinExec => s }.length)
  }

  test("small dim broadcasts with no hint; big table does not") {
    val big = freshDir(); val dim = freshDir()
    table(big, files = 8, rowsPerFile = 2000) // ~200 KB total
    table(dim, files = 1, rowsPerFile = 50)   // ~8 KB
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "102400") { // 100 KB
      val (nb, _) = joins(rd(big).join(rd(dim), "k"))
      assert(nb == 1, "the 8 KB dim must broadcast from reported stats")
      // dim larger than the threshold: planner must NOT broadcast
      val (nb2, sm2) = joins(rd(big).join(rd(big).select(col("k")), "k"))
      assert(nb2 == 0 && sm2 == 1,
        "two big sides must sort-merge, not blind-broadcast")
    }
  }

  test("stats are post-pushdown: a pruned scan flips to broadcast") {
    val big = freshDir(); val other = freshDir()
    table(big, files = 8, rowsPerFile = 2000)   // 8 ~equal files
    table(other, files = 8, rowsPerFile = 2000)
    // threshold: half of one table's data bytes
    val half = new java.io.File(big).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum / 2
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> half.toString) {
      // unfiltered: both tables > threshold -> sort-merge
      val (nb0, sm0) = joins(rd(big).join(rd(other), "k"))
      assert(nb0 == 0 && sm0 == 1)
      // zone maps keep ONE file of 8 for k<2000 -> reported size
      // ~1/8 of the table < threshold -> THAT side broadcasts, no hint
      val (nb1, _) = joins(
        rd(other).join(rd(big).filter(col("k") < 2000), "k"))
      assert(nb1 == 1,
        "post-pushdown stats must reflect file skipping and flip the join")
    }
  }
}
