package graft.sources

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[ShippedConf]] reuses one broadcast while the session's Hadoop conf
  * stays the same, ships a changed conf again, never serves a stopped
  * context's broadcast, and hands tasks a value that no operation
  * mutates. */
class ManifestShippedConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ddl = "k LONG, s STRING"
  private val RgLimit = "parquet.rowgroup.row.count.limit"

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("every op kind reuses one broadcast and leaves its value unchanged") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_shipped").toString
    val table = s"$base/t"
    val cat = "cat_shipped"
    // the catalog conf is set before the first op: a session conf change
    // is a new conf, shipped again
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    try {
      def rows(ks: Range) = ks.map(k => (k.toLong, s"v$k")).toDF("k", "s")
      def append(ks: Range): Unit =
        rows(ks).coalesce(1).write.format("graft.sources.ManifestSink")
          .option("path", table).mode("append").save()
      rows(150 until 250).coalesce(1).write.parquet(s"$base/updates")
      append(0 until 200)
      val first = ShippedConf()
      val ops: Seq[(String, () => Unit)] = Seq(
        "write" -> (() => append(200 until 300)),
        "scan" -> (() => assert(spark.read.format("graft.sources.ManifestSource")
          .schema(ddl).option("path", table).load().collect().length == 300)),
        "upsert" -> (() => ManifestMaintenance.upsert(spark, table, ddl, Seq("k"),
          spark.read.parquet(s"$base/updates"))),
        "delete" -> (() => ManifestMaintenance.delete(spark, table, ddl, "k % 7 = 0")),
        "compact" -> (() => ManifestMaintenance.compact(spark, table, ddl)),
        "sql-update" -> (() => {
          spark.sql(s"CREATE TABLE $cat.ns.u (k BIGINT, s STRING)")
          spark.sql(s"INSERT INTO $cat.ns.u VALUES (1, 'a'), (2, 'b')")
          spark.sql(s"UPDATE $cat.ns.u SET s = upper(s) WHERE k = 2")
        }))
      ops.foreach { case (kind, op) =>
        op()
        val now = ShippedConf()
        assert(now.id == first.id, s"$kind shipped a new broadcast")
        // a hit means the session conf equals the snapshot it was keyed on
        assert(entries(now.value) == entries(spark.sessionState.newHadoopConf()),
          s"the shared conf changed during $kind")
      }
      val ks = spark.read.format("graft.sources.ManifestSource").schema(ddl)
        .option("path", table).load().collect().map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 300L).filter(_ % 7 != 0))
      assert(spark.sql(s"SELECT s FROM $cat.ns.u ORDER BY k").collect()
        .map(_.getString(0)).toSeq == Seq("a", "B"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.base")
      FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("a session row-group limit ships a new conf, and unsetting it ships again") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shipped_rg").toFile
    val table = s"$dir/t"
    def append(ks: Range): Seq[Long] = {
      val before = scala.util.Try(ManifestRead.entries(table, "manifest.json"))
        .getOrElse(Nil).map(_.file).toSet
      ks.map(k => (k.toLong, s"v$k")).toDF("k", "s").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", table).mode("append").save()
      val added = ManifestRead.entries(table, "manifest.json").filterNot(e => before(e.file))
      assert(added.length == 1)
      added.head.rgs.fold(Seq(added.head.rows))(ManifestParquet.parseRgs(_).map(_.rows))
    }
    assert(spark.conf.getOption(RgLimit).isEmpty)
    assert(append(0 until 200) == Seq(200L))
    val unlimited = ShippedConf()
    spark.conf.set(RgLimit, "50")
    try {
      assert(append(200 until 400) == Seq(50L, 50L, 50L, 50L))
      val limited = ShippedConf()
      assert(limited.id != unlimited.id)
      assert(limited.value.get(RgLimit) == "50")
      assert(ShippedConfSpecTasks.read(limited, spark.sparkContext, RgLimit) == Seq("50", "50"))
    } finally spark.conf.unset(RgLimit)
    assert(append(400 until 600) == Seq(200L))
    val again = ShippedConf()
    assert(again.id != unlimited.id, "a replaced entry is shipped anew")
    assert(again.value.get(RgLimit) == null)
    assert(ShippedConfSpecTasks.read(again, spark.sparkContext, RgLimit) == Seq(null, null))
    FileUtils.deleteDirectory(dir)
  }

  test("two threads shipping the same conf at once both get a working conf") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.shipped.probe", "both")
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val got = (1 to 2).map(_ => pool.submit(() => {
        barrier.await(30, TimeUnit.SECONDS)
        val shipped = ShippedConf(conf)
        (shipped.id, ShippedConfSpecTasks.read(shipped, spark.sparkContext, "graft.shipped.probe"))
      })).map(_.get(120, TimeUnit.SECONDS))
      assert(got.map(_._2) == Seq(Seq("both", "both"), Seq("both", "both")))
      assert(got.map(_._1).distinct.length == 1, s"one broadcast for one conf: $got")
    } finally pool.shutdown()
  }

  test("a stopped context's broadcast is never served (separate JVM)") {
    // Stopping a context would end the shared test session, so the check
    // runs in its own JVM on this JVM's class path and module flags.
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens")).toSeq
    val out = new StringBuilder
    val code = Process(Seq(javaBin) ++ opens ++ Seq("-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), ShippedConfStopCheck.getClass.getName.stripSuffix("$")))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == 0 && out.toString.contains("shipped-conf-stop ok"), out.toString.takeRight(4000))
  }
}

/** The values tasks read for `key` from a shipped conf, one per
  * partition; defined apart from the spec so the task closure captures
  * only the [[ShippedConf]]. */
private object ShippedConfSpecTasks {
  def read(shipped: ShippedConf, sc: SparkContext, key: String): Seq[String] =
    sc.parallelize(1 to 2, 2).map(_ => shipped.value.get(key)).collect().toSeq
}

/** Ships a conf on one context, stops it, and checks that the next ship
  * on a stopped context fails and the next on a new context is a new,
  * working broadcast. Run by [[ManifestShippedConfSpec]] in its own JVM. */
object ShippedConfStopCheck {
  def main(args: Array[String]): Unit = {
    def session() = graft.LocalSpark.builder("1").appName("shipped-conf-stop").getOrCreate()
    val conf = new Configuration(false)
    conf.set("graft.shipped.probe", "p")
    val a = session()
    val first = ShippedConf(conf)
    require(ShippedConfSpecTasks.read(first, a.sparkContext, "graft.shipped.probe") == Seq("p", "p"))
    require(ShippedConf(conf) eq first, "the same conf on the same context is reused")
    a.stop()
    require(scala.util.Try(ShippedConf(conf)).isFailure,
      "a ship with no live context must fail, not serve the stopped one's broadcast")
    val b = session()
    val second = ShippedConf(conf)
    require(second ne first, "a stopped context's broadcast was served")
    require(ShippedConfSpecTasks.read(second, b.sparkContext, "graft.shipped.probe") == Seq("p", "p"))
    b.stop()
    println("shipped-conf-stop ok")
  }
}
