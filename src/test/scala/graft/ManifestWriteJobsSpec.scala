package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per manifest write kind on a small table: append, delete,
  * upsert, bin-pack compaction and layout (`clusterBy`) compaction. Each
  * bound is the count the connector runs today, so a change that adds a
  * job to a write fails here and has to say why. AQE's query stages
  * count as jobs, as they do in the benchmark's `sources.jobs_per_write`. */
class ManifestWriteJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ddl = "k LONG, s STRING"

  /** Jobs started under each job group. */
  private final class JobCounter extends SparkListener {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet())
  }

  test("jobs per write kind stay within their bounds") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mjobs").toString
    val table = s"$base/t"
    def rows(ks: Range) = ks.map(k => (k.toLong, s"v$k")).toDF("k", "s")
    def append(ks: Range): Unit =
      rows(ks).coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", table).mode("append").save()
    append(0 until 100)
    append(100 until 200)
    rows(150 until 250).coalesce(1).write.parquet(s"$base/updates")
    val counter = new JobCounter
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    def op(kind: String)(body: => Unit): Unit = {
      sc.setJobGroup(kind, kind)
      try body finally sc.clearJobGroup()
    }
    try {
      op("append")(append(200 until 300))
      op("delete")(graft.sources.ManifestMaintenance.delete(spark, table, ddl, "k % 7 = 0"))
      op("upsert")(graft.sources.ManifestMaintenance.upsert(spark, table, ddl,
        Seq("k"), spark.read.parquet(s"$base/updates")))
      op("compact")(graft.sources.ManifestMaintenance.compact(spark, table, ddl))
      append(300 until 400)
      op("compact-clusterBy")(graft.sources.ManifestMaintenance.compact(
        spark, table, ddl, targetFiles = 2, clusterBy = Seq("k")))
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(counter)
    val got = Seq("append", "delete", "upsert", "compact", "compact-clusterBy")
      .map(k => k -> Option(counter.jobs.get(k)).map(_.get).getOrElse(0))
    info(got.map { case (k, n) => s"$k=$n" }.mkString(" "))
    // delete and upsert stage positions and inserts in one job, after
    // the semi-join's query stages; compaction writes every group or
    // bucket in one job, after clusterBy's ranking and checkpoint jobs
    val bound = Map("append" -> 1, "delete" -> 1, "upsert" -> 3,
      "compact" -> 1, "compact-clusterBy" -> 8)
    got.foreach { case (k, n) =>
      assert(n > 0 && n <= bound(k), s"$k ran $n jobs, bound ${bound(k)}: $got")
    }
    // the operations themselves still answer right
    val ks = spark.read.format("graft.sources.ManifestSource").schema(ddl)
      .option("path", table).load().collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == (0L until 400L)
      .filter(k => k % 7 != 0 || (k >= 150 && k < 250) || k >= 300))
  }
}
