package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The manifest connector's file layer ([[graft.sources.ManifestFs]]):
  * the commit lock's exclusive create under contention, byte-level
  * integrity of committed data files, the manifest swap as readers see
  * it, sidecars left by Hadoop's checksummed local FS, and the Hadoop
  * branch every non-`file` scheme takes. */
class ManifestFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mfs").toString
    new java.io.File(d).delete()
    d
  }

  /** The filesystem the connector resolves for `dir`. */
  private def connectorFs(dir: Path): FileSystem =
    graft.sources.ManifestFs.of(dir, spark.sessionState.newHadoopConf())

  test("commit lock: one holder at a time, every refusal is a loud conflict") {
    val dir = new Path(freshDir())
    val fs = connectorFs(dir)
    val inside = new AtomicInteger()
    val maxInside = new AtomicInteger()
    val ran = new AtomicInteger()
    val refused = new AtomicInteger()
    val other = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 40).foreach { i =>
        try graft.sources.ManifestLock.withLock(fs, dir, s"t$t-$i", "spec") {
          val n = inside.incrementAndGet()
          maxInside.accumulateAndGet(n, math.max)
          Thread.sleep(1)
          inside.decrementAndGet()
          ran.incrementAndGet()
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent commit in flight") =>
            refused.incrementAndGet()
          case e: Throwable => other.add(e)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(other.size == 0, s"first unexpected outcome: ${other.peek}")
    assert(maxInside.get == 1)
    assert(ran.get + refused.get == 8 * 40)
    assert(ran.get > 0)
    assert(!fs.exists(new Path(dir, "_commit.lock")))
  }

  test("a flipped byte inside a part file's first data page fails the scan") {
    import spark.implicits._
    val out = freshDir()
    (0 until 2000).map(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    def scan() = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(scan() == (0 until 2000).map(i => (i.toLong, s"v$i")))
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val footer = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(part.getPath), conf))
      try r.getFooter finally r.close()
    }
    val pageAt = footer.getBlocks.get(0).getColumns.get(0).getFirstDataPageOffset
    val raf = new java.io.RandomAccessFile(part, "rw")
    try {
      // the page header is thrift-encoded ahead of the page body: parse
      // it to land the flip inside the (compressed) page body itself
      val head = new Array[Byte](4096)
      raf.seek(pageAt)
      val got = raf.read(head)
      val in = new java.io.ByteArrayInputStream(head, 0, got)
      val header = org.apache.parquet.format.Util.readPageHeader(in)
      val bodyAt = pageAt + (got - in.available())
      val at = bodyAt + header.getCompressed_page_size / 2
      val lenBefore = raf.length()
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0x5a)
      assert(raf.length() == lenBefore)
    } finally raf.close()
    val e = intercept[Exception](scan())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- ")
    assert(chain.toLowerCase(java.util.Locale.ROOT).contains("checksum"), chain)
  }

  test("readers never find manifest.json missing while commits publish") {
    import spark.implicits._
    val out = freshDir()
    def append(i: Int): Unit = Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    append(0)
    @volatile var done = false
    val reads = new AtomicInteger()
    val missing = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val poller = new Thread(() => while (!done) {
      try {
        graft.sources.ManifestRead.manifestText(out, "manifest.json")
        reads.incrementAndGet()
      } catch { case e: java.io.IOException => missing.add(e) }
    })
    poller.start()
    try (1 to 100).foreach(append)
    finally { done = true; poller.join() }
    assert(missing.size == 0, s"first: ${missing.peek}")
    assert(reads.get > 0)
    assert(graft.sources.ManifestRead.latestVersion(out) == 101L)
  }

  test("a table written with .crc sidecars stays readable by Spark's checksummed reader") {
    import spark.implicits._
    val out = freshDir()
    def append(i: Int): Unit = Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    append(1)
    // rewrite the manifest through Hadoop's checksummed local FS, as the
    // connector did before it wrote sidecar-free files
    val mf = new Path(out, "manifest.json")
    val checksummed = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    val o = checksummed.create(mf, true)
    try o.write(txt.getBytes("UTF-8")) finally o.close()
    assert(new java.io.File(out, ".manifest.json.crc").exists)
    append(2)
    val files = spark.read.option("multiLine", "true").json(s"$out/manifest.json")
      .selectExpr("explode(files.file) AS f").collect().map(_.getString(0))
    assert(files.length == 2)
    assert(!new java.io.File(out, ".manifest.json.crc").exists)
    // the seam's delete takes a file's sidecar with it
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val pp = new Path(part.getPath)
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val o2 = checksummed.create(pp, true)
    try o2.write(bytes) finally o2.close()
    assert(new java.io.File(out, s".${part.getName}.crc").exists)
    assert(connectorFs(pp).delete(pp, false))
    assert(!new java.io.File(out, s".${part.getName}.crc").exists)
  }

  /** append, append, upsert, delete, compact and a filtered scan on
    * `root`; returns the final table and the filtered scan's rows. */
  private def workload(root: String): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val ddl = "k LONG, s STRING"
    def append(rows: Seq[(Long, String)]): Unit = rows.toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", root).mode("append").save()
    def read() = spark.read.format("graft.sources.ManifestSource")
      .schema(ddl).option("path", root).load()
    append((0L until 20L).map(i => (i, s"a$i")))
    append((20L until 40L).map(i => (i, s"b$i")))
    graft.sources.ManifestMaintenance.upsert(spark, root, ddl, Seq("k"),
      (10L until 25L).map(i => (i, s"u$i")).toDF("k", "s"))
    graft.sources.ManifestMaintenance.delete(spark, root, ddl, "k % 7 = 0")
    graft.sources.ManifestMaintenance.compact(spark, root, ddl)
    val filtered = read().where("k >= 15 AND k < 30").collect().map(_.toString).sorted.toSeq
    (read().collect().map(_.toString).sorted.toSeq, filtered)
  }

  test("a non-file scheme goes through its Hadoop filesystem with the same results") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[ManifestFsSpec.CountingFs].getName)
    try {
      val local = freshDir()
      val viaHadoop = "graftcount://" + freshDir()
      val before = ManifestFsSpec.creates.get
      val want = workload(local)
      assert(ManifestFsSpec.creates.get == before)
      val got = workload(viaHadoop)
      assert(ManifestFsSpec.creates.get > before)
      assert(got == want)
      assert(want._1.length == 40 - 6 && want._2.length == 13)
    } finally conf.unset("fs.graftcount.impl")
  }

  test("a table directory holds no .crc file after writes and maintenance") {
    val out = freshDir()
    workload(out)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try assert(files.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSeq.isEmpty)
    finally files.close()
  }
}

object ManifestFsSpec {
  val creates = new AtomicInteger()

  /** Hadoop's raw local FS under the `graftcount` scheme: a non-`file`
    * scheme over the local disk that counts the files it creates. */
  class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
      creates.incrementAndGet()
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}
