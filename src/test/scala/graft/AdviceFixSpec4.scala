package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MediaCodecs

/** Pins the round-10 ADVICE fixes:
  *  1. manifest CSV dialect escapes embedded CR/LF (exact sink->source
  *     round trip — the reader is line-wise; covered here at the dialect
  *     level and end-to-end in ManifestSourceSpec);
  *  2. stale-lock takeover is atomic (rename-to-tombstone) and commit
  *     re-verifies lock ownership before touching the manifest;
  *  3. decodePngGray fails loudly on a truncated IDAT instead of
  *     busy-looping;
  *  4. wrapJpeg / wrapPng bound their segment/chunk payloads. */
class AdviceFixSpec4 extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("decodePngGray throws on truncated IDAT instead of hanging") {
    val px = Array.tabulate(16 * 16)(i => (i % 251).toByte)
    val png = MediaCodecs.encodePngGray(16, 16, px)
    // find the IDAT chunk and truncate its payload: keep the container
    // walkable (fix the chunk length field) but cut the zlib stream short
    var i = 8
    var idatAt = -1
    while (idatAt < 0 && i + 8 <= png.length) {
      val len = ((png(i) & 0xff) << 24) | ((png(i + 1) & 0xff) << 16) |
        ((png(i + 2) & 0xff) << 8) | (png(i + 3) & 0xff)
      val t = new String(png, i + 4, 4, "US-ASCII")
      if (t == "IDAT") idatAt = i else i += 12 + len
    }
    assert(idatAt > 0, "no IDAT chunk found")
    val oldLen = ((png(idatAt) & 0xff) << 24) | ((png(idatAt + 1) & 0xff) << 16) |
      ((png(idatAt + 2) & 0xff) << 8) | (png(idatAt + 3) & 0xff)
    val keep = math.max(2, oldLen / 2) // keep the zlib header, cut the body
    val out = new java.io.ByteArrayOutputStream()
    out.write(png, 0, idatAt)
    out.write(0); out.write(0); out.write(keep >>> 8); out.write(keep & 0xff)
    out.write(png, idatAt + 4, 4 + keep) // type + truncated payload
    out.write(Array[Byte](0, 0, 0, 0))   // (wrong) CRC — decoder doesn't check
    // IEND so the chunk walk terminates
    out.write(Array[Byte](0, 0, 0, 0, 'I', 'E', 'N', 'D', 0, 0, 0, 0))
    val truncated = out.toByteArray
    val done = new java.util.concurrent.CompletableFuture[Throwable]()
    val t = new Thread(() => {
      try { MediaCodecs.decodePngGray(truncated); done.complete(null) }
      catch { case e: Throwable => done.complete(e) }
    })
    t.setDaemon(true); t.start()
    val e = done.get(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(e != null, "truncated IDAT must throw, not decode")
    assert(e.getMessage.contains("short IDAT"), e.toString)
  }

  test("wrapJpeg rejects a COM payload over the 16-bit segment limit") {
    val ok = MediaCodecs.wrapJpeg(4, 4, 1, new Array[Byte](65533))
    assert(ok.length > 65533)
    val e = intercept[IllegalArgumentException] {
      MediaCodecs.wrapJpeg(4, 4, 1, new Array[Byte](65534))
    }
    assert(e.getMessage.contains("65533"))
  }

  test("manifest CSV dialect: one physical line per record, exact round trip") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_nlrt").toString
    new java.io.File(out).delete()
    Seq((1L, "a\nb"), (2L, "c\rd"), (3L, "\\n"), (4L, "q\"\n\"q"))
      .toDF("k", "s").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    // the canonical rendering each row's identity hash is taken over
    // is exactly ONE line per record, and decodes back to the value
    Seq("a\nb", "c\rd", "\\n", "q\"\n\"q").foreach { v =>
      val field = graft.sources.ManifestSink.csvField(v)
      assert(!field.exists(c => c == '\n' || c == '\r'), field)
      assert(graft.sources.ManifestDialect.splitCsv(s"1,$field").toSeq ==
        Seq("1", v))
    }
    val back = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG, s STRING").option("path", out).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == Seq((1L, "a\nb"), (2L, "c\rd"), (3L, "\\n"), (4L, "q\"\n\"q")))
  }

  test("lock-ownership verify throws on a foreign body, passes on ours") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock")
    val hconf = new org.apache.hadoop.conf.Configuration()
    val lock = new org.apache.hadoop.fs.Path(
      dir.resolve("_commit.lock").toUri.toString)
    val fs = lock.getFileSystem(hconf)
    val mine = "1234 my-write-id"
    val os = fs.create(lock, false)
    os.write(mine.getBytes("UTF-8")); os.close()
    // ours: passes
    graft.sources.ManifestSink.verifyLockOwnership(fs, lock, mine, dir.toString)
    // clobbered by a racing committer with a stale view: throws
    val os2 = fs.create(lock, true)
    os2.write("999 foreign-writer".getBytes("UTF-8")); os2.close()
    val e = intercept[IllegalStateException] {
      graft.sources.ManifestSink.verifyLockOwnership(fs, lock, mine, dir.toString)
    }
    assert(e.getMessage.contains("lost the commit lock"), e.toString)
    // lock vanished entirely (deleted from under us): also throws
    fs.delete(lock, false)
    intercept[IllegalStateException] {
      graft.sources.ManifestSink.verifyLockOwnership(fs, lock, mine, dir.toString)
    }
  }

  test("stale-lock takeover still works end-to-end (rename tombstone path)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_stale2").toString
    val dir = new java.io.File(out)
    // a crashed driver's lock: 20 minutes old per its own body
    val lock = new java.io.File(dir, "_commit.lock")
    val old = System.currentTimeMillis() - 20 * 60 * 1000L
    java.nio.file.Files.write(lock.toPath,
      s"$old dead-writer".getBytes("UTF-8"))
    Seq(7L, 8L).toDF("k").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    assert(!lock.exists(), "commit must clean up the lock it took over")
    assert(!dir.listFiles().exists(_.getName.startsWith("_commit.lock.stale")),
      "takeover tombstone must not linger")
    val back = spark.read.format("graft.sources.ManifestSource")
      .schema("k LONG").option("path", out).load()
      .as[Long].collect().sorted.toSeq
    assert(back == Seq(7L, 8L))
  }
}
