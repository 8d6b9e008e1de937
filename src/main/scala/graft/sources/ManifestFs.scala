package graft.sources

import java.lang.ref.WeakReference
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The manifest connector's one way to a filesystem.
  *
  * Local paths (`file:`, or no scheme under a `file:` default FS) get one
  * process-wide [[RawLocalFileSystem]] instead of Hadoop's
  * `LocalFileSystem`. That drops two costs of the checksummed local FS:
  * a `.crc` sidecar written beside every file, and — with no native
  * Hadoop library — a forked `chmod` for every file, sidecar and
  * directory created. Here permissions are set through `java.nio`, and
  * an exclusive create (`overwrite = false`) is one `CREATE_NEW` open,
  * so it is atomic: Hadoop's checks for the file, then opens it
  * truncating, and two racing creators could both "win". Byte-level
  * integrity of data files rests on parquet's page checksums instead
  * (written by default, verified by the scan reader).
  *
  * Every other scheme resolves through `path.getFileSystem(conf)`, as
  * before.
  */
private[graft] object ManifestFs {

  /** The filesystem the connector uses for `path`. */
  def of(path: Path, conf: Configuration): FileSystem =
    if (isLocal(path, conf)) local else path.getFileSystem(conf)

  def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The local file behind a local `path` (relative paths resolve
    * against the working directory, as Hadoop's local FS does). */
  def localFile(path: Path): java.nio.file.Path =
    local.pathToFile(path).toPath

  /** Publishes `body` as `dir/manifest.json` and as the immutable
    * `dir/manifest-v{version}.json`, each written complete under a
    * temp name first, so no reader sees a torn manifest. Locally the
    * new `manifest.json` renames over the old one in one atomic
    * rename(2), so no reader ever finds it missing; on other schemes,
    * whose rename may refuse an existing target, the old one is
    * deleted first. The caller holds `_commit.lock`. */
  def publish(fs: FileSystem, dir: Path, version: Long, body: String,
      what: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    Seq("manifest.json" -> true, s"manifest-v$version.json" -> false)
      .foreach { case (name, replace) =>
        val tmp = new Path(dir, s"_$name.tmp")
        val target = new Path(dir, name)
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (replace && !fs.isInstanceOf[LocalFs]) fs.delete(target, false)
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"$what: failed to publish $name at $dir")
      }
  }

  private lazy val local: LocalFs = {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  /** Hadoop's raw local FS with `java.nio` permissions and an atomic
    * exclusive create. A `.crc` sidecar a checksummed writer left
    * beside a file (tables written before this FS) is removed whenever
    * the file is deleted, overwritten or renamed over: a stale sidecar
    * would fail Spark's own checksummed reads of that file. */
  private final class LocalFs extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner rwx, group rwx, others rwx: bit 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream =
      create(f, null, overwrite, bufferSize, replication, blockSize, progress)

    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      val parent = f.getParent
      if (parent != null && !mkdirs(parent))
        throw new java.io.IOException(s"Mkdirs failed to create $parent")
      if (overwrite) dropCrc(f)
      val out = Files.newOutputStream(pathToFile(f).toPath,
        if (overwrite) StandardOpenOption.CREATE else StandardOpenOption.CREATE_NEW,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      if (permission != null)
        setPermission(f, permission.applyUMask(FsPermission.getUMask(getConf)))
      new FSDataOutputStream(new java.io.BufferedOutputStream(out, bufferSize),
        statistics)
    }

    override def delete(p: Path, recursive: Boolean): Boolean = {
      dropCrc(p)
      super.delete(p, recursive)
    }

    override def rename(src: Path, dst: Path): Boolean = {
      dropCrc(dst)
      super.rename(src, dst)
    }

    private def dropCrc(p: Path): Unit =
      if (p.getParent != null)
        Files.deleteIfExists(
          pathToFile(new Path(p.getParent, s".${p.getName}.crc")).toPath)
  }
}

/** The driver's Hadoop conf as the connector's tasks get it, so that
  * session-level `spark.hadoop.*` and `parquet.*` settings (s3a
  * credentials, row-group limits) reach executors: one broadcast, not a
  * whole configuration deserialized per task.
  *
  * Broadcasting a session conf is not cheap: `Configuration.write` gzips
  * each property's source list on its own, so one broadcast of a session
  * conf of about 1,100 properties costs the driver about 10 ms.
  * `ShippedConf(conf)` therefore reuses the last broadcast while the
  * conf's content stays the same:
  *  - the key is the `SparkContext` and an exact copy of the conf's
  *    entries, compared by equality, never by a hash (a collision would
  *    ship another conf's credentials);
  *  - it keeps one entry: a conf that differs in any entry is broadcast
  *    again and replaces it, and Spark's `ContextCleaner` removes the old
  *    broadcast once no job uses it;
  *  - the context is held weakly and a stopped one never matches, so a
  *    stopped context's broadcast is never served and never kept alive.
  *
  * The broadcast is of the cache's own copy of the conf. Tasks of every
  * operation share it, so they must not mutate the value.
  *
  * It helps callers whose consecutive connector ops run under one conf,
  * such as a client that reads and writes tables without touching its
  * session conf. Code that sets or unsets a session conf between ops
  * (`LakehouseOps`' queries), or batch ops interleaved with a stream's
  * micro-batches (which run in a cloned session with its own conf),
  * miss on each change. A miss costs one broadcast, as every op paid
  * without the cache, plus the key's copy, about 0.4 ms for 1,100
  * entries. */
private[sources] final class ShippedConf private (
    shipped: Broadcast[SerializableConfiguration]) extends Serializable {
  def value: Configuration = shipped.value.value
  private[sources] def id: Long = shipped.id
}

private[sources] object ShippedConf {
  private final class Entry(val sc: WeakReference[SparkContext],
      val entries: java.util.Map[String, String], val shipped: ShippedConf)
  private var last: Entry = _

  def apply(conf: Configuration =
      SparkSession.active.sessionState.newHadoopConf()): ShippedConf = {
    val sc = SparkSession.active.sparkContext
    val entries = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => entries.put(e.getKey, e.getValue))
    synchronized {
      if (last == null || (last.sc.get ne sc) || sc.isStopped || last.entries != entries)
        last = new Entry(new WeakReference(sc), entries, new ShippedConf(
          sc.broadcast(new SerializableConfiguration(new Configuration(conf)))))
      last.shipped
    }
  }
}
