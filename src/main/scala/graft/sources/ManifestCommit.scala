package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit step of the manifest connector. Every publisher — the
  * batch and streaming sink, SQL row-level DML, maintenance
  * DELETE/UPSERT, compaction and the catalog's RENAME COLUMN — commits a
  * new snapshot through [[ManifestCommit.apply]], which runs, in order:
  *
  *  1. take `_commit.lock` ([[ManifestLock]]), or run under the lock
  *     the caller already holds;
  *  2. read `manifest.json` once and parse the data entries, delete
  *     vectors and stream-epoch ledger from that one text; list the
  *     directory once for the next version number ([[Snapshot]]);
  *  3. call the caller's plan on that snapshot. The plan holds the
  *     caller's own rules: it throws to abort loudly, returns None to
  *     publish nothing, or returns the [[Change]] to publish;
  *  4. move the staged data files in under their own names, and the
  *     staged delete-vector files in as `dv-<id>-<i>.csv`;
  *  5. render the body ([[render]]) and publish it
  *     ([[ManifestFs.publish]]);
  *  6. drop the staging directory, whether the commit succeeded or not.
  *
  * A commit that fails after step 4 leaves moved files that no manifest
  * references; [[ManifestMaintenance.removeOrphans]] reclaims them.
  */
private[graft] object ManifestCommit {

  /** The committed snapshot a commit builds on. `version` is the highest
    * `manifest-v{n}.json` in the directory (0 = none yet). */
  final case class Snapshot(version: Long, entries: Seq[ManifestEntry],
      dvs: Seq[(String, Long, Long)], epochs: Map[String, Long])

  /** A new snapshot: the committed `entries` and `dvs` it keeps, its
    * epoch ledger, the staged data files and delete vectors it adds,
    * and whether it is a pure rewrite (a compaction). */
  final case class Change(entries: Seq[ManifestEntry],
      dvs: Seq[(String, Long, Long)], epochs: Map[String, Long],
      added: Seq[ManifestFileCommit] = Nil,
      addedDvs: Seq[ManifestFileCommit] = Nil,
      compaction: Boolean = false)

  /** Commits the change `plan` makes to the current snapshot of `dir`.
    * `id` is unique per commit: it tags the lock and names the moved
    * delete vectors. `staging` holds the added files. `what` prefixes
    * error messages. True when a version was published, false when the
    * plan returned None. */
  def apply(fs: FileSystem, dir: Path, id: String, what: String,
      staging: Option[Path], lockHeld: Boolean = false)
      (plan: Snapshot => Option[Change]): Boolean = {
    def step(): Boolean = {
      val snap = read(fs, dir)
      plan(snap) match {
        case None => false
        case Some(c) =>
          def moveIn(f: ManifestFileCommit, name: String): Unit =
            if (!fs.rename(new Path(staging.get, f.file), new Path(dir, name)))
              throw new java.io.IOException(
                s"$what: failed to move staged file ${f.file} into $dir")
          c.added.foreach(f => moveIn(f, f.file))
          val dvs = c.addedDvs.zipWithIndex.map { case (f, i) =>
            val name = s"dv-$id-$i.csv"
            moveIn(f, name)
            (name, f.rows, f.checksum)
          }
          ManifestFs.publish(fs, dir, snap.version + 1,
            render(c.entries ++ c.added.map(entryOf), c.dvs ++ dvs, c.epochs,
              c.compaction), what)
          true
      }
    }
    try if (lockHeld) step() else ManifestLock.withLock(fs, dir, id, what)(step())
    finally staging.foreach(fs.delete(_, true))
  }

  /** The one rendering of a manifest body. Readers rely on two
    * placements: `"compaction":true` precedes `"files"`
    * ([[ManifestRead.isCompaction]] reads only the first 256 bytes), and
    * the epoch ledger is the last member ([[ManifestRead.streamEpochs]]
    * is anchored at the end). An empty delete list is left out. */
  def render(entries: Seq[ManifestEntry], dvs: Seq[(String, Long, Long)],
      epochs: Map[String, Long], compaction: Boolean): String =
    s"""{"total_rows":${entries.map(_.rows).sum},""" +
      (if (compaction) """"compaction":true,""" else "") +
      entries.sortBy(_.file).map(ManifestRead.render)
        .mkString(""""files":[""", ",", "]") +
      (if (dvs.isEmpty) ""
       else dvs.sortBy(_._1).map { case (n, r, c) =>
         s"""{"dv":"$n","rows":$r,"checksum":$c}"""
       }.mkString(""","deletes":[""", ",", "]")) +
      ManifestRead.renderEpochs(epochs) + "}"

  /** One read of `manifest.json` (absent = empty only while no version
    * was ever published) and one listing for the version. */
  private def read(fs: FileSystem, dir: Path): Snapshot = {
    val version = ManifestRead.latestVersion(fs, dir)
    val txt =
      if (version == 0 && !fs.exists(new Path(dir, "manifest.json"))) ""
      else ManifestRead.text(fs, dir, "manifest.json")
    Snapshot(version, ManifestRead.entriesOfText(txt),
      ManifestRead.dvsOfText(txt), ManifestRead.streamEpochs(txt))
  }

  private def entryOf(c: ManifestFileCommit): ManifestEntry =
    ManifestEntry(c.file, c.rows, c.checksum,
      Option(c.cols).filter(_.nonEmpty), Option(c.stats).filter(_.nonEmpty),
      c.pv, c.pt, Some(c.bytes).filter(_ >= 0), Option(c.rgs).filter(_.nonEmpty),
      Option(c.pvs).filter(_.nonEmpty), Option(c.pts).filter(_.nonEmpty))
}
