package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Name registry for manifest tables, giving the SQL surface a door to
  * the connector: `ManifestTables.register(spark, "events_mf", path,
  * "k LONG, v STRING")` makes
  *
  * {{{ SELECT * FROM events_mf VERSION AS OF 3 }}}
  * {{{ SELECT * FROM events_mf TIMESTAMP AS OF '2026-08-16 12:00:00' }}}
  *
  * resolve through [[ManifestSource]]'s `version` option (q393's
  * capability, reachable from `spark.sql` — the injected
  * [[graft.plans.DialectParser]] rewrites the parsed
  * `RelationTimeTravel` node). Explicit opt-in per name; unregistered
  * names resolve through Spark's own catalogs untouched.
  *
  * The registry is driver-side metadata (a handful of name→path
  * strings) — nothing here scales with data.
  */
object ManifestTables {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def register(name: String, path: String, schemaDdl: String): Unit =
    tables.put(name.toLowerCase(java.util.Locale.ROOT), (path, schemaDdl))

  def unregister(name: String): Unit =
    tables.remove(name.toLowerCase(java.util.Locale.ROOT))

  /** (path, schemaDDL) for a single-part identifier, if registered. */
  def lookup(nameParts: Seq[String]): Option[(String, String)] =
    nameParts match {
      case Seq(one) =>
        Option(tables.get(one.toLowerCase(java.util.Locale.ROOT)))
      case _ => None
    }

  /** Highest version whose immutable manifest was PUBLISHED at or
    * before `micros` (file modification time — the commit instant;
    * versions are committed sequentially under the table lock, so
    * mtime order and version order agree). 0 = nothing committed yet
    * at that instant. `fs` is the connector's filesystem for `path`
    * ([[ManifestRead.fsFor]]). */
  def versionAtTimestamp(fs: FileSystem, path: String, micros: Long): Long = {
    val dir = new Path(path)
    if (!fs.exists(dir)) return 0L
    val vRe = """manifest-v(\d+)\.json""".r
    fs.listStatus(dir).flatMap { st =>
      st.getPath.getName match {
        case vRe(v) if st.getModificationTime * 1000L <= micros =>
          Some(v.toLong)
        case _ => None
      }
    }.foldLeft(0L)(math.max)
  }
}
