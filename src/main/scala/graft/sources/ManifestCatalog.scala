package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark `TableCatalog` over manifest tables — the connector's SQL
  * front door. Registered at runtime (catalog confs are lazy):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.mf", "graft.sources.ManifestCatalog")
  * spark.conf.set("spark.sql.catalog.mf.base", "/data/tables")
  * spark.sql("CREATE TABLE mf.db.t (k BIGINT, name STRING)")
  * spark.sql("INSERT INTO mf.db.t SELECT ...")
  * spark.sql("DELETE FROM mf.db.t WHERE k < 5")     // merge-on-read dvs
  * spark.sql("SELECT * FROM mf.db.t VERSION AS OF 1")  // native time travel
  * }}}
  *
  * Identifiers map to directories under `base`; the table schema is
  * persisted as `_schema.ddl` inside the table dir (the manifest
  * format itself is schema-on-read — the catalog is the component
  * whose JOB is remembering the schema). Time travel resolves through
  * Spark's own `loadTable(ident, version|timestamp)` hooks — no parser
  * involvement (contrast [[ManifestTables]], the registry route for
  * path-addressed tables). DELETE is the connector's merge-on-read
  * verb ([[ManifestMaintenance.delete]]): positional delete vectors,
  * no file rewritten. All driver-side metadata — the catalog holds a
  * base path and per-table DDL strings, nothing data-sized.
  */
class ManifestCatalog extends TableCatalog with FunctionCatalog {
  private var catName: String = _
  private var base: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        s"ManifestCatalog $name requires option 'base' (spark.sql.catalog.$name.base)"))
  }

  override def name(): String = catName

  private def spark = org.apache.spark.sql.SparkSession.active
  private def fs(p: Path) =
    ManifestFs.of(p, spark.sessionState.newHadoopConf())

  /** Identifier → directory, with every segment validated: a crafted
    * segment (backquoted `..`, an embedded `/`) would otherwise map a
    * table OUTSIDE `base` — and dropTable recursively deletes that
    * directory. Same safe-name alphabet the sink requires of column
    * names. */
  private def dirOf(ident: Identifier): String = {
    val segs = (ident.namespace() :+ ident.name()).toSeq
    segs.foreach { s =>
      if (!s.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") || s == "." || s == "..")
        throw new IllegalArgumentException(
          s"ManifestCatalog: unsafe identifier segment '$s' — segments " +
            "must match [A-Za-z0-9_][A-Za-z0-9_.-]* (no '/', '.', '..')")
    }
    (base +: segs).mkString("/")
  }

  private def schemaFile(dir: String) = new Path(dir, "_schema.ddl")

  private def readDdl(dir: String): Option[String] = {
    val p = schemaFile(dir)
    val f = fs(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(buf.toString("UTF-8"))
      } finally in.close()
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((base +: namespace.toSeq).mkString("/"))
    val f = fs(nsDir)
    if (!f.exists(nsDir)) Array.empty
    else f.listStatus(nsDir).filter(_.isDirectory)
      .filter(st => f.exists(new Path(st.getPath, "_schema.ddl")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    readDdl(dirOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF n` — Spark's native time-travel hook. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF ts` (micros) — the last snapshot published at or
    * before the instant (commit mtimes; see ManifestTables). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    val v = ManifestTables.versionAtTimestamp(fs(new Path(dir)), dir, timestamp)
    if (v <= 0) throw new NoSuchTableException(
      Seq(catName) ++ ident.namespace() :+ ident.name())
    load(ident, Some(v))
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val dir = dirOf(ident)
    val current = readDdl(dir).getOrElse(
      throw new NoSuchTableException(
        Seq(catName) ++ ident.namespace() :+ ident.name()))
    // time travel reads OLD snapshots with the schema their data was
    // written under: ALTER TABLE freezes each era as
    // `_schema-upto-v{N}.ddl` (valid for versions <= N); the smallest
    // covering era wins, the current DDL covers the rest
    val raw = version.fold(current) { v =>
      val f = fs(new Path(dir))
      val re = """_schema-upto-v(\d+)\.ddl""".r
      val eras =
        if (!f.exists(new Path(dir))) Nil
        else f.listStatus(new Path(dir)).toSeq.flatMap(st =>
          st.getPath.getName match {
            case re(n) => Some(n.toLong)
            case _ => None
          })
      eras.filter(_ >= v).sorted.headOption match {
        case Some(n) =>
          val in = f.open(new Path(dir, s"_schema-upto-v$n.ddl"))
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](4096)
            var c = in.read(chunk)
            while (c >= 0) { buf.write(chunk, 0, c); c = in.read(chunk) }
            buf.toString("UTF-8")
          } finally in.close()
        case None => current
      }
    }
    val lines = raw.split('\n')
    val pBy = lines.collectFirst {
      case l if l.startsWith("partitionBy=") => l.stripPrefix("partitionBy=")
    }
    new ManifestCatalogTable(dir, StructType.fromDDL(lines.head), version,
      pBy)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // identity PARTITIONED BY (one BIGINT column) persists with the
    // schema: every later INSERT fans out per value and the scan
    // reports KeyGroupedPartitioning — two such tables join with zero
    // exchanges from pure SQL (q428's machinery, catalog-managed)
    // PARTITIONED BY any combination of identity columns, bucket(n,
    // col) (hidden hash — unbounded key domains, at most n files per
    // writer task) and truncate(w, col) (hidden range — the days(ts)
    // shape). MULTIPLE transforms form a composite key: the fan-out
    // writer keys files by the value TUPLE and the scan reports multi-
    // expression KeyGroupedPartitioning, so two tables co-partitioned
    // on (bucket(8,k), region) storage-partition-join with zero
    // exchanges on the composite join key.
    def render(t: Transform): String = t match {
      case _ if t.name() == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
      case _ if (t.name() == "bucket" || t.name() == "truncate") &&
          t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].longValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"ManifestCatalog: ${t.name()} transform needs a literal " +
            s"count/width: $t"))
        s"${t.name()}($n,${t.references()(0).fieldNames()(0)})"
      case other => throw new UnsupportedOperationException(
        s"ManifestCatalog: only PARTITIONED BY (identity column | " +
          s"bucket(n, col) | truncate(w, col)) is supported, got $other")
    }
    val pBy = partitions.toSeq match {
      case Nil => Option(properties.get("partitionBy")).filter(_.nonEmpty)
      case ts => Some(ts.map(render).mkString(","))
    }
    pBy.map(ManifestPartSpec.parseMulti).foreach(_.foreach { sp =>
      require(schema.fieldNames.contains(sp.col) &&
        schema(schema.fieldIndex(sp.col)).dataType ==
          org.apache.spark.sql.types.LongType,
        s"ManifestCatalog: partition column ${sp.col} must be an existing " +
          "BIGINT column")
    })
    // data files are parquet only: `USING csv` or TBLPROPERTIES
    // ('format'=<not parquet>) fails loudly. Any other provider
    // (including a session default Spark may inject) is not a data-file
    // format request and is ignored.
    ManifestSink.requireParquet(Option(properties.get("format")).orElse(
      Option(properties.get("provider")).filter(_.equalsIgnoreCase("csv"))),
      "ManifestCatalog")
    val dir = dirOf(ident)
    val p = schemaFile(dir)
    val f = fs(p)
    if (f.exists(p))
      throw new TableAlreadyExistsException(
        Seq(catName) ++ ident.namespace() :+ ident.name())
    f.mkdirs(new Path(dir))
    val out = f.create(p, false)
    try out.write((schema.toDDL +
      pBy.map(c => s"\npartitionBy=$c").getOrElse("")).getBytes("UTF-8"))
    finally out.close()
    new ManifestCatalogTable(dir, schema, None, pBy)
  }

  /** ALTER TABLE — the schema-evolution subset the storage layer can
    * serve exactly:
    *
    *  - `ADD COLUMN` (nullable, appended at the end): pure metadata.
    *    Files written before the change simply lack the column and the
    *    by-name reader (q414's contract) serves NULLs; new inserts
    *    carry it.
    *  - `RENAME COLUMN`: the reader resolves a data file's columns by
    *    their POSITION in the entry's `cols` list (never by the name
    *    stored inside the parquet file), so the rename is a manifest
    *    rewrite (cols + stats keys), published as a new snapshot under
    *    the commit lock; no data file is touched.
    *
    * TIME TRAVEL keeps each era's schema: before the current DDL is
    * replaced, it is frozen as `_schema-upto-v{head}.ddl` — a
    * `VERSION AS OF v` read resolves the smallest `upto >= v`, so old
    * snapshots read with the schema their data was written under.
    * Everything else (type changes, drops, nested fields, defaults,
    * positions) refuses loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val dirP = new Path(dir)
    // one lock spans era-freeze + manifest rewrite + DDL swap: a reader
    // can never observe the rename window, and an INSERT can't slip a
    // snapshot between the latestVersion read and the schema publish
    val f = fs(dirP)
    ManifestLock.withLock(f, dirP,
      s"alter-${java.util.UUID.randomUUID()}", "ManifestCatalog") {
    val raw = readDdl(dir).getOrElse(throw new NoSuchTableException(
      Seq(catName) ++ ident.namespace() :+ ident.name()))
    val lines = raw.split('\n')
    var schema = StructType.fromDDL(lines.head)
    val pBy = lines.collectFirst {
      case l if l.startsWith("partitionBy=") => l.stripPrefix("partitionBy=")
    }
    def supported(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case LongType | IntegerType | DoubleType | StringType |
          TimestampType | BooleanType => true
        case d: DecimalType => d.precision <= 18
        case _ => false
      }
    }
    // head BEFORE any change publishes a snapshot: the frozen era must
    // cover only pre-ALTER snapshots (a RENAME publishes manifest-v{N+1}
    // with the NEW column name — freezing after it would make
    // `VERSION AS OF N+1` read the renamed data under the old name,
    // silently serving NULLs). Freeze first, too, so a crash between
    // the freeze and the manifest rewrite leaves only a harmless frozen
    // copy of the still-current schema.
    val head = ManifestRead.latestVersion(f, dirP)
    if (head > 0) {
      val frozen = new Path(dir, s"_schema-upto-v$head.ddl")
      // create-if-absent — two ALTERs with no commits between must keep
      // the FIRST frozen DDL for that head
      if (!f.exists(frozen)) {
        val out = f.create(frozen, false)
        try out.write(raw.getBytes("UTF-8")) finally out.close()
      }
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "ManifestCatalog: nested columns are not supported")
        val n = add.fieldNames()(0)
        require(n.matches("[A-Za-z0-9_]+"),
          s"ManifestCatalog: unsafe column name '$n'")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"ManifestCatalog: column '$n' already exists")
        require(add.isNullable,
          "ManifestCatalog: ADD COLUMN must be nullable (existing files " +
            "have no values for it)")
        require(add.position() == null,
          "ManifestCatalog: ADD COLUMN only appends at the end")
        require(supported(add.dataType()),
          s"ManifestCatalog: unsupported column type ${add.dataType()}")
        schema = schema.add(n, add.dataType(), nullable = true)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "ManifestCatalog: nested columns are not supported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(schema.fieldNames.contains(from),
          s"ManifestCatalog: no column '$from'")
        require(to.matches("[A-Za-z0-9_]+"),
          s"ManifestCatalog: unsafe column name '$to'")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"ManifestCatalog: column '$to' already exists")
        require(!pBy.toSeq.flatMap(ManifestPartSpec.parseMulti)
          .exists(_.col == from),
          "ManifestCatalog: cannot rename a partition column")
        renameInManifest(f, dirP, from, to)
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case other => throw new UnsupportedOperationException(
        s"ManifestCatalog: unsupported ALTER TABLE change $other — only " +
          "ADD COLUMN (nullable, at the end) and RENAME COLUMN are supported")
    }
    // torn-safe DDL swap: write temp, then rename OVER the live file
    // (atomic overwrite on POSIX — no delete-then-rename window where a
    // concurrent reader sees no table at all); fall back to
    // delete+rename only where the FS refuses overwriting renames
    val newRaw = schema.toDDL +
      (if (lines.length > 1) "\n" + lines.tail.mkString("\n") else "")
    val tmp = new Path(dir, "_schema.ddl.tmp")
    val out = f.create(tmp, true)
    try out.write(newRaw.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, schemaFile(dir))) {
      f.delete(schemaFile(dir), false)
      if (!f.rename(tmp, schemaFile(dir)))
        throw new java.io.IOException(
          s"ManifestCatalog: failed to publish new schema at $dir")
    }
    } // end withLock
    load(ident, None)
  }

  /** RENAME COLUMN's storage move: rewrite every entry's `cols` list
    * and `stats` keys (file and row-group level) from `from` to `to`
    * and publish one new snapshot under the commit lock. Readers map
    * `cols` to the file's columns by position, so the renamed column
    * keeps its data. */
  private def renameInManifest(f: org.apache.hadoop.fs.FileSystem, dir: Path,
      from: String, to: String): Unit =
    // alterTable already holds _commit.lock for the table dir
    ManifestCommit(f, dir, s"rename-column-${java.util.UUID.randomUUID()}",
      "ManifestCatalog", None, lockHeld = true) { snap =>
      if (snap.version == 0) None // never written
      else Some(ManifestCommit.Change(snap.entries.map { e =>
        e.copy(
          cols = e.cols.map(_.split(',')
            .map(c => if (c == from) to else c).mkString(",")),
          stats = e.stats.map(renameStatsKey(_, from, to)),
          rgs = e.rgs.map(r => ManifestParquet.renderRgs(
            ManifestParquet.parseRgs(r).map(g =>
              g.copy(stats = renameStatsKey(g.stats, from, to))))))
      }, snap.dvs, snap.epochs))
    }

  /** Rename the TOP-LEVEL key `from` to `to` in a per-file stats JSON
    * object. Quote- and depth-aware: the same byte sequence occurring
    * inside another column's recorded string min/max (or bloom payload)
    * is never touched — a blind String.replace would corrupt it. */
  private[graft] def renameStatsKey(stats: String, from: String,
      to: String): String = {
    val target = "\"" + from + "\":"
    val sb = new StringBuilder(stats.length + 8)
    var i = 0; var depth = 0; var inQ = false
    while (i < stats.length) {
      val c = stats.charAt(i)
      if (inQ) {
        sb.append(c)
        if (c == '\\' && i + 1 < stats.length) {
          sb.append(stats.charAt(i + 1)); i += 1
        } else if (c == '"') inQ = false
        i += 1
      } else if (depth == 1 && stats.startsWith(target, i)) {
        sb.append('"').append(to).append("\":")
        i += target.length
      } else {
        c match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case '"' => inQ = true
          case _ =>
        }
        sb.append(c); i += 1
      }
    }
    sb.toString
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(dirOf(ident))
    val f = fs(dir)
    if (!f.exists(schemaFile(dirOf(ident)))) false
    else f.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "ManifestCatalog: RENAME TABLE is not supported")

  /** FunctionCatalog face: serves the `bucket` transform function so
    * Spark can resolve `PARTITIONED BY (bucket(n, col))` partitioning
    * into a comparable `TransformExpression` — the piece that lets two
    * n-bucket tables storage-partition-join with zero exchanges. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"),
      Identifier.of(namespace, "truncate"))

  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else if (ident.name().equalsIgnoreCase("truncate")) GraftTruncateFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

/** Catalog-resolved manifest table: read + write + merge-on-read
  * DELETE in one `Table`, delegating to the same scan/write/maintenance
  * machinery the path-addressed API uses. */
private class ManifestCatalogTable(
    dir: String, tableSchema: StructType, version: Option[Long],
    partitionBy: Option[String] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with SupportsDelete
  with SupportsMetadataColumns
  with SupportsRowLevelOperations {

  override def name(): String =
    s"manifest_catalog($dir${version.map(v => s"@v$v").getOrElse("")})"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionBy.toArray.flatMap(s =>
      ManifestPartSpec.parseMulti(s).map {
        case IdentityPartSpec(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        case BucketPartSpec(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
        case TruncatePartSpec(w, c) =>
          org.apache.spark.sql.connector.expressions.Expressions.apply(
            "truncate",
            org.apache.spark.sql.connector.expressions.Expressions.literal(w),
            org.apache.spark.sql.connector.expressions.Expressions.column(c))
      })
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestReadTable(dir, version, tableSchema).newScanBuilder(options)

  /** The connector's positional row identity, exposed as metadata
    * columns: row-level operations (MERGE/UPDATE/DELETE deltas) key
    * their delete vectors on `(_mf_file, _mf_pos)` and carry
    * `_mf_linehash` for compaction's checksum-conservation guard. */
  override def metadataColumns(): Array[MetadataColumn] =
    ManifestMeta.fields.map { f =>
      new MetadataColumn {
        override def name(): String = f.name
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def isNullable: Boolean = false
      }
    }

  /** Pure-SQL MERGE INTO / UPDATE / arbitrary-predicate DELETE: a
    * delta-based (merge-on-read) row-level operation over a snapshot
    * pinned at operation creation — see [[ManifestRowLevelOperation]].
    * The simpler `SupportsDelete` above still serves metadata-only
    * DELETEs whose predicate translates to V1 filters (Spark's
    * OptimizeMetadataOnlyDeleteFromTable picks it when it can). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty,
      "ManifestCatalog: cannot run DML against a time-travel snapshot")
    () => new ManifestRowLevelOperation(dir, tableSchema, info.command(),
      partitionBy)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      "ManifestCatalog: cannot write to a time-travel snapshot")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = {
        val t = doTruncate
        val pBy = Option(info.options.get("partitionBy"))
          .filter(_.nonEmpty).orElse(partitionBy)
        new Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new ManifestBatchWrite(dir, info.schema(), t, pBy)
          override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (t) throw new UnsupportedOperationException(
              "ManifestCatalog streaming writes are append-only")
            new ManifestStreamingWrite(dir, info.schema(), info.queryId(),
              pBy)
          }
        }
      }
    }
  }

  /** V1-filter predicate translation for `DELETE FROM … WHERE …`:
    * exactly the comparisons the connector can evaluate; anything
    * else makes canDeleteWhere return false and Spark reports the
    * delete as unsupported instead of silently mis-deleting. */
  private def toSql(f: Filter): Option[String] = {
    def lit(v: Any): Option[String] = v match {
      case null => None
      case s: String =>
        Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Double | _: java.lang.Float | _: java.lang.Boolean =>
        Some(v.toString)
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case _ => None
    }
    def col(a: String): Option[String] =
      if (a.matches("[A-Za-z0-9_]+")) Some(s"`$a`") else None
    f match {
      case EqualTo(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c = $l"
      case GreaterThan(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c > $l"
      case GreaterThanOrEqual(a, v) =>
        for (c <- col(a); l <- lit(v)) yield s"$c >= $l"
      case LessThan(a, v) => for (c <- col(a); l <- lit(v)) yield s"$c < $l"
      case LessThanOrEqual(a, v) =>
        for (c <- col(a); l <- lit(v)) yield s"$c <= $l"
      case IsNull(a) => col(a).map(c => s"$c IS NULL")
      case IsNotNull(a) => col(a).map(c => s"$c IS NOT NULL")
      case In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.exists(_.isEmpty)) None
        else col(a).map(c => s"$c IN (${ls.flatten.mkString(", ")})")
      case And(l, r) => for (a <- toSql(l); b <- toSql(r)) yield s"($a AND $b)"
      case Or(l, r) => for (a <- toSql(l); b <- toSql(r)) yield s"($a OR $b)"
      case Not(c) => toSql(c).map(s => s"(NOT $s)")
      case AlwaysTrue() => Some("true")
      case AlwaysFalse() => Some("false")
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(toSql(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred =
      if (filters.isEmpty) "true"
      else filters.map(f => toSql(f).getOrElse(
        throw new UnsupportedOperationException(
          s"ManifestCatalog: cannot delete where $f"))).mkString(" AND ")
    ManifestMaintenance.delete(
      org.apache.spark.sql.SparkSession.active, dir, tableSchema.toDDL, pred)
  }
}

private[graft] object ManifestCatalog {
  /** Test hook for the structural stats-key rename (the instance method
    * is what alterTable uses; this exposes the same logic to specs). */
  def renameStatsKeyForTest(stats: String, from: String, to: String): String =
    new ManifestCatalog().renameStatsKey(stats, from, to)
}
