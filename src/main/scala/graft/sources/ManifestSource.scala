package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** DSv2 batch READ over a [[ManifestSink]] directory — the other half
  * of the connector: reads EXACTLY the files the manifest lists, never
  * a directory listing, so a reader racing a concurrent append sees a
  * consistent committed snapshot (the property object-store listings
  * cannot give you). With `option("version", n)` it reads the
  * immutable `manifest-v{n}.json` snapshot instead of the latest —
  * time travel across appends (truncate expires history).
  *
  *  - input partitions follow the commit's file layout, and a parquet
  *    file with several row groups is split per row group (each split
  *    keeps its own row-count tamper guard) so one fat file can't cap
  *    read parallelism at 1;
  *  - column pruning via SupportsPushDownRequiredColumns: only the
  *    requested (and filtered) columns' chunks are decoded;
  *  - a data file's columns resolve by their position in the entry's
  *    `cols` list, so a manifest-only RENAME COLUMN keeps the data;
  *  - executors resolve the FileSystem from the driver's Hadoop conf
  *    (a [[ShippedConf]]), matching the sink's write path.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.ManifestSource")
  *   .schema("k LONG, name STRING").option("path", dir)
  *   .option("version", 1).load()
  * }}}
  */
class ManifestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "ManifestSource requires an explicit read schema (.schema(...))")

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("ManifestSource requires option 'path'"))
    val version = Option(properties.get("version")).map(_.toLong)
    val withMeta = Option(properties.get("metadata")).exists(_.toBoolean)
    // internal (maintenance): plan one input partition per bin-packed
    // FILE GROUP (";"-separated groups of ","-separated file names) —
    // compaction reads one group per task instead of funneling the
    // whole table through one read
    val groups = Option(properties.get("groups"))
      .map(_.split(';').toSeq.map(_.split(',').toSeq))
    // internal (CDC): read GROSS rows, ignoring the snapshot's delete
    // vectors — the change-feed reader materializes deleted rows by
    // (file, offset), which the normal merge-on-read path would hide
    val skipDvs = Option(properties.get("skipdvs")).exists(_.toBoolean)
    new ManifestReadTable(path, version, schema, withMeta, groups, skipDvs)
  }
}

private[sources] object ManifestMeta {
  /** Row-identity metadata exposed with `option("metadata", "true")`:
    * the containing data file, the record's row ordinal in it (file-
    * global across row-group splits), and the hash of the row's
    * canonical rendering (the same per-row term the sink's
    * order-independent file checksum sums). Positional delete vectors
    * are built from exactly these three. */
  val fields: Array[StructField] = Array(
    StructField("_mf_file", StringType, nullable = false),
    StructField("_mf_pos", LongType, nullable = false),
    StructField("_mf_linehash", LongType, nullable = false))
  val names: Set[String] = fields.map(_.name).toSet
}

private class ManifestReadTable(
    path: String, version: Option[Long], readSchema: StructType,
    withMeta: Boolean = false, groups: Option[Seq[Seq[String]]] = None,
    skipDvs: Boolean = false)
  extends Table with SupportsRead {
  override def name(): String =
    s"manifest_source($path${version.map(v => s"@v$v").getOrElse("")})"
  override def schema(): StructType =
    if (withMeta) StructType(readSchema.fields ++ ManifestMeta.fields)
    else readSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      import org.apache.spark.sql.sources.Filter
      private var required: StructType = schema()
      private var pushed: Array[Filter] = Array.empty
      private var aggRow: Option[(StructType, Seq[Any])] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // accept the comparison/null filters we can evaluate during the
      // decode; everything else stays a Spark-side residual. The
      // accepted ones are evaluated row-by-row in the reader BEFORE
      // rows are materialized/shipped — on a wide table this is the
      // difference between shipping every row and shipping matches.
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (ok, rest) = filters.partition(ManifestFilters.supports(readSchema, _))
        pushed = ok
        rest
      }
      override def pushedFilters(): Array[Filter] = pushed
      // AGGREGATE PUSHDOWN TO MANIFEST STATISTICS: a global
      // MIN/MAX/COUNT query is answered from the per-file column stats
      // without opening ANY data file (the Parquet-footer /
      // Delta-stats-query move). Answerable iff there are no filters,
      // no group-by, no delete vectors (manifest stats are GROSS), and
      // every entry carries the needed stat. Partial-pushdown contract
      // (supportCompletePushDown=false): the one emitted row is a
      // partial result Spark re-aggregates, so correctness never rests
      // on this path — an unanswerable aggregate just falls back to a
      // normal scan.
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
        : Boolean = {
        if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
          withMeta || groups.isDefined || skipDvs) return false
        val manifestName =
          version.map(v => s"manifest-v$v.json").getOrElse("manifest.json")
        val answered = ManifestAgg.answer(path, manifestName, readSchema,
          agg.aggregateExpressions.toSeq)
        answered.foreach(r => aggRow = Some(r))
        answered.isDefined
      }
      override def build(): Scan = {
        aggRow.foreach { case (aggSchema, values) =>
          return new ManifestAggScan(path, aggSchema, values)
        }
        // metadata columns are not in the file — split the pruned set
        // into parsed data columns and appended identity columns
        // (table schema orders data first, so Spark's pruned struct
        // keeps that order)
        val dataReq = StructType(
          required.fields.filterNot(f => ManifestMeta.names(f.name)))
        val metaReq = required.fields.map(_.name)
          .filter(ManifestMeta.names)
        new ManifestScan(path, version, readSchema, dataReq, pushed, metaReq,
          groups, skipDvs)
      }
    }
}

private object ManifestFilters {
  import org.apache.spark.sql.sources._
  import ManifestSink.{KBool, KDbl, KDec, KInt, KLong, KStr, KTs}

  /** Comparable columns: numerics, and — since round 13 — strings,
    * whose pushed comparisons and recorded bounds BOTH use Spark's own
    * UTF8String order (unsigned UTF-8 bytes). Java's String.compareTo
    * (UTF-16 code units) disagrees with it on supplementary
    * characters, so it appears nowhere on this path. StartsWith rides
    * the same binary order (a byte prefix is a char prefix in UTF-8). */
  def supports(schema: StructType, f: Filter): Boolean = {
    def cmpable(a: String): Boolean =
      schema.fieldNames.contains(a) &&
        (schema(schema.fieldIndex(a)).dataType match {
          case LongType | IntegerType | DoubleType | StringType |
            TimestampType => true
          case _: DecimalType => true
          case _ => false
        })
    def str(a: String): Boolean =
      schema.fieldNames.contains(a) &&
        schema(schema.fieldIndex(a)).dataType == StringType
    f match {
      case EqualTo(a, _) => schema.fieldNames.contains(a)
      case GreaterThan(a, _) => cmpable(a)
      case GreaterThanOrEqual(a, _) => cmpable(a)
      case LessThan(a, _) => cmpable(a)
      case LessThanOrEqual(a, _) => cmpable(a)
      case StringStartsWith(a, _) => str(a)
      case IsNull(a) => schema.fieldNames.contains(a)
      case IsNotNull(a) => schema.fieldNames.contains(a)
      case _ => false
    }
  }

  /** Scan-time FILE SKIPPING (the zone-map / Parquet-row-group-stats
    * move): can any row of `entry` satisfy `f`? Conservative — `true`
    * whenever the stats can't prove otherwise, so pruning never
    * changes results, it only skips provably-dead I/O. A column absent
    * from the file's own layout (schema evolution) is all-NULL by
    * construction; min/max absent with stats present means every
    * stored value was null (or NaN-poisoned, for doubles) — only
    * IsNull can match then. Entries without stats (pre-round-12
    * manifests) never prune. */
  /** Double comparison under Spark's semantics (nanSafeCompareDoubles):
    * -0.0 == 0.0, and NaN equals itself and sorts above every other
    * value. The sink records bounds under the same rule, so the three
    * sites — stat recording, pruning, row eval — can never disagree on
    * ±0.0 data (NaN poisons a file's bounds at the sink, so pruning
    * never compares against it). */
  def dblCompare(x: Double, y: Double): Int =
    java.lang.Double.compare(if (x == 0.0d) 0.0d else x,
      if (y == 0.0d) 0.0d else y)

  /** Pushed timestamp literal → epoch MICROSECONDS (the canonical
    * rendering and zone-map unit). Spark hands java.sql.Timestamp, or
    * java.time.Instant under the Java-8 datetime API. */
  def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case n: Number => Some(n.longValue())
    case _ => None
  }

  /** Pushed decimal literal → java BigDecimal (value compare — scale
    * differences must not break equality). */
  def toBigDec(v: Any): Option[java.math.BigDecimal] = v match {
    case b: java.math.BigDecimal => Some(b)
    case b: scala.math.BigDecimal => Some(b.bigDecimal)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case n: Number => Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  def mayMatch(schema: StructType, entry: ManifestEntry, f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    val stats = entry.stats.map(ManifestRead.parseStats).getOrElse(Map.empty)
    // all-null verdict for columns the file provably never stored
    def colStats(a: String): Option[ColStats] =
      entry.colNames match {
        case Some(cs) if !cs.contains(a) => Some(ColStats(entry.rows, None, None))
        case _ => stats.get(a)
      }
    def cmpBound(a: String, bound: String, v: Any): Option[Int] = {
      if (v == null) return None
      schema(schema.fieldIndex(a)).dataType match {
        case LongType => Some(java.lang.Long.compare(bound.toLong, v.asInstanceOf[Number].longValue()))
        case IntegerType => Some(java.lang.Integer.compare(bound.toInt, v.asInstanceOf[Number].intValue()))
        case DoubleType => Some(ManifestFilters.dblCompare(bound.toDouble, v.asInstanceOf[Number].doubleValue()))
        case TimestampType => // bounds are epoch micros
          ManifestFilters.tsMicros(v).map(java.lang.Long.compare(bound.toLong, _))
        case _: DecimalType => // bounds are plain renderings; value compare
          ManifestFilters.toBigDec(v)
            .map(new java.math.BigDecimal(bound).compareTo(_))
        case _ => None // strings carry no min/max (ordering hazard;
          // truncated byte bounds slo/shi cover them instead)
      }
    }
    // "every stored value is NULL" — decided by the null COUNT, never
    // by min/max absence (a string column legitimately has no bounds)
    def allNull(st: ColStats): Boolean = st.nulls >= entry.rows
    import ManifestStrBounds.{cmpB, succ, utf8}
    // TRUNCATED BYTE BOUNDS for strings (recorded by the sink under
    // the same unsigned UTF-8 order): slo is an inclusive lower bound
    // on every value; shi bounds the max (strictly when shix). Each
    // test below keeps the file unless the bound PROVES emptiness.
    def strKeep(st: ColStats, f: Filter): Boolean = f match {
      case GreaterThan(_, v) =>          // prune iff max <= v
        v == null || st.shi.forall(cmpB(_, utf8(v.toString)) > 0)
      case GreaterThanOrEqual(_, v) =>   // prune iff max < v
        v == null || st.shi.forall(shi =>
          if (st.shix) cmpB(shi, utf8(v.toString)) > 0
          else cmpB(shi, utf8(v.toString)) >= 0)
      case LessThan(_, v) =>             // prune iff min >= v
        v == null || st.slo.forall(cmpB(_, utf8(v.toString)) < 0)
      case LessThanOrEqual(_, v) =>      // prune iff min > v
        v == null || st.slo.forall(cmpB(_, utf8(v.toString)) <= 0)
      case EqualTo(_, v) =>
        v == null || (st.slo.forall(cmpB(_, utf8(v.toString)) <= 0) &&
          st.shi.forall(shi =>
            if (st.shix) cmpB(shi, utf8(v.toString)) > 0
            else cmpB(shi, utf8(v.toString)) >= 0))
      case StringStartsWith(_, p) =>
        // prefixed values live in [p, succ(p)): prune if max < p or
        // min >= succ(p); no successor (all-0xFF prefix) -> keep
        p == null || (st.shi.forall(shi =>
          if (st.shix) cmpB(shi, utf8(p)) > 0
          else cmpB(shi, utf8(p)) >= 0) &&
          succ(utf8(p)).forall(sp => st.slo.forall(cmpB(_, sp) < 0)))
      case _ => true
    }
    def isStr(a: String): Boolean =
      schema(schema.fieldIndex(a)).dataType == StringType
    f match {
      case EqualTo(a, v) => colStats(a).forall { st =>
        if (v == null || allNull(st)) false // 3VL: = NULL matches nothing
        else (st.min, st.max) match {
          case (Some(mn), Some(mx)) =>
            cmpBound(a, mn, v).forall(_ <= 0) && cmpBound(a, mx, v).forall(_ >= 0)
          case _ =>
            // bounds untracked (string / NaN-poisoned): a per-file
            // BLOOM prunes string equality where bounds can't —
            // "definitely absent" skips the file, a maybe keeps it —
            // AND, for strings, the truncated byte bounds
            st.bloom.forall(b => ManifestBloom.mightContain(b, v.toString)) &&
              (!isStr(a) || strKeep(st, f))
        }
      }
      case GreaterThan(a, v) => colStats(a).forall(st =>
        !allNull(st) && st.max.flatMap(cmpBound(a, _, v)).forall(_ > 0) &&
          (!isStr(a) || strKeep(st, f)))
      case GreaterThanOrEqual(a, v) => colStats(a).forall(st =>
        !allNull(st) && st.max.flatMap(cmpBound(a, _, v)).forall(_ >= 0) &&
          (!isStr(a) || strKeep(st, f)))
      case LessThan(a, v) => colStats(a).forall(st =>
        !allNull(st) && st.min.flatMap(cmpBound(a, _, v)).forall(_ < 0) &&
          (!isStr(a) || strKeep(st, f)))
      case LessThanOrEqual(a, v) => colStats(a).forall(st =>
        !allNull(st) && st.min.flatMap(cmpBound(a, _, v)).forall(_ <= 0) &&
          (!isStr(a) || strKeep(st, f)))
      case StringStartsWith(a, _) => colStats(a).forall(st =>
        !allNull(st) && strKeep(st, f))
      case IsNull(a) => colStats(a).forall(_.nulls > 0)
      case IsNotNull(a) => colStats(a).forall(st => !allNull(st))
      case _ => true
    }
  }

  /** One pushed filter bound to a file's decoded columns: `col` is the
    * ordinal of its column among `dec`'s (-1: the file never stored the
    * column, so every value is NULL), and `lit` its literal converted
    * ONCE to the form a decoded value compares against — null when the
    * filter has none, the literal is NULL, or the column is absent. */
  final class Bound(val f: Filter, val col: Int, dec: ManifestParquetBatchReader) {
    val kind: Int = if (col < 0) -1 else dec.kinds(col)
    val prec: Int = if (col < 0) 0 else dec.precs(col)
    val scale: Int = if (col < 0) 0 else dec.scales(col)
    val lit: Any = (f match {
      case EqualTo(_, v) => v
      case GreaterThan(_, v) => v
      case GreaterThanOrEqual(_, v) => v
      case LessThan(_, v) => v
      case LessThanOrEqual(_, v) => v
      case StringStartsWith(_, p) => p
      case _ => null
    }) match {
      case null => null
      case _ if col < 0 => null
      case v => kind match {
        case KLong => v.asInstanceOf[Number].longValue()
        case KInt => v.asInstanceOf[Number].intValue()
        case KDbl => v.asInstanceOf[Number].doubleValue()
        case KStr => UTF8String.fromString(v.toString)
        case KTs => tsMicros(v).map(Long.box).orNull
        case KDec => toBigDec(v).orNull
        case KBool => v match {
          case b: java.lang.Boolean => b
          case _ => null
        }
      }
    }
  }

  /** Evaluate one bound filter on a decoded row. Values compare as the
    * types they are: longs, ints and timestamp micros as integers,
    * doubles by [[dblCompare]], decimals by value (12.3 == 12.30),
    * strings and StartsWith on the stored UTF-8 bytes (Spark's
    * UTF8String order; Java's UTF-16 compareTo disagrees on
    * supplementary characters). A NULL operand fails every comparison
    * (SQL 3VL: unknown rows are filtered). */
  def eval(b: Bound, row: InternalRow): Boolean = {
    val c = b.col
    val isNull = c < 0 || row.isNullAt(c)
    b.f match {
      case _: IsNull => isNull
      case _: IsNotNull => !isNull
      case _ if isNull || b.lit == null => false
      case _: StringStartsWith =>
        row.getUTF8String(c).startsWith(b.lit.asInstanceOf[UTF8String])
      case f =>
        val x = b.kind match {
          case KLong | KTs =>
            java.lang.Long.compare(row.getLong(c), b.lit.asInstanceOf[Long])
          case KInt =>
            java.lang.Integer.compare(row.getInt(c), b.lit.asInstanceOf[Int])
          case KDbl =>
            dblCompare(row.getDouble(c), b.lit.asInstanceOf[Double])
          case KStr =>
            row.getUTF8String(c).binaryCompare(b.lit.asInstanceOf[UTF8String])
          case KDec =>
            row.getDecimal(c, b.prec, b.scale).toJavaBigDecimal
              .compareTo(b.lit.asInstanceOf[java.math.BigDecimal])
          case KBool => java.lang.Boolean.compare(
            row.getBoolean(c), b.lit.asInstanceOf[Boolean])
        }
        f match {
          case _: EqualTo => x == 0
          case _: GreaterThan => x > 0
          case _: GreaterThanOrEqual => x >= 0
          case _: LessThan => x < 0
          case _: LessThanOrEqual => x <= 0
          case other => throw new IllegalStateException(s"unpushable filter $other")
        }
    }
  }
}

private[graft] object ManifestScan {
  /** Snapshot rows at and above which a scan hands Spark column vectors
    * instead of rows. ColumnarToRow and the per-scan vector setup are
    * fixed costs that only amortize over enough rows: tiny fixture and
    * metadata scans stay row-based (columnar-always regressed
    * many-small-file corpora ~9% at bench scale), while clean
    * 20-40M-row scans run 1.55-1.62x faster columnar
    * (OPTIMIZATION_r17.md). */
  val ColumnarMinRows = 262144L
}

private[sources] class ManifestScan(
    path: String, version: Option[Long],
    fullSchema: StructType, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    metaCols: Seq[String] = Nil,
    groups: Option[Seq[Seq[String]]] = None,
    skipDvs: Boolean = false)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** RUNTIME file pruning (the DSv2 dynamic-partition-pruning hook):
    * at execution time Spark hands the scan the build side's join-key
    * values as IN predicates; every file whose zone maps, Bloom, or
    * partition value PROVE none of those keys can occur is dropped
    * before it is opened. At 100 TB this is the fact-table saver: a
    * dim-filtered join reads only the fact files holding surviving
    * keys. File-level only — extra rows in kept files are fine (the
    * join drops them), so correctness never rests on this path.
    * Key-grouped scans participate too (a partition-value hit list is
    * the strongest prune) — at execution Spark's BatchScanExec owns
    * re-grouping the filtered splits, and the scan only ever reports
    * KeyGroupedPartitioning when v2 bucketing is enabled. Grouped
    * (compaction) scans opt out: their file list IS the work unit. */
  private var runtimeIn: Seq[(String, Seq[Any])] = Nil

  /** THIS scan's pruning tallies (filled by planInputPartitions).
    * Per-instance, so two concurrent scans of the SAME path — a
    * streaming tail plus a batch probe — can never interleave each
    * other's numbers; readers locate the cell through their own
    * DataFrame's plan (ManifestScanMetrics.perScan). */
  private[sources] val metricsCell = new ManifestScanMetrics.PerScan
  private[sources] def tablePath: String = path

  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (groups.isDefined) Array.empty
    // only columns in THIS scan's pruned output — Spark resolves these
    // against the scan relation and throws on anything it can't see
    else required.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType =>
        org.apache.spark.sql.connector.expressions.Expressions
          .column(f.name)
    }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
    val parsed = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }
      def litOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Any] = e match {
        case l: V2Literal[_] =>
          Some(l.value() match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case v => v
          })
        case _ => None
      }
      p.name() match {
        case "IN" if kids.nonEmpty =>
          for (c <- colOf(kids.head);
               vs <- Option(kids.tail.toSeq.map(litOf))
                 .filter(_.forall(_.isDefined)))
            yield (c, vs.flatten)
        case "=" if kids.length == 2 =>
          for (c <- colOf(kids(0)); v <- litOf(kids(1)))
            yield (c, Seq(v))
        case _ => None
      }
    }
    runtimeIn = runtimeIn ++ parsed
  }

  /** Size/row estimates from the manifest, POST filter pushdown (the
    * numbers AQE and the broadcast planner actually want): only the
    * entries surviving the zone-map/Bloom file skip count, so a
    * selective probe on a huge table reports its true small footprint.
    * Without this, Catalyst's broadcast decision on manifest tables is
    * blind (DSv2 defaults to "unknown" = never broadcast without a
    * hint). Rows are manifest-gross (delete vectors are estimates'
    * noise); bytes are the kept files' on-disk lengths — a driver-side
    * metadata op, same cost class as planning itself. */
  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics = {
    val (kept, _) = keptEntries()
    // file lengths come from the manifest (recorded at commit time),
    // NOT from one fs.getFileStatus RPC per file — Catalyst may ask
    // for stats several times per plan, and on object stores O(files)
    // metadata calls per planning pass dwarf planning itself. The stat
    // fallback only fires for pre-round-15 manifests lacking "bytes",
    // and the filesystem handle is resolved lazily for the same reason.
    var bytes = 0L
    var rows = 0L
    kept.foreach { e =>
      rows += e.rows
      bytes += e.bytes.getOrElse(
        try fs.getFileStatus(new Path(s"$path/${e.file}")).getLen
        catch { case _: java.io.IOException => 0L })
    }
    val (b, r) = (bytes, rows)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
    }
  }
  override def readSchema(): StructType = StructType(
    required.fields ++ ManifestMeta.fields.filter(f => metaCols.contains(f.name)))
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestScan PushedFilters: [${filters.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().catalogString}"

  // one copy of the session's Hadoop conf per Scan: the manifest read,
  // the statistics fallback and the reader factory all use it
  @transient private lazy val hadoopConf =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
  @transient private lazy val fs = ManifestFs.of(new Path(path), hadoopConf)

  /** ONE manifest read per Scan: data entries and delete vectors of the
    * SAME committed snapshot (reading them separately could mix
    * snapshots across a concurrent commit — old file groups with new
    * delete vectors), cached so `outputPartitioning` and
    * `planInputPartitions` always describe the same layout. */
  private lazy val snapshot: (Seq[ManifestEntry], Seq[String]) = {
    val manifestName =
      version.map(v => s"manifest-v$v.json").getOrElse("manifest.json")
    val txt =
      // a CURRENT read of a never-written table (catalog CREATE with
      // no INSERT yet) is legitimately EMPTY; an explicitly requested
      // version stays loud (expired by truncate, or never committed)
      if (version.isEmpty) ManifestRead.currentTextOrEmpty(fs, new Path(path))
      else ManifestRead.text(fs, new Path(path), manifestName)
    // parse-cached across scans (text equality validated) — a second
    // scan of an unchanged table re-reads the bytes but never re-parses
    val (entries, dvs) =
      ManifestRead.parsedOfText(s"$path/$manifestName", txt)
    (entries, if (skipDvs) Nil else dvs.map(_._1))
  }

  /** Entries of the target snapshot surviving the pushed-filter zone
    * maps AND the structural partition-value pruning (identity /
    * truncate ranges, bucket residue classes — works on manifests with
    * no column stats at all), plus the raw candidate count (for the
    * skip metrics). */
  private def pvKeep(e: ManifestEntry): Boolean =
    e.partPairs.forall { case (sp, pv) =>
      !(fullSchema.fieldNames.contains(sp.col) &&
        fullSchema(fullSchema.fieldIndex(sp.col)).dataType == LongType) ||
        filters.forall(ManifestPartSpec.pvMayMatch(sp, pv, _))
    }

  // runtime join-key sets: keep a file iff AT LEAST ONE key could
  // occur in it (zone maps / Bloom via an EqualTo probe per key, and
  // the structural partition value — every transform of a composite
  // key prunes independently — via the same In check)
  private def runtimeKeep(e: ManifestEntry): Boolean =
    runtimeIn.forall { case (c, vs) =>
      !fullSchema.fieldNames.contains(c) || vs.isEmpty ||
        (vs.exists(v => ManifestFilters.mayMatch(fullSchema, e,
          org.apache.spark.sql.sources.EqualTo(c, v))) &&
          e.partPairs.forall { case (sp, pv) =>
            sp.col != c ||
              fullSchema(fullSchema.fieldIndex(c)).dataType != LongType ||
              ManifestPartSpec.pvMayMatch(sp, pv,
                org.apache.spark.sql.sources.In(c, vs.toArray))
          })
    }

  /** All pruning verdicts over one entry-shaped unit — a whole file,
    * or ONE ROW GROUP dressed as a synthetic entry carrying its own
    * rows/stats (zone maps compose at any granularity). */
  private def keep(e: ManifestEntry): Boolean =
    pvKeep(e) && runtimeKeep(e) &&
      filters.forall(ManifestFilters.mayMatch(fullSchema, e, _))

  private def keptEntries(): (Seq[ManifestEntry], Int) = {
    val allEntries = snapshot._1
    (allEntries.filter(keep), allEntries.length)
  }

  /** IDENTITY-PARTITIONED layout (sink option "partitionBy"): when
    * every kept entry carries the same partition column, the scan
    * plans ONE input partition per distinct value and reports the
    * clustering as `KeyGroupedPartitioning(identity(col))` — the
    * storage-partitioned-join contract (q305's KeyedSource API, on the
    * real connector): two such tables join on the partition column
    * with ZERO exchanges. Sorted by value so the plan is
    * deterministic. None when any entry is un-keyed (a NULL-partition
    * file, a pre-partitioning manifest) or keyed differently. */
  private lazy val keyedLayout
    : Option[(Seq[ManifestPartSpec], Seq[(Seq[Long], Seq[ManifestEntry])])] = {
    if (groups.isDefined) None
    else {
      val (entries, _) = keptEntries()
      // every kept entry must carry the SAME transform list (single
      // pv/pt or composite pvs/pts — partPairs unifies them); an
      // un-keyed or foreign entry disables grouping for the table
      val specSets = entries.map(_.partPairs.map(_._1)).distinct
      if (entries.isEmpty || specSets.length != 1 || specSets.head.isEmpty)
        None
      else {
        val specs = specSets.head
        if (!specs.forall(sp => fullSchema.fieldNames.contains(sp.col) &&
          fullSchema(fullSchema.fieldIndex(sp.col)).dataType == LongType))
          None
        else {
          import scala.math.Ordering.Implicits.seqOrdering
          Some((specs,
            entries.groupBy(_.partPairs.map(_._2)).toSeq.sortBy(_._1)))
        }
      }
    }
  }

  private def transformExpr(sp: ManifestPartSpec)
    : org.apache.spark.sql.connector.expressions.Transform = sp match {
    case IdentityPartSpec(col) =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(col)
    case BucketPartSpec(n, col) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, col)
    case TruncatePartSpec(w, col) =>
      org.apache.spark.sql.connector.expressions.Expressions.apply(
        "truncate",
        org.apache.spark.sql.connector.expressions.Expressions.literal(w),
        org.apache.spark.sql.connector.expressions.Expressions.column(col))
  }

  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedLayout match {
      case Some((specs, gs)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          specs.map(transformExpr).toArray, gs.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // merge-on-read: every partition of this snapshot applies the
    // snapshot's delete vectors (positions of deleted rows) at scan
    // time — deleted rows are skipped record-by-record, never shipped.
    // Same single snapshot read as the entries (never mixed versions).
    val (allEntries, dvFiles) = snapshot
    // grouped mode (compaction): ONE partition per bin-packed group,
    // whole files only — each group is one task's rewrite unit
    groups.foreach { gs =>
      val byName = allEntries.map(e => e.file -> e).toMap
      return gs.map { g =>
        ManifestGroupPartition(path,
          g.map(n => byName.getOrElse(n,
            throw new IllegalArgumentException(
              s"ManifestSource: grouped file $n not in the manifest"))
            ).map(e => (e.file, e.rows, e.cols)),
          dvFiles): InputPartition
      }.toArray
    }
    // FILE SKIPPING on the pushed filters: per-entry column stats
    // (zone maps) plus structural partition-value pruning — a file
    // whose stats or partition value PROVE no row can match is never
    // opened. At 100 TB a selective time-range query plans only the
    // files whose ranges overlap. Purely an I/O optimization: the same
    // filters still run row-by-row in the reader.
    val (entries, _) = keptEntries()
    ManifestScanMetrics.record(path, allEntries.length,
      allEntries.length - entries.length)
    metricsCell.candidates = allEntries.length.toLong
    metricsCell.skipped = (allEntries.length - entries.length).toLong
    // identity-partitioned: one partition per distinct value, whole
    // files (partition grouping trades byte-range split granularity
    // for zero-exchange joins — the same trade Spark bucketed tables
    // make), each exposing its value via HasPartitionKey
    keyedLayout.foreach { case (_, _) =>
      // group the FILTERED entry set, not the lazily-cached layout:
      // keyedLayout may have been materialized at planning time
      // (outputPartitioning), BEFORE any runtime (DPP) filter arrived —
      // the planned splits must honor it (BatchScanExec owns regrouping
      // runtime-filtered key-grouped splits). A bucket transform's
      // partition key is the INT bucket id; an identity/truncate key is
      // the LONG value — each key-row field's type must match its
      // transform's result type.
      val specs = keyedLayout.get._1
      val intKey = specs.map(_.isInstanceOf[BucketPartSpec])
      import scala.math.Ordering.Implicits.seqOrdering
      return entries.groupBy(_.partPairs.map(_._2)).toSeq.sortBy(_._1)
        .map { case (keys, es) =>
          ManifestKeyedPartition(path,
            es.sortBy(_.file).map(e => (e.file, e.rows, e.cols)),
            dvFiles, keys, intKey): InputPartition
        }.toArray
    }
    var rgCandidates = 0L
    var rgSkipped = 0L
    val planned = entries
      .flatMap { e =>
      val (name, rows) = (e.file, e.rows)
      val rgList = e.rgs.map(ManifestParquet.parseRgs).getOrElse(Nil)
      if (rgList.nonEmpty) {
        // MULTI-ROW-GROUP parquet: one split per SURVIVING row group —
        // the planner both parallelizes a fat file and SKIPS inside it
        // (a group whose zone maps / partition value / runtime join
        // keys prove emptiness is never read). `_mf_pos` stays the
        // GLOBAL row ordinal: each split seeds its ordinal with the
        // preceding groups' row count, so delete vectors and row
        // identity survive the split exactly.
        rgCandidates += rgList.length
        var rowStart = 0L
        rgList.flatMap { rg =>
          val start = rowStart
          rowStart += rg.rows
          // a row group prunes under the SAME verdicts as a file: its
          // own zone maps ride a synthetic entry (partition value and
          // file columns inherited)
          val rgEntry = ManifestEntry(e.file, rg.rows, 0L, e.cols,
            Option(rg.stats).filter(_.nonEmpty), e.pv, e.pt,
            pvs = e.pvs, pts = e.pts)
          if (keep(rgEntry))
            Some(ManifestFilePartition(s"$path/$name", rg.rows,
              rg.off, rg.len, dvFiles, cols = e.cols,
              rowStart = start): InputPartition)
          else { rgSkipped += 1; None }
        }
      }
      else
        // one whole-file split: the row-count tamper guard covers it
        Seq(ManifestFilePartition(s"$path/$name", rows,
          dvFiles = dvFiles, cols = e.cols): InputPartition)
    }.toArray
    ManifestScanMetrics.recordRgs(path, rgCandidates, rgSkipped)
    metricsCell.rgCandidates = rgCandidates
    metricsCell.rgSkipped = rgSkipped
    planned
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // scale gate (ManifestScan.ColumnarMinRows), decided per SCAN: Spark
    // requires a scan's partitions to be uniformly columnar or
    // row-based. Snapshot row counts come free from the parsed manifest.
    val columnar = snapshot._1.nonEmpty &&
      snapshot._1.iterator.map(_.rows).sum >= ManifestScan.ColumnarMinRows
    new ManifestReaderFactory(fullSchema, required,
      ShippedConf(hadoopConf), filters, metaCols, columnar)
  }

  /** Streaming face: each micro-batch is the file-level DIFF between
    * two committed manifest versions — the snapshot-tailing pattern
    * (a table's commits ARE its change stream). Appends only add
    * files, so the diff is exactly the new files; offsets are plain
    * version numbers, so restarts resume exactly-once at file
    * granularity from the checkpoint. A truncate expires the version
    * history and a running stream fails loudly rather than silently
    * re-reading rewritten data. */
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestMicroBatchStream(path, fullSchema, required, filters)
}

/** One data-file entry of a manifest: rows/checksum always; `cols`
  * (the file's own column layout, for schema evolution) and `stats`
  * (per-column min/max/null-count JSON, for scan-time file skipping)
  * are optional — manifests written before round 12 lack them, and a
  * reader treats their absence as "layout == read schema, no pruning".
  */
private[sources] case class ManifestEntry(
    file: String, rows: Long, checksum: Long,
    cols: Option[String] = None, stats: Option[String] = None,
    // identity-partition metadata (sink option "partitionBy"): the
    // single value of the partition column every row of this file
    // carries (pv) and that column's name (pt). Powers partition-
    // grouped scans + storage-partitioned joins (q428).
    pv: Option[Long] = None, pt: Option[String] = None,
    // on-disk length, recorded at commit time (the writer knows it) so
    // estimateStatistics sums bytes from the manifest instead of one
    // driver-side getFileStatus RPC per file per planning pass; absent
    // on pre-round-15 manifests (readers fall back to a stat call)
    bytes: Option[Long] = None,
    // per-row-group (rows, byte range, zone maps) JSON for multi-group
    // parquet files: the planner emits one split per SURVIVING row
    // group — skipping inside a fat file, no plan-time footer reads
    rgs: Option[String] = None,
    // MULTI-transform partitioning (composite SPJ keys): pipe-joined
    // value tuple ("3|12") and transform list ("bucket(8,k)|region");
    // single-transform files keep the legacy pv/pt fields
    pvs: Option[String] = None, pts: Option[String] = None) {
  /** Per-transform (spec, value) pairs — single pv/pt and multi
    * pvs/pts unified for the pruning paths. Empty when un-keyed or
    * unparseable (foreign manifest). */
  def partPairs: Seq[(ManifestPartSpec, Long)] =
    (for (t <- pts; v <- pvs) yield scala.util.Try {
      t.split('|').map(ManifestPartSpec.parse).toSeq
        .zip(v.split('|').map(_.toLong).toSeq)
    }.getOrElse(Nil)).orElse(
      for (t <- pt; v <- pv) yield scala.util.Try(
        Seq((ManifestPartSpec.parse(t), v))).getOrElse(Nil))
      .getOrElse(Nil)
  def colNames: Option[Seq[String]] = cols.map(_.split(',').toSeq)
}

/** Per-column file statistics parsed from an entry's `stats` JSON:
  * `nulls` counts NULL values; `min`/`max` span the NON-NULL values
  * and are absent when every value is null (or, for doubles, when any
  * NaN was seen — NaN-poisoned bounds must never prune). Strings carry
  * only `nulls` for bounds (Java vs UTF8String ordering disagree on
  * supplementary characters, the same reason string inequalities are
  * not pushed) plus an optional per-file BLOOM filter (`bloom`,
  * base64), which prunes string EQUALITY — exact in both orders, so no
  * collation hazard applies. */
private[sources] case class ColStats(
    nulls: Long, min: Option[String], max: Option[String],
    bloom: Option[String] = None,
    slo: Option[Array[Byte]] = None, shi: Option[Array[Byte]] = None,
    shix: Boolean = false)

/** Iceberg-style TRUNCATED BINARY string bounds (UTF-8 byte prefixes,
  * compared unsigned-lexicographic = Spark's UTF8String order — NOT
  * Java's UTF-16 String order, which disagrees on supplementary
  * characters; that disagreement is why full string min/max was
  * refused in round 12). Shared by the sink (record) and the scan
  * planner (prune) so both sides use one comparison.
  *
  *  - lower bound `slo` = min over trunc_T(value): truncation only
  *    LOWERS a value, so slo <= every value — inclusive, always valid;
  *  - upper bound `shi` = max over ub(value), where ub = the value
  *    itself when it fits in T bytes (inclusive, `shix=false`) or the
  *    byte-successor of its T-prefix (strictly greater than the value,
  *    exclusive, `shix=true`). A value whose T-prefix is all 0xFF has
  *    no successor — the column's upper bound is dropped for that file
  *    (prune-side: keep).
  */
private[graft] object ManifestStrBounds {
  val T = 16

  def cmpB(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def trunc(b: Array[Byte]): Array[Byte] =
    if (b.length <= T) b else java.util.Arrays.copyOf(b, T)

  /** Smallest byte string strictly greater than every string with
    * prefix `b`: increment the last non-0xFF byte, dropping the 0xFF
    * tail. None when every byte is 0xFF (no successor exists). */
  def succ(b: Array[Byte]): Option[Array[Byte]] = {
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)
}

/** The per-file string-column Bloom filter (the Iceberg/Delta
  * bloom-index move): [[Bits]] bits, [[K]] probes by double hashing
  * over the value's UTF-8 bytes. Fixed-size here (test-scale files);
  * production sizes m at ~10 bits/row. Shared by the sink (build) and
  * the scan planner (probe) so the bit positions always agree. A Bloom
  * can only say "definitely absent" — a false positive keeps the file
  * planned, never loses a row. */
private[graft] object ManifestBloom {
  val Bits = 4096
  val K = 3

  private def baseHashes(value: String): (Int, Int) = {
    val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h1 = 0x811c9dc5
    var h2 = 0x7ee35235
    var i = 0
    while (i < bytes.length) {
      h1 = (h1 ^ bytes(i)) * 0x01000193
      h2 = h2 * 31 + bytes(i)
      i += 1
    }
    (h1, h2 | 1) // odd step so probes cycle the whole table
  }

  def positions(value: String): Array[Int] = {
    val (h1, h2) = baseHashes(value)
    Array.tabulate(K)(i => math.floorMod(h1 + i * h2, Bits))
  }

  def add(bits: Array[Long], value: String): Unit =
    positions(value).foreach(p => bits(p >> 6) |= (1L << (p & 63)))

  def mightContain(b64: String, value: String): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    positions(value).forall { p =>
      val byteIdx = p >> 3
      byteIdx < bytes.length && (bytes(byteIdx) & (1 << (p & 7))) != 0
    }
  }

  def encode(bits: Array[Long]): String = {
    val bytes = new Array[Byte](bits.length * 8)
    var i = 0
    while (i < bits.length) {
      var j = 0
      while (j < 8) {
        bytes(i * 8 + j) = ((bits(i) >>> (j * 8)) & 0xff).toByte
        j += 1
      }
      i += 1
    }
    java.util.Base64.getEncoder.encodeToString(bytes)
  }
}

private[graft] object ManifestRead {
  private val entryRe =
    ("""\{"file":"([^"]+)","rows":(\d+),"checksum":(-?\d+)""" +
      """(?:,"bytes":(\d+))?""" +
      """(?:,"pv":(-?\d+),"pt":"([^"]*)")?""" +
      """(?:,"pvs":"([^"]*)","pts":"([^"]*)")?""" +
      """(?:,"cols":"([^"]*)")?""" +
      """(?:,"stats":(\{(?:[^{}]|\{[^{}]*\})*\}))?""" +
      """(?:,"rgs":(\[[^\]]*\]))?\}""").r

  /** Parse every data-file entry (with optional bytes/pv/pt/pvs/pts/
    * cols/stats/rgs) of one manifest body. */
  def entriesOfText(txt: String): Seq[ManifestEntry] =
    entryRe.findAllMatchIn(txt).map { m =>
      ManifestEntry(m.group(1), m.group(2).toLong, m.group(3).toLong,
        Option(m.group(9)).filter(_.nonEmpty), Option(m.group(10)),
        Option(m.group(5)).map(_.toLong), Option(m.group(6)),
        Option(m.group(4)).map(_.toLong), Option(m.group(11)),
        Option(m.group(7)), Option(m.group(8)))
    }.toSeq

  /** Render one entry back to its manifest JSON form (inverse of
    * [[entriesOfText]] — carry-forward must preserve every optional
    * field). */
  def render(e: ManifestEntry): String =
    s"""{"file":"${e.file}","rows":${e.rows},"checksum":${e.checksum}""" +
      e.bytes.map(b => s""","bytes":$b""").getOrElse("") +
      (for (v <- e.pv; t <- e.pt) yield s""","pv":$v,"pt":"$t"""").getOrElse("") +
      (for (v <- e.pvs; t <- e.pts) yield s""","pvs":"$v","pts":"$t"""").getOrElse("") +
      e.cols.map(c => s""","cols":"$c"""").getOrElse("") +
      e.stats.map(st => s""","stats":$st""").getOrElse("") +
      e.rgs.map(r => s""","rgs":$r""").getOrElse("") + "}"

  /** Full entries of one committed manifest. */
  def entries(path: String, manifestName: String): Seq[ManifestEntry] =
    entriesOfText(manifestText(path, manifestName))

  /** Per-query last-committed-epoch records (`"streamEpochs":{...}`) —
    * the streaming sink's exactly-once ledger. Empty when the table was
    * never written by a stream. Anchored to the TOP-LEVEL key: the sink
    * always renders the ledger as the last member before the document's
    * closing brace, whereas a user column literally named `streamEpochs`
    * renders a stats block deep inside the files array (followed by at
    * least `}]` before end-of-input) — without the anchor that block
    * would shadow the real ledger and defeat the exactly-once guard. */
  def streamEpochs(txt: String): Map[String, Long] =
    ""","streamEpochs":\{([^{}]*)\}\}\z""".r.findFirstMatchIn(txt)
      .map(m => """"([^"]+)":(\d+)""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toLong).toMap)
      .getOrElse(Map.empty)

  /** Manifest-body suffix for the epoch ledger ("" when empty); sorted
    * keys keep the rendering deterministic. */
  def renderEpochs(epochs: Map[String, Long]): String =
    if (epochs.isEmpty) ""
    else epochs.toSeq.sortBy(_._1).map { case (q, e) => s""""$q":$e""" }
      .mkString(""","streamEpochs":{""", ",", "}")

  /** Full text of one committed manifest, for a caller that reads just
    * the one ([[text]] with a filesystem resolved for this call). */
  def manifestText(path: String, manifestName: String): String =
    text(fsFor(path), new Path(path), manifestName)

  /** CURRENT-snapshot text with the commit swap window bridged: on
    * non-local schemes a committer publishes `manifest.json`
    * delete-then-rename ([[ManifestFs.publish]]), so a reader racing a
    * commit can see it absent for a few milliseconds.
    * Absence only means "empty table" when the directory holds NO
    * committed version manifest either (a catalog CREATE with no
    * INSERT yet is the one legitimately-empty case); a table with
    * history retries briefly and then rethrows — the swap window
    * stays a loud failure, never a silent 0-row result. */
  def currentTextOrEmpty(fs: FileSystem, dir: Path): String = {
    var attempt = 0
    while (true) {
      try return text(fs, dir, "manifest.json")
      catch {
        case e: java.io.FileNotFoundException =>
          if (latestVersion(fs, dir) == 0L) return "" // provably never written
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(25L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val colStatsRe =
    (""""([^"]+)":\{"nulls":(\d+)(?:,"min":("[^"]*"|[^,}]+))?""" +
      """(?:,"max":("[^"]*"|[^,}]+))?""" +
      """(?:,"slo":"([^"]*)")?(?:,"shi":"([^"]*)","shix":(true|false))?""" +
      """(?:,"bloom":"([^"]*)")?\}""").r

  /** `stats` JSON → per-column [[ColStats]]. */
  def parseStats(json: String): Map[String, ColStats] =
    colStatsRe.findAllMatchIn(json).map { m =>
      m.group(1) -> ColStats(m.group(2).toLong,
        Option(m.group(3)), Option(m.group(4)), Option(m.group(8)),
        Option(m.group(5)).map(ManifestStrBounds.unb64),
        Option(m.group(6)).map(ManifestStrBounds.unb64),
        m.group(7) == "true")
    }.toMap

  /** The connector's filesystem for `path`, from one copy of the active
    * session's Hadoop conf. A caller that reads several manifests
    * resolves it once and passes it to the readers below. */
  def fsFor(path: String): FileSystem = ManifestFs.of(new Path(path),
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  /** Full text of one manifest. Throws FileNotFoundException when the
    * manifest is absent (never committed, or the version was expired by
    * a truncate). */
  def text(fs: FileSystem, dir: Path, manifestName: String): String = {
    val mp = new Path(dir, manifestName)
    if (!fs.exists(mp))
      throw new java.io.FileNotFoundException(
        s"ManifestSource: $manifestName not found at $dir " +
          "(expired by truncate, or never committed?)")
    ManifestSink.readFully(fs.open(mp))
  }

  /** (dvFile, rows, checksum) DELETE-VECTOR entries of one manifest —
    * each dv file lists (dataFile, recordByteOffset, lineHash) rows of
    * deleted records. Empty for manifests without deletes. */
  def dvs(path: String, manifestName: String): Seq[(String, Long, Long)] =
    dvsOfText(manifestText(path, manifestName))

  /** Delete-vector entries parsed from an already-read manifest body
    * (for callers that must derive entries AND dvs from ONE snapshot
    * read — two separate reads can mix snapshots across a concurrent
    * commit). */
  def dvsOfText(txt: String): Seq[(String, Long, Long)] =
    """\{"dv":"([^"]+)","rows":(\d+),"checksum":(-?\d+)\}""".r
      .findAllMatchIn(txt)
      .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
      .toSeq

  /** True iff the named manifest carries the `"compaction":true` flag —
    * a pure rewrite whose files the streaming tail must not re-emit. */
  def isCompaction(fs: FileSystem, dir: Path, manifestName: String): Boolean = {
    val mp = new Path(dir, manifestName)
    fs.exists(mp) &&
      ManifestSink.readFully(fs.open(mp), 256).contains("\"compaction\":true")
  }

  /** Cross-scan cache of PARSED manifests. Every Scan used to regex-
    * parse the full manifest text again — O(files) single-threaded
    * driver work per query on a table scanned many times per session.
    * The text itself is still read every time (so a concurrent commit
    * is always observed — no staleness window); the cache only skips
    * the parse, validated by full text EQUALITY (an O(bytes) memcmp,
    * not a hash — a collision can never serve a stale layout). Bounded
    * LRU; oversized manifests bypass it. */
  private val parseCacheMax = 64
  private val parseCacheMaxBytes = 32 * 1024 * 1024
  private val parseCache =
    new java.util.LinkedHashMap[String,
        (String, Seq[ManifestEntry], Seq[(String, Long, Long)])](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (String, Seq[ManifestEntry], Seq[(String, Long, Long)])])
        : Boolean = size > parseCacheMax
    }

  /** (entries, dvs) of one already-read manifest body, parse-cached by
    * `key` (table path + manifest name). */
  def parsedOfText(key: String, txt: String)
    : (Seq[ManifestEntry], Seq[(String, Long, Long)]) = {
    if (txt.length > parseCacheMaxBytes)
      return (entriesOfText(txt), dvsOfText(txt))
    parseCache.synchronized {
      val hit = parseCache.get(key)
      if (hit != null && hit._1 == txt) return (hit._2, hit._3)
    }
    val parsed = (entriesOfText(txt), dvsOfText(txt))
    parseCache.synchronized {
      parseCache.put(key, (txt, parsed._1, parsed._2))
    }
    parsed
  }

  /** Highest committed manifest version at `path` (0 = none). */
  def latestVersion(path: String): Long =
    latestVersion(fsFor(path), new Path(path))

  def latestVersion(fs: FileSystem, dir: Path): Long = {
    if (!fs.exists(dir)) return 0L
    val vRe = """manifest-v(\d+)\.json""".r
    fs.listStatus(dir).map(_.getPath.getName).collect {
      case vRe(v) => v.toLong
    }.foldLeft(0L)(math.max)
  }
}

/** Offset = committed manifest version (0 = before the first commit). */
private case class ManifestOffset(version: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

private class ManifestMicroBatchStream(
    path: String, fullSchema: StructType, required: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def latestOffset(): Offset =
    ManifestOffset(ManifestRead.latestVersion(path))

  override def initialOffset(): Offset = ManifestOffset(0L)

  override def deserializeOffset(json: String): Offset =
    ManifestOffset(""""version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ManifestOffset].version
    val e = end.asInstanceOf[ManifestOffset].version
    if (e <= s) return Array.empty
    // A brand-new stream (s == 0) gets INITIAL-SNAPSHOT semantics: emit
    // the end version's file set directly — every committed row appears
    // exactly once there (compactions included), and the early history
    // may have been expired by ManifestMaintenance.expireSnapshots, so
    // a per-version walk from v1 would FileNotFound on GC'd manifests.
    // deletes committed up to the END version apply to every emitted
    // file (merge-on-read); rows deleted AFTER a file was already
    // emitted are not retracted — the append-stream contract (a delete
    // version adds no files, so it produces an empty micro-batch)
    val fs = ManifestRead.fsFor(path)
    val dir = new Path(path)
    def text(v: Long) = ManifestRead.text(fs, dir, s"manifest-v$v.json")
    def files(v: Long) =
      ManifestRead.entriesOfText(text(v)).map(x => (x.file, x.rows))
    val dvFiles = ManifestRead.dvsOfText(text(e)).map(_._1)
    if (s == 0)
      return files(e)
        .map(f => ManifestFilePartition(s"$path/${f._1}", f._2,
          dvFiles = dvFiles): InputPartition)
        .toArray
    // Restart (s > 0): walk every version step in (s, e]. An APPEND
    // contributes exactly its new files; a COMPACTION version (flagged
    // "compaction":true — a pure rewrite, dataChange=false in Delta
    // terms) contributes NOTHING — its files carry rows the stream
    // already emitted, and the endpoint diff alone would re-emit the
    // whole dataset. A missing mid-range manifest (expired while the
    // stream was down) throws in ManifestRead.text — fail loudly,
    // never re-read rewritten data.
    val out = Seq.newBuilder[InputPartition]
    var prev: Set[String] = files(s).map(_._1).toSet
    (s + 1) to e foreach { v =>
      val cur = files(v)
      if (!ManifestRead.isCompaction(fs, dir, s"manifest-v$v.json"))
        cur.filterNot(f => prev.contains(f._1)).foreach(f =>
          out += ManifestFilePartition(s"$path/${f._1}", f._2,
            dvFiles = dvFiles))
      prev = cur.map(_._1).toSet
    }
    out.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(fullSchema, required, ShippedConf(), filters)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A whole data file, or (`rowStart >= 0`) ONE ROW GROUP of it:
  * `start`/`len` are then the group's byte range (midpoint-selected),
  * `rows` the group's own row count (the tamper guard stays active per
  * group), and the reader seeds `_mf_pos` at `rowStart` so ordinals
  * stay file-global. `dvFiles` names the snapshot's delete-vector files
  * (table-dir-relative); the reader skips records whose ordinal a dv
  * lists for its file. */
private case class ManifestFilePartition(
    file: String, rows: Long, start: Long = 0L, len: Long = -1L,
    dvFiles: Seq[String] = Nil, rowStart: Long = -1L,
    // the FILE's own column layout (schema evolution): absent = the
    // file was written with exactly the read schema's data columns
    cols: Option[String] = None)
  extends InputPartition

/** A bin-packed GROUP of whole files read by ONE task (compaction's
  * scan shape: parallelism = group count, no shuffle, no funnel). */
private case class ManifestGroupPartition(
    tableDir: String, files: Seq[(String, Long, Option[String])],
    dvFiles: Seq[String] = Nil)
  extends InputPartition

/** All files of one partition-value TUPLE (single or composite key),
  * read by one task and EXPOSING the tuple — the
  * storage-partitioned-join split (pairs up with the other side's
  * equal-keyed split, no exchange). `intKey(i)` marks bucket
  * transforms, whose key field is the INT bucket id. */
private case class ManifestKeyedPartition(
    tableDir: String, files: Seq[(String, Long, Option[String])],
    dvFiles: Seq[String], keys: Seq[Long], intKey: Seq[Boolean])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      keys.zip(intKey).map { case (v, isInt) =>
        if (isInt) v.toInt else v
      })
}

/** Per-TABLE-PATH file-skipping tally of the most recent batch scan
  * (spec observability; the honest runtime observable is the planned
  * partition count itself). Keyed by table path so a concurrent scan
  * of ANOTHER table (parallel suites, background streams) can never
  * interleave between a forced scan and its metric read — the JVM-
  * global last-scan AtomicLongs this replaces could. Two concurrent
  * scans of the SAME path can still race; every reader here probes a
  * path it created privately (per-query /tmp fixture dirs). */
private[graft] object ManifestScanMetrics {
  private final case class M(candidates: Long, skipped: Long,
    aggFromStats: Boolean, rgCandidates: Long = 0L, rgSkipped: Long = 0L)
  private val byPath =
    new java.util.concurrent.ConcurrentHashMap[String, M]()

  private[sources] def record(path: String, candidates: Long,
      skipped: Long): Unit =
    byPath.put(path, M(candidates, skipped, aggFromStats = false))
  private[sources] def recordRgs(path: String, rgCandidates: Long,
      rgSkipped: Long): Unit =
    byPath.compute(path, (_, m) =>
      Option(m).getOrElse(M(0L, 0L, aggFromStats = false))
        .copy(rgCandidates = rgCandidates, rgSkipped = rgSkipped))
  private[sources] def recordAgg(path: String): Unit =
    byPath.put(path, M(0L, 0L, aggFromStats = true))

  def candidateFiles(path: String): Long =
    Option(byPath.get(path)).map(_.candidates).getOrElse(0L)
  def skippedFiles(path: String): Long =
    Option(byPath.get(path)).map(_.skipped).getOrElse(0L)
  /** candidates − skipped of the last scan planned over `path`. */
  def plannedFiles(path: String): Long =
    candidateFiles(path) - skippedFiles(path)
  /** Row groups of multi-group parquet files seen by the last scan. */
  def candidateRowGroups(path: String): Long =
    Option(byPath.get(path)).map(_.rgCandidates).getOrElse(0L)
  /** ... of which pruned (zone maps / partition value / runtime keys)
    * without being read. */
  def skippedRowGroups(path: String): Long =
    Option(byPath.get(path)).map(_.rgSkipped).getOrElse(0L)
  def plannedRowGroups(path: String): Long =
    candidateRowGroups(path) - skippedRowGroups(path)

  /** One scan instance's pruning tallies — the per-SCAN identity the
    * path-keyed map can't give when two scans of the SAME path run
    * concurrently (a streaming tail plus a batch probe). */
  final class PerScan {
    @volatile var candidates = 0L
    @volatile var skipped = 0L
    @volatile var rgCandidates = 0L
    @volatile var rgSkipped = 0L
    def planned: Long = candidates - skipped
    def plannedRgs: Long = rgCandidates - rgSkipped
  }

  /** The metric cells of every manifest scan OVER `path` inside `df`'s
    * own executed plan — an observable query reads ITS scan's numbers,
    * not "whatever scanned this path last". Force the DataFrame first
    * (the cells are written by planInputPartitions at execution). */
  def perScan(df: org.apache.spark.sql.DataFrame,
      path: String): Seq[PerScan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Seq[PerScan] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BatchScanExec => b.scan match {
          case m: ManifestScan if m.tablePath == path => Seq(m.metricsCell)
          case _ => Nil
        }
        case _ => Nil
      }
      here ++ p.children.flatMap(walk) ++
        p.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).distinct
  }

  /** planned/candidate FILE counts summed over `df`'s own scans of
    * `path`. When the final plan holds no scan node — AQE's
    * empty-relation propagation REPLACES an executed scan whose stage
    * returned 0 rows, making the instance unreachable even though it
    * planned and recorded — fall back to the path-keyed record; a path
    * NO scan ever recorded still fails loudly (an observable must
    * never silently read zeros). */
  def filesOf(df: org.apache.spark.sql.DataFrame,
      path: String): (Long, Long) = {
    val cells = perScan(df, path)
    if (cells.nonEmpty) (cells.map(_.planned).sum, cells.map(_.candidates).sum)
    else {
      require(byPath.containsKey(path),
        s"ManifestScanMetrics: no manifest scan of $path in this plan " +
          "and none ever recorded for the path")
      (plannedFiles(path), candidateFiles(path))
    }
  }

  /** planned/candidate ROW-GROUP counts of `df`'s own scans of `path`
    * (same empty-relation fallback as [[filesOf]]). */
  def rowGroupsOf(df: org.apache.spark.sql.DataFrame,
      path: String): (Long, Long) = {
    val cells = perScan(df, path)
    if (cells.nonEmpty)
      (cells.map(_.plannedRgs).sum, cells.map(_.rgCandidates).sum)
    else {
      require(byPath.containsKey(path),
        s"ManifestScanMetrics: no manifest scan of $path in this plan " +
          "and none ever recorded for the path")
      (plannedRowGroups(path), candidateRowGroups(path))
    }
  }
  /** true iff the last scan build over `path` answered its aggregates
    * from manifest statistics alone (no data file opened). */
  def aggFromStats(path: String): Boolean =
    Option(byPath.get(path)).exists(_.aggFromStats)
  def reset(path: String): Unit = byPath.remove(path)
}

/** Resolves a pushed global aggregation against the manifest's
  * per-file column stats. Returns None whenever ANY term can't be
  * proven from stats — Spark then falls back to a normal scan, so
  * this path can only ever REMOVE work, never change answers. */
private[sources] object ManifestAgg {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}

  private def colOf(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(nr.fieldNames.head)
    case _ => None
  }

  def answer(path: String, manifestName: String, schema: StructType,
      aggs: Seq[AggregateFunc]): Option[(StructType, Seq[Any])] = {
    val txt =
      try ManifestRead.manifestText(path, manifestName)
      catch { case _: java.io.IOException => return None }
    // delete vectors make manifest stats GROSS — never answer net
    // questions from them
    if (ManifestRead.entriesOfText(txt).isEmpty &&
      """"file":""".r.findFirstIn(txt).isDefined) return None
    if (""""dv":""".r.findFirstIn(txt).isDefined) return None
    val entries = ManifestRead.entriesOfText(txt)
    val statsOf: Seq[(ManifestEntry, Map[String, ColStats])] =
      entries.map(e => e -> e.stats.map(ManifestRead.parseStats)
        .getOrElse(Map.empty))
    // per-column stats with schema-evolution semantics: a column absent
    // from the file's own layout is all-NULL
    def colStats(e: ManifestEntry, st: Map[String, ColStats],
        a: String): Option[ColStats] =
      e.colNames match {
        case Some(cs) if !cs.contains(a) => Some(ColStats(e.rows, None, None))
        case _ => st.get(a)
      }
    def dt(a: String): Option[DataType] =
      if (schema.fieldNames.contains(a)) Some(schema(schema.fieldIndex(a)).dataType)
      else None
    def bound(a: String, pick: ColStats => Option[String],
        cmp: (Long, Long) => Long, cmpD: (Double, Double) => Double): Option[Any] = {
      // min/max over non-null values; a file with bounds contributes
      // its bound, an all-null file contributes nothing, a file with
      // values but NO bounds (string / NaN-poisoned / pre-stats entry)
      // makes the answer unprovable
      val dtype = dt(a).getOrElse(return None)
      if (dtype != LongType && dtype != IntegerType && dtype != DoubleType)
        return None
      var accL: Option[Long] = None
      var accD: Option[Double] = None
      statsOf.foreach { case (e, st) =>
        if (e.rows > 0) {
          val cs = colStats(e, st, a).getOrElse(return None)
          if (cs.nulls < e.rows) {
            val b = pick(cs).getOrElse(return None)
            dtype match {
              case DoubleType =>
                accD = Some(accD.fold(b.toDouble)(cmpD(_, b.toDouble)))
              case _ =>
                accL = Some(accL.fold(b.toLong)(cmp(_, b.toLong)))
            }
          }
        }
      }
      dtype match {
        case DoubleType => Some(accD.orNull)
        case IntegerType => Some(accL.map(_.toInt).orNull)
        case _ => Some(accL.orNull)
      }
    }
    def nonNullCount(a: String): Option[Any] = {
      if (dt(a).isEmpty) return None
      var n = 0L
      statsOf.foreach { case (e, st) =>
        if (e.rows > 0) {
          val cs = colStats(e, st, a).getOrElse(return None)
          n += e.rows - cs.nulls
        }
      }
      Some(n)
    }
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    aggs.foreach {
      case m: Min =>
        val a = colOf(m.column).getOrElse(return None)
        val v = bound(a, _.min, math.min, math.min).getOrElse(return None)
        fields += StructField(s"min($a)", dt(a).get)
        values += v
      case m: Max =>
        val a = colOf(m.column).getOrElse(return None)
        val v = bound(a, _.max, math.max, math.max).getOrElse(return None)
        fields += StructField(s"max($a)", dt(a).get)
        values += v
      case _: CountStar =>
        fields += StructField("count(*)", LongType)
        values += entries.map(_.rows).sum
      case c: Count if !c.isDistinct =>
        val a = colOf(c.column).getOrElse(return None)
        val v = nonNullCount(a).getOrElse(return None)
        fields += StructField(s"count($a)", LongType)
        values += v
      case _ => return None
    }
    Some((StructType(fields.result()), values.result()))
  }
}

/** A scan whose single partition emits ONE pre-aggregated row computed
  * from manifest statistics at plan time — no data file is opened. */
private class ManifestAggScan(path: String, aggSchema: StructType,
    values: Seq[Any])
  extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestAggScan (metadata-only) ${aggSchema.catalogString}"
  override def planInputPartitions(): Array[InputPartition] = {
    ManifestScanMetrics.recordAgg(path)
    Array(ManifestAggPartition(values))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val row = InternalRow.fromSeq(
            p.asInstanceOf[ManifestAggPartition].values.toIndexedSeq)
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

private case class ManifestAggPartition(values: Seq[Any])
  extends InputPartition

private class ManifestReaderFactory(
    fullSchema: StructType, required: StructType,
    hadoopConf: ShippedConf,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    metaCols: Seq[String] = Nil,
    columnar: Boolean = false)
  extends PartitionReaderFactory {
  import ManifestSink.{KBool, KDbl, KDec, KInt, KLong, KStr, KTs}

  /** Columnar hand-off, decided once per scan (Spark requires partitions
    * of one scan to be uniformly columnar or uniformly row-based), so
    * every planned partition honors it. */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = p match {
    case part: ManifestFilePartition => createParquetColumnarReader(part)
    case _ => new ChainedReader(filesOf(p), createParquetColumnarReader)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case part: ManifestFilePartition => createParquetReader(part)
    case _ => new ChainedReader(filesOf(p), createParquetReader)
  }

  /** The whole files of a group (compaction) or keyed (partition-value)
    * split, in order. */
  private def filesOf(p: InputPartition): Iterator[ManifestFilePartition] = {
    val (dir, files, dvFiles) = p match {
      case g: ManifestGroupPartition => (g.tableDir, g.files, g.dvFiles)
      case k: ManifestKeyedPartition => (k.tableDir, k.files, k.dvFiles)
    }
    files.iterator.map { case (name, rows, cols) =>
      ManifestFilePartition(s"$dir/$name", rows, dvFiles = dvFiles, cols = cols)
    }
  }

  /** Deleted record positions for ONE data file (merge-on-read): dv
    * files are small relative to data (one short line per deleted
    * row), so each reader streams them and keeps only its own file's
    * positions; at larger delete volumes the dv files would be
    * bucketed by data-file prefix so a reader opens only its bucket. */
  private def deletedPosFor(fs: org.apache.hadoop.fs.FileSystem,
      file: Path, dvFiles: Seq[String]): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val fileName = file.getName
    val tableDir = file.getParent
    dvFiles.foreach { dv =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(new Path(tableDir, dv)), "UTF-8"))
      try {
        // the sink's own `file,pos,hash` lines (file names need no
        // escaping): parse pos only on this file's lines
        val prefix = fileName + ","
        var l = in.readLine()
        while (l != null) {
          if (l.startsWith(prefix))
            set.add(l.substring(prefix.length, l.indexOf(',', prefix.length)).toLong)
          l = in.readLine()
        }
      } finally in.close()
    }
    set
  }

  /** Per-file decode state shared by BOTH hand-offs (row and columnar):
    * decodes ONLY the projected columns' chunks (required + pushed-filter
    * columns; every file column when the canonical line hash is
    * requested) in BATCHES into column vectors
    * (ManifestParquetBatchReader). Delete vectors apply by ROW ORDINAL
    * and the pushed filters evaluate on the decoded values; survivors
    * land in a selection vector the wrapping reader serves rows (or
    * column vectors) from. */
  private final class ParquetCursor(part: ManifestFilePartition) {
    private val fp = new Path(part.file)
    private val fs = ManifestFs.of(fp, hadoopConf.value)
    private val fileName = fp.getName
    private val deletedPos = deletedPosFor(fs, fp, part.dvFiles)
    val hasDeletes: Boolean = !deletedPos.isEmpty
    // the FILE's own column layout, in file column order: schema
    // evolution by name against the read schema, and (when the manifest
    // records it) by position against the file's columns, so a
    // manifest-only RENAME COLUMN keeps the data
    private val fileCols: Array[String] =
      part.cols.map(_.split(',')).getOrElse(fullSchema.fieldNames)
    private val needLinehash = metaCols.contains("_mf_linehash")
    if (needLinehash) {
      val unknown = fileCols.filterNot(fullSchema.fieldNames.contains)
      require(unknown.isEmpty,
        s"ManifestSource: cannot reconstruct row identity hashes for " +
          s"$fileName — file columns ${unknown.mkString(",")} are not in " +
          "the read schema")
    }
    // an unsupported read type fails loudly, even where no file stores it
    required.fields.foreach(f => ManifestSink.kindOf(f.dataType))
    private def dtOf(n: String) = fullSchema(fullSchema.fieldIndex(n)).dataType
    // projection: exactly the file columns this scan touches, in FILE
    // order — with the line hash requested, every file column
    private val neededNames: Array[String] = {
      val want =
        if (needLinehash) fullSchema.fieldNames.toSeq
        else (required.fields.map(_.name) ++
          filters.flatMap(_.references)).distinct.toSeq
      fileCols.filter(want.contains) // in FILE order, existing only
    }
    // rowStart >= 0 = a ROW-GROUP split: read exactly the group whose
    // byte midpoint falls in [start, start+len) and seed the ordinal
    // with the preceding groups' rows — `_mf_pos` stays file-global,
    // so delete vectors and row identity survive the split
    private val rgSplit = part.rowStart >= 0L
    val batch = new ManifestParquetBatchReader(fp, neededNames,
      neededNames.map(dtOf), hadoopConf.value,
      if (rgSplit) Some((part.start, part.start + part.len)) else None,
      part.cols.map(_ => neededNames.map(n => fileCols.indexOf(n))))
    // projected-column index by name (-1 = not in this file)
    private def idxOf(n: String): Int = neededNames.indexOf(n)
    // required output column → decoded column
    val reqIdx: Array[Int] = required.fields.map(f => idxOf(f.name))
    // per decoded column type facts, worked out once by the decoder:
    // the per-row loops dispatch on these int tags
    import batch.{kinds, precs, scales}
    private val bound: Array[ManifestFilters.Bound] = filters.map(f =>
      new ManifestFilters.Bound(f, idxOf(f.references.head), batch))
    // meta columns: 0=_mf_file, 1=_mf_pos, 2=_mf_linehash
    val metaKind: Array[Int] = metaCols.toArray.map {
      case "_mf_file" => 0
      case "_mf_pos" => 1
      case "_mf_linehash" => 2
    }
    val fileNameUtf8: UTF8String = UTF8String.fromString(fileName)
    private var ordinal = if (rgSplit) part.rowStart else 0L
    private var readCount = 0L
    // survivors of the CURRENT decode batch: row index within the batch
    // + the file-global row ordinal (delete vectors / `_mf_pos`)
    val sel = new Array[Int](ManifestParquetBatchReader.BatchRows)
    val selOrd = new Array[Long](ManifestParquetBatchReader.BatchRows)

    /** Decode the next batch: its row count, or -1 at EOF (tamper guard
      * checked: whole files against the manifest row count, row-group
      * splits against their group's own count). */
    private def load(): Int = {
      val n = batch.loadNextBatch()
      if (n < 0) {
        if (readCount != part.rows)
          throw new java.io.IOException(
            s"ManifestSource: ${part.file}" +
              (if (rgSplit) s" row group @${part.start}" else "") +
              s" has $readCount rows, manifest says ${part.rows} — " +
              "torn or tampered file")
        return -1
      }
      readCount += n
      n
    }

    /** Decode the next batch and apply delete vectors + pushed filters;
      * fills `sel`/`selOrd`. Returns the surviving row count (possibly
      * 0 — call again), or -1 at EOF. */
    def nextSelection(): Int = {
      val n = load()
      var m = 0
      var r = 0
      while (r < n) {
        val recOrdinal = ordinal // row ordinal = parquet row identity
        ordinal += 1
        if (!(hasDeletes && deletedPos.contains(recOrdinal)) && passes(r)) {
          sel(m) = r; selOrd(m) = recOrdinal; m += 1
        }
        r += 1
      }
      if (n < 0) -1 else m
    }

    private def passes(r: Int): Boolean = {
      val row = batch.row(r)
      var i = 0
      while (i < bound.length) {
        if (!ManifestFilters.eval(bound(i), row)) return false
        i += 1
      }
      true
    }

    /** Fast-path batch load (no delete vectors, no pushed filters, no
      * meta columns): skips the per-row selection walk entirely. */
    def nextBatchDirect(): Int = {
      val n = load()
      if (n > 0) ordinal += n
      n
    }

    /** Decoded column `c` of non-NULL `row` as a value that outlives the
      * batch: strings are copied out of the reused vectors. */
    def value(row: InternalRow, c: Int): Any = kinds(c) match {
      case KLong | KTs => row.getLong(c)
      case KInt => row.getInt(c)
      case KDbl => row.getDouble(c)
      case KStr => row.getUTF8String(c).copy()
      case KBool => row.getBoolean(c)
      case KDec => row.getDecimal(c, precs(c), scales(c))
    }

    private val lineSb = new java.lang.StringBuilder()

    /** The sink's per-row checksum term: decoded row `r` rendered by
      * [[ManifestSink.appendField]] in the file's own column order
      * (which is the decode order once the line hash is requested),
      * hashed. */
    def linehash(r: Int): Long = {
      val row = batch.row(r)
      lineSb.setLength(0)
      var c = 0
      while (c < kinds.length) {
        if (c > 0) lineSb.append(',')
        if (!row.isNullAt(c))
          ManifestSink.appendField(lineSb, row, c, kinds(c), precs(c), scales(c))
        c += 1
      }
      lineSb.toString.hashCode.toLong
    }

    def close(): Unit = batch.close()
  }

  private def createParquetReader(
      part: ManifestFilePartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val cur = new ParquetCursor(part)
      private var selCount = 0
      private var k = 0
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (k >= selCount) {
          selCount = cur.nextSelection()
          if (selCount < 0) return false
          k = 0
        }
        val r = cur.sel(k)
        val recOrdinal = cur.selOrd(k)
        k += 1
        val row = cur.batch.row(r)
        val vals = new Array[Any](required.length + cur.metaKind.length)
        var i = 0
        while (i < required.length) {
          val c = cur.reqIdx(i)
          vals(i) = if (c < 0 || row.isNullAt(c)) null else cur.value(row, c)
          i += 1
        }
        var m = 0
        while (m < cur.metaKind.length) {
          vals(i) = cur.metaKind(m) match {
            case 0 => cur.fileNameUtf8
            case 1 => recOrdinal
            case _ => cur.linehash(r)
          }
          i += 1; m += 1
        }
        current =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = cur.close()
    }
  }

  /** Columnar reader over the same cursor and the same decode vectors.
    *
    * FAST PATH — no delete vectors, no pushed filters, no meta columns
    * (the common shape of a big clean scan): the decode vectors
    * themselves are served to Spark as the ColumnarBatch, re-ordered by
    * reference to the required projection — ZERO copies between parquet
    * decode and whole-stage codegen, and no per-row InternalRow
    * materialization. A column the file never stored (schema evolution)
    * rides a shared all-null vector.
    *
    * GATHER PATH — otherwise: survivors of each decode batch are
    * gathered column by column into reused output vectors. Values,
    * nulls, delete vectors, pushed-filter 3VL and the `_mf_*` meta
    * columns are identical to the row path — same cursor, same
    * decode. */
  private def createParquetColumnarReader(
      part: ManifestFilePartition): PartitionReader[ColumnarBatch] = {
    new PartitionReader[ColumnarBatch] {
      private val cur = new ParquetCursor(part)
      private val fast =
        filters.isEmpty && metaCols.isEmpty && !cur.hasDeletes

      // ---- fast path: serve the decode vectors by reference
      private val servedBatch: ColumnarBatch =
        if (!fast) null
        else new ColumnarBatch(required.fields.indices.map { i =>
          val c = cur.reqIdx(i)
          if (c >= 0) cur.batch.vectors(c): ColumnVector
          else { // all-null column: filled once, reused every batch
            val v = new org.apache.spark.sql.execution.vectorized
              .OnHeapColumnVector(ManifestParquetBatchReader.BatchRows,
                required.fields(i).dataType)
            v.putNulls(0, ManifestParquetBatchReader.BatchRows)
            v: ColumnVector
          }
        }.toArray)

      // ---- gather path: reused output vectors
      private val outTypes: Array[DataType] =
        if (fast) null
        else required.fields.map(_.dataType) ++ metaCols.map {
          case "_mf_file" => StringType
          case _ => LongType
        }
      private val vectors =
        if (fast) null
        else org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
          .allocateColumns(ManifestParquetBatchReader.BatchRows,
            StructType(outTypes.zipWithIndex.map { case (t, i) =>
              StructField(s"c$i", t) }))
      private val out =
        if (fast) servedBatch
        else new ColumnarBatch(vectors.map(v => v: ColumnVector))
      private val fileNameBytes =
        cur.fileNameUtf8.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)

      /** Copies the `m` selected rows of decoded column `c` into `v`. */
      private def gather(c: Int,
          v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
          m: Int): Unit = {
        val src = cur.batch.vectors(c)
        val kind = cur.batch.kinds(c)
        val intBacked = cur.batch.intDecimal(c)
        var k = 0
        while (k < m) {
          val r = cur.sel(k)
          if (src.isNullAt(r)) v.putNull(k)
          else kind match {
            case KInt => v.putInt(k, src.getInt(r))
            case KDec if intBacked => v.putInt(k, src.getInt(r))
            case KLong | KTs | KDec => v.putLong(k, src.getLong(r))
            case KDbl => v.putDouble(k, src.getDouble(r))
            case KBool => v.putBoolean(k, src.getBoolean(r))
            case KStr =>
              val b = src.getUTF8String(r).getBytes
              v.putByteArray(k, b, 0, b.length)
          }
          k += 1
        }
      }

      override def next(): Boolean = {
        if (fast) {
          val n = cur.nextBatchDirect()
          if (n < 0) return false
          servedBatch.setNumRows(n)
          return true
        }
        while (true) {
          val m = cur.nextSelection()
          if (m < 0) return false
          if (m > 0) {
            var i = 0
            while (i < required.length) {
              val v = vectors(i)
              v.reset()
              val c = cur.reqIdx(i)
              if (c < 0) v.putNulls(0, m) else gather(c, v, m)
              i += 1
            }
            var mi = 0
            while (mi < cur.metaKind.length) {
              val v = vectors(i)
              v.reset()
              cur.metaKind(mi) match {
                case 0 =>
                  var k = 0
                  while (k < m) {
                    v.putByteArray(k, fileNameBytes, 0, fileNameBytes.length)
                    k += 1
                  }
                case 1 =>
                  var k = 0
                  while (k < m) { v.putLong(k, cur.selOrd(k)); k += 1 }
                case _ =>
                  var k = 0
                  while (k < m) { v.putLong(k, cur.linehash(cur.sel(k))); k += 1 }
              }
              i += 1; mi += 1
            }
            out.setNumRows(m)
            return true
          }
        }
        false
      }

      override def get(): ColumnarBatch = out
      override def close(): Unit = cur.close()
    }
  }
}

/** Reads a split's files one after another, each through its own
  * per-file reader — so every file keeps its own whole-file tamper guard
  * and delete-vector skips. The one chaining reader of both hand-offs
  * (`T` = InternalRow or ColumnarBatch). */
private final class ChainedReader[T](
    files: Iterator[ManifestFilePartition],
    open: ManifestFilePartition => PartitionReader[T])
  extends PartitionReader[T] {
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!files.hasNext) return false
        cur = open(files.next())
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Inverse of the canonical row rendering ([[ManifestSink.csvField]]),
  * as a PURE function: fields separated by commas; a field needing
  * escapes is wrapped in `"` with `\"`/`\\` plus `\n`/`\r` for CR/LF
  * (so a rendering is always exactly one line); an unquoted empty field
  * is NULL. Delete-vector lines are parsed with it, and the ScalaCheck
  * round-trip property (ManifestDialectPropertySpec) pins that the
  * rendering is injective. */
private[graft] object ManifestDialect {
  def splitCsv(line: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    val n = line.length
    while (i <= n) {
      if (i < n && line.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done) {
          val c = line.charAt(i)
          if (c == '\\') {
            sb.append(line.charAt(i + 1) match {
              case 'n' => '\n'
              case 'r' => '\r'
              case other => other
            })
            i += 2
          }
          else if (c == '"') { i += 1; done = true }
          else { sb.append(c); i += 1 }
        }
        out += sb.toString()
        i += 1 // skip the comma (or step past end)
      } else {
        val next = line.indexOf(',', i)
        val end = if (next < 0) n else next
        val raw = line.substring(i, end)
        out += (if (raw.isEmpty) null else raw)
        i = end + 1
      }
    }
    out.result()
  }
}
