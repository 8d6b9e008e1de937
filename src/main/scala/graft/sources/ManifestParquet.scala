package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

/** Parquet data files for the manifest connector — its only data-file
  * format — via the public parquet-java API: Spark's own parquet
  * machinery is a file-source implementation detail this DSv2 connector
  * can't reach into, and the footer/column-chunk surface is what the
  * format exposes to every engine.
  *
  * Columnar files are the connector's 100 TB answer: snappy +
  * dictionary/RLE keep raw bytes small, and a pruned read decodes ONLY
  * the requested columns' chunks. The manifest layer sits on top:
  * entries, stats, Blooms, delete vectors, checksums and the compaction
  * conservation guard are all defined over the row's CANONICAL CSV
  * RENDERING (a hash input computed at write time and re-rendered at
  * read time, not a storage format).
  *
  * Row identity for delete vectors: `_mf_pos` is the record's ROW
  * ORDINAL in its file; each file's positions live in their own
  * namespace. Multi-row-group files are planned one split per row group
  * (ordinals stay file-global); the bin-packing compactor bounds file
  * sizes.
  */
private[graft] object ManifestParquet {

  /** Parquet schema for the connector's column types. All fields
    * optional (nullable) — the manifest's null-count stats, not the
    * parquet repetition level, drive pruning decisions. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.addField(Types.optional(INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(INT32).named(f.name))
        case DoubleType => b.addField(Types.optional(DOUBLE).named(f.name))
        case StringType => b.addField(Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        // session-UTC microseconds — the same long the canonical
        // rendering carries
        case TimestampType => b.addField(Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name))
        // unscaled INT64 up to precision 18 (the standard long-backed
        // decimal encoding); wider decimals refuse loudly
        case d: DecimalType if d.precision <= 18 =>
          b.addField(Types.optional(INT64)
            .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
            .named(f.name))
        case BooleanType =>
          b.addField(Types.optional(BOOLEAN).named(f.name))
        case dt => throw new UnsupportedOperationException(
          s"ManifestParquet: unsupported column type $dt")
      }
    }
    b.named("graft_manifest_row")
  }

  def writer(path: Path, schema: StructType,
      conf: Configuration): (ParquetWriter[Group], SimpleGroupFactory) = {
    val mt = messageType(schema)
    (ExampleParquetWriter.builder(path)
      .withConf(conf)
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      // honor the standard knobs (the builder ignores conf for sizing):
      // production keeps the 128 MB default; tests dial block size down
      // to force multi-row-group files for split/skip coverage
      .withRowGroupSize(conf.getLong("parquet.block.size",
        ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .withPageSize(conf.getInt("parquet.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withMinRowCountForPageSizeCheck(conf.getInt(
        "parquet.page.size.row.check.min", 100))
      // rows-per-group cap: unlike the byte-size roll (writer-internal,
      // unpredictable), this gives DETERMINISTIC group boundaries —
      // what an oracle replaying row-group pruning needs
      .withRowGroupRowCountLimit(conf.getInt(
        "parquet.rowgroup.row.count.limit", Int.MaxValue))
      .build(),
      new SimpleGroupFactory(mt))
  }

  /** Direct-RecordConsumer parquet writer (r17, verdict #4): the same
    * ParquetWriter engine as [[writer]] — identical pages, dictionary/
    * RLE encoders, row-group roll, snappy, createdBy — minus the
    * per-row SimpleGroup materialization of the Example writer (one
    * SimpleGroup + one boxed ArrayList PER FIELD per row, then a
    * GroupWriter replay pass). The sink streams each row's typed
    * values straight into the consumer between startMessage/endMessage
    * with the exact startField/addValue/endField sequence GroupWriter
    * emits for non-null fields, so the produced bytes are identical by
    * construction (spec-pinned byte-for-byte in R17OptimizationSpec).
    */
  final class RowParquetWriter(file: OutputFile, schema: StructType,
      conf: Configuration) {
    /** A writer on a filesystem path (the manifest sink's): a local
      * path is written through `java.nio` ([[ManifestFs]]'s local
      * branch: no `.crc` sidecar, no forked `chmod`), any other scheme
      * through its Hadoop filesystem, as `ParquetWriter.Builder(Path)`
      * wraps it. */
    def this(path: Path, schema: StructType, conf: Configuration) =
      this(
        if (ManifestFs.isLocal(path, conf))
          new org.apache.parquet.io.LocalOutputFile(ManifestFs.localFile(path))
        else HadoopOutputFile.fromPath(path, conf),
        schema, conf)
    import org.apache.parquet.io.api.{Binary, RecordConsumer}
    private val mt = messageType(schema)
    private var consumer: RecordConsumer = _
    private var render: RecordConsumer => Unit = _
    private object support
      extends org.apache.parquet.hadoop.api.WriteSupport[AnyRef] {
      override def init(c: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
        new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
          mt, java.util.Collections.emptyMap[String, String]())
      // the same footer `writer.model.name` GroupWriteSupport reports —
      // files stay BYTE-identical to the Example-writer output
      // (spec-pinned)
      override def getName: String = "example"
      override def prepareForWrite(rc: RecordConsumer): Unit = consumer = rc
      override def write(ignored: AnyRef): Unit = {
        consumer.startMessage()
        render(consumer)
        consumer.endMessage()
      }
    }
    private class B(f: OutputFile)
      extends ParquetWriter.Builder[AnyRef, B](f) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[AnyRef] = support
    }
    private val writer: ParquetWriter[AnyRef] = new B(file)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(conf.getLong("parquet.block.size",
        ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .withPageSize(conf.getInt("parquet.page.size",
        ParquetWriter.DEFAULT_PAGE_SIZE))
      .withMinRowCountForPageSizeCheck(conf.getInt(
        "parquet.page.size.row.check.min", 100))
      .withRowGroupRowCountLimit(conf.getInt(
        "parquet.rowgroup.row.count.limit", Int.MaxValue))
      .build()
    private val names = schema.fieldNames

    /** Write one record: `f` adds this row's non-null fields via
      * [[field]]/the typed adders. Block-size/row-group accounting runs
      * after the record, exactly as for the Group writer. */
    def write(f: RecordConsumer => Unit): Unit = {
      render = f
      writer.write(RowParquetWriter.Token)
    }
    def fieldName(i: Int): String = names(i)
    def close(): Unit = writer.close()
    /** The written file's footer (valid after [[close]]). */
    def footer: org.apache.parquet.hadoop.metadata.ParquetMetadata =
      writer.getFooter
  }

  object RowParquetWriter {
    private val Token = new AnyRef
  }

  /** One row group's manifest metadata: row count, byte range
    * [off, off+len) (its midpoint selects it under the standard
    * split contract), and per-column zone-map stats JSON in the same
    * shape as file-level entry stats ("" = none provable). */
  final case class RgMeta(rows: Long, off: Long, len: Long, stats: String)

  /** Footer walk of a just-written parquet file (the writer's own
    * footer — no re-read) → per-row-group metadata, recorded into the
    * manifest AT COMMIT TIME so the planner can skip
    * row groups inside fat files without ever opening footers at plan
    * time (O(files) driver-side footer reads per scan would dwarf
    * planning on an object store). min/max are recorded for INTEGRAL
    * columns (total order, no NaN/collation hazard — ids, buckets,
    * epoch micros), for DECIMAL(≤18) (order-preserving unscaled INT64,
    * rescaled to the plain rendering the pruner value-compares), and
    * for STRING as the same truncated UTF-8 byte bounds (slo/shi) the
    * file-level stats carry — unsigned byte order == Spark's
    * UTF8String order, so no collation hazard. Doubles stay excluded
    * (NaN poisoning is decided at the sink, not visible here). */
  def rowGroups(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      schema: StructType): Seq[RgMeta] = {
    import scala.jdk.CollectionConverters._
    footer.getBlocks.asScala.toSeq.map { b =>
      val cols = b.getColumns.asScala.flatMap { c =>
        val n = c.getPath.toDotString
        val dt = schema.fields.find(_.name == n).map(_.dataType)
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.isNumNullsSet) None
        else dt match {
          case Some(LongType | IntegerType | TimestampType) =>
            val bounds =
              if (st.hasNonNullValue)
                s""","min":${st.genericGetMin},"max":${st.genericGetMax}"""
              else ""
            Some(s""""$n":{"nulls":${st.getNumNulls}$bounds}""")
          case Some(d: DecimalType) if d.precision <= 18 =>
            val bounds =
              if (st.hasNonNullValue)
                s""","min":${java.math.BigDecimal.valueOf(
                  st.genericGetMin.asInstanceOf[java.lang.Long], d.scale)
                  .toPlainString},"max":${java.math.BigDecimal.valueOf(
                  st.genericGetMax.asInstanceOf[java.lang.Long], d.scale)
                  .toPlainString}"""
              else ""
            Some(s""""$n":{"nulls":${st.getNumNulls}$bounds}""")
          case Some(StringType) =>
            val bounds =
              if (!st.hasNonNullValue) ""
              else {
                import ManifestStrBounds.{T, b64, succ, trunc}
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                // slo: truncation only lowers — inclusive lower bound.
                // shi: the max itself when it fits T bytes (inclusive)
                // else the byte-successor of its prefix (exclusive);
                // an all-0xFF prefix has no successor — upper dropped.
                val lo = s""","slo":"${b64(trunc(mn))}""""
                val hi =
                  if (mx.length <= T) s""","shi":"${b64(mx)}","shix":false"""
                  else succ(trunc(mx)) match {
                    case Some(s) => s""","shi":"${b64(s)}","shix":true"""
                    case None => ""
                  }
                lo + hi
              }
            Some(s""""$n":{"nulls":${st.getNumNulls}$bounds}""")
          case _ => None
        }
      }
      RgMeta(b.getRowCount, b.getStartingPos, b.getCompressedSize,
        if (cols.isEmpty) "" else cols.mkString("{", ",", "}"))
    }
  }

  /** Render row groups to the manifest `rgs` JSON array. */
  def renderRgs(rgs: Seq[RgMeta]): String =
    rgs.map { r =>
      s"""{"rows":${r.rows},"off":${r.off},"len":${r.len}""" +
        (if (r.stats.nonEmpty) s""","stats":${r.stats}""" else "") + "}"
    }.mkString("[", ",", "]")

  private val rgRe =
    ("""\{"rows":(\d+),"off":(\d+),"len":(\d+)""" +
      """(?:,"stats":(\{(?:[^{}]|\{[^{}]*\})*\}))?\}""").r

  /** Inverse of [[renderRgs]]. */
  def parseRgs(json: String): Seq[RgMeta] =
    rgRe.findAllMatchIn(json).map { m =>
      RgMeta(m.group(1).toLong, m.group(2).toLong, m.group(3).toLong,
        Option(m.group(4)).getOrElse(""))
    }.toSeq

  // reads go through ManifestParquetBatchReader (batched column-chunk
  // decode) — the old row-at-a-time Group reader was removed in r16
}
