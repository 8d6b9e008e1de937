package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Batched columnar decode for the manifest connector's parquet files.
  *
  * The round-15 read path materialized one parquet-java `Group` per row
  * (SimpleGroup allocation, a name→index hash lookup per field access,
  * boxed values) — row-at-a-time work on the connector's data files.
  * This reader walks the projected columns' chunks directly through the
  * public column-reader API instead: per row group, each column is
  * decoded in ONE tight loop into a reused [[OnHeapColumnVector]]
  * (4096-row batches). No per-row objects, no name lookups, no boxing
  * of numeric columns — the same batch-per-column shape Spark's own
  * vectorized parquet reader uses, over the row-group split boundaries
  * the manifest already plans (q438).
  *
  * The vectors are the one decode both scan hand-offs read: an
  * unfiltered columnar scan hands the very same vectors to Spark as a
  * ColumnarBatch (zero copies between decode and whole-stage codegen),
  * and everything else — pushed filters, the canonical line hash, the
  * row hand-off and the columnar gather — reads them by row index
  * through [[row]].
  *
  * Semantics are unchanged by construction: the same projection
  * MessageType, the same byte-midpoint row-group range contract, the
  * same definition-level null handling the Group API performed
  * internally — only the materialization differs.
  */
private[sources] final class ManifestParquetBatchReader(
    file: Path, names: Array[String], types: Array[DataType],
    conf: Configuration, range: Option[(Long, Long)],
    // each of `names`' column ORDINAL in the file: when given, a column
    // resolves by position (a manifest-only rename keeps its data), not
    // by the name stored in the file
    ordinals: Option[Array[Int]] = None)
  extends AutoCloseable {

  import ManifestParquetBatchReader._

  private val reader: ParquetFileReader = {
    // parquet writes a CRC per page by default: verifying it is what
    // catches a corrupt data file now that no `.crc` sidecar exists
    val b = HadoopReadOptions.builder(conf, file)
      .usePageChecksumVerification(true)
    range.foreach { case (s, e) => b.withRange(s, e) }
    // a local split is read straight through java.nio, as ManifestFs
    // writes it (no checksummed LocalFileSystem, no `.crc` probe)
    val in =
      if (ManifestFs.isLocal(file, conf)) new LocalInputFile(ManifestFs.localFile(file))
      else HadoopInputFile.fromPath(file, conf)
    ParquetFileReader.open(in, b.build())
  }

  private val projection: MessageType = {
    val fileNames = ordinals.fold(names)(
      _.map(reader.getFooter.getFileMetaData.getSchema.getFieldName))
    ManifestParquet.messageType(StructType(names.indices.map(i =>
      StructField(fileNames(i), types(i)))))
  }
  if (names.nonEmpty) reader.setRequestedSchema(projection)
  private val createdBy: String =
    reader.getFooter.getFileMetaData.getCreatedBy

  private val nCols = names.length
  // per decoded column, worked out once for every reader of the
  // vectors: value kind (ManifestSink.kindOf) and decimal
  // precision/scale. A DECIMAL(<=9) is an INT64 in the file and lands
  // unscaled in an INT vector (Spark's fixed-decimal physical layout),
  // any other decimal in a LONG vector.
  val kinds: Array[Int] = types.map(ManifestSink.kindOf)
  val precs: Array[Int] = types.map {
    case d: DecimalType => d.precision; case _ => 0 }
  val scales: Array[Int] = types.map {
    case d: DecimalType => d.scale; case _ => 0 }
  val intDecimal: Array[Boolean] = kinds.indices.map(c =>
    kinds(c) == ManifestSink.KDec && precs(c) <= Decimal.MAX_INT_DIGITS).toArray

  /** The decode target, in `names` order: the very vectors Spark may
    * iterate. */
  val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(BatchRows,
      StructType(names.indices.map(i => StructField(names(i), types(i)))))
  private val rows = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  /** Row `i` of the current batch, over [[vectors]] — a reused view:
    * its values are valid until the next [[loadNextBatch]], and strings
    * point into the vectors (copy them to keep them). */
  def row(i: Int): InternalRow = rows.getRow(i)

  private var columnReaders: Array[ColumnReader] = _
  private var maxDefs: Array[Int] = _
  private var rowsLeftInGroup = 0L
  // zero-projection mode (metadata-only rows, e.g. `_mf_pos` under no
  // filters): serve row counts straight from the (range-filtered)
  // footer blocks — nothing to decode
  private val rowCountsOnly: Iterator[Long] =
    if (names.nonEmpty) Iterator.empty
    else {
      import scala.jdk.CollectionConverters._
      reader.getRowGroups.asScala.iterator.map(_.getRowCount)
    }

  /** Decode the next batch; returns its row count, or -1 at EOF. */
  def loadNextBatch(): Int = {
    if (nCols == 0) {
      while (rowsLeftInGroup == 0L) {
        if (!rowCountsOnly.hasNext) return -1
        rowsLeftInGroup = rowCountsOnly.next()
      }
      val n = math.min(BatchRows.toLong, rowsLeftInGroup).toInt
      rowsLeftInGroup -= n
      rows.setNumRows(n)
      return n
    }
    while (rowsLeftInGroup == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return -1
      rowsLeftInGroup = pages.getRowCount
      if (rowsLeftInGroup > 0L) {
        val store = new ColumnReadStoreImpl(
          pages, NoopGroupConverter, projection, createdBy)
        import scala.jdk.CollectionConverters._
        val descs = projection.getColumns.asScala
        columnReaders = descs.map(store.getColumnReader).toArray
        maxDefs = descs.map(_.getMaxDefinitionLevel).toArray
      }
    }
    val n = math.min(BatchRows.toLong, rowsLeftInGroup).toInt
    var c = 0
    while (c < nCols) {
      decode(c, columnReaders(c), maxDefs(c), n)
      c += 1
    }
    rowsLeftInGroup -= n
    rows.setNumRows(n)
    n
  }

  private def decode(c: Int, cr: ColumnReader, maxDef: Int, n: Int): Unit = {
    val v = vectors(c)
    v.reset()
    kinds(c) match {
      case ManifestSink.KDec if intDecimal(c) =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putInt(i, cr.getLong.toInt)
          cr.consume(); i += 1
        }
      case ManifestSink.KLong | ManifestSink.KTs | ManifestSink.KDec =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putLong(i, cr.getLong)
          cr.consume(); i += 1
        }
      case ManifestSink.KInt =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putInt(i, cr.getInteger)
          cr.consume(); i += 1
        }
      case ManifestSink.KDbl =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putDouble(i, cr.getDouble)
          cr.consume(); i += 1
        }
      case ManifestSink.KBool =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putBoolean(i, cr.getBoolean)
          cr.consume(); i += 1
        }
      case ManifestSink.KStr =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else {
            val b = cr.getBinary.getBytes
            v.putByteArray(i, b, 0, b.length)
          }
          cr.consume(); i += 1
        }
    }
  }

  override def close(): Unit = {
    vectors.foreach(_.close())
    reader.close()
  }
}

private[sources] object ManifestParquetBatchReader {
  /** Rows decoded per batch — large enough to amortize the per-column
    * loop setup, small enough to keep the working set in cache. */
  val BatchRows = 4096

  /** ColumnReadStoreImpl needs a record converter to locate a
    * PrimitiveConverter per column; values are pulled through the typed
    * getters, so a no-op converter suffices. */
  private object NoopGroupConverter extends GroupConverter {
    private val prim = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = prim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
