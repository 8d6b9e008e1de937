package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._

/** Batched columnar decode for the manifest connector's parquet files.
  *
  * The round-15 read path materialized one parquet-java `Group` per row
  * (SimpleGroup allocation, a name→index hash lookup per field access,
  * boxed values) — row-at-a-time work on the connector's data files.
  * This reader walks the projected columns' chunks directly through the
  * public column-reader API instead: per row group, each column is
  * decoded in ONE tight loop into a primitive buffer (4096-row batches,
  * buffers reused), and the partition reader serves rows straight from
  * the buffers by index. No per-row objects, no name lookups, no boxing
  * of numeric columns — the same batch-per-column shape Spark's own
  * vectorized parquet reader uses, over the row-group split boundaries
  * the manifest already plans (q438).
  *
  * Two storage modes, chosen by the consumer:
  *  - ARRAY mode (row-based partition reader): plain typed arrays — the
  *    round-16 shape, value reads are direct array indexing;
  *  - VECTOR mode (columnar partition reader): decode lands DIRECTLY in
  *    reused [[OnHeapColumnVector]]s, so an unfiltered scan hands the
  *    very same vectors to Spark as a ColumnarBatch — zero copies
  *    between decode and whole-stage codegen. (An intermediate
  *    array→vector copy was measured strictly slower than the row path;
  *    direct decode is what makes columnar pay.)
  *
  * Semantics are unchanged by construction: the same projection
  * MessageType, the same byte-midpoint row-group range contract, the
  * same definition-level null handling the Group API performed
  * internally — only the materialization differs.
  */
private[sources] final class ManifestParquetBatchReader(
    file: Path, names: Array[String], types: Array[DataType],
    conf: Configuration, range: Option[(Long, Long)],
    vectorMode: Boolean = false,
    // each of `names`' column ORDINAL in the file: when given, a column
    // resolves by position (a manifest-only rename keeps its data), not
    // by the name stored in the file
    ordinals: Option[Array[Int]] = None)
  extends AutoCloseable {

  import ManifestParquetBatchReader._

  private val reader: ParquetFileReader = {
    val b = HadoopReadOptions.builder(conf, file)
    range.foreach { case (s, e) => b.withRange(s, e) }
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), b.build())
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
  // 0=long-backed (LONG/TIMESTAMP/DECIMAL<=18), 1=int, 2=double,
  // 3=boolean, 4=string(binary)
  private val kinds: Array[Int] = types.map {
    case LongType | TimestampType => 0
    case _: DecimalType => 0
    case IntegerType => 1
    case DoubleType => 2
    case BooleanType => 3
    case StringType => 4
    case dt => throw new UnsupportedOperationException(
      s"ManifestParquetBatch: unsupported column type $dt")
  }
  // vector mode stores DECIMAL(<=9) unscaled values in an INT vector
  // (Spark's fixed-decimal physical layout); array mode keeps longs
  private val decIsInt: Array[Boolean] = types.map {
    case d: DecimalType => d.precision <= Decimal.MAX_INT_DIGITS
    case _ => false
  }

  // ARRAY mode: column-major batch storage, allocated once and reused
  private val nullsCol: Array[Array[Boolean]] =
    if (vectorMode) null else Array.fill(nCols)(new Array[Boolean](BatchRows))
  private val longCol: Array[Array[Long]] =
    if (vectorMode) null
    else kinds.map(k => if (k == 0) new Array[Long](BatchRows) else null)
  private val intCol: Array[Array[Int]] =
    if (vectorMode) null
    else kinds.map(k => if (k == 1) new Array[Int](BatchRows) else null)
  private val dblCol: Array[Array[Double]] =
    if (vectorMode) null
    else kinds.map(k => if (k == 2) new Array[Double](BatchRows) else null)
  private val boolCol: Array[Array[Boolean]] =
    if (vectorMode) null
    else kinds.map(k => if (k == 3) new Array[Boolean](BatchRows) else null)
  private val strCol: Array[Array[Array[Byte]]] =
    if (vectorMode) null
    else kinds.map(k => if (k == 4) new Array[Array[Byte]](BatchRows) else null)

  // VECTOR mode: decode target = the very vectors Spark will iterate
  val vectors: Array[OnHeapColumnVector] =
    if (!vectorMode) null
    else OnHeapColumnVector.allocateColumns(BatchRows,
      StructType(names.indices.map(i => StructField(names(i), types(i)))))

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
      val cr = columnReaders(c)
      val maxDef = maxDefs(c)
      if (vectorMode) decodeVector(c, cr, maxDef, n)
      else decodeArray(c, cr, maxDef, n)
      c += 1
    }
    rowsLeftInGroup -= n
    n
  }

  private def decodeArray(c: Int, cr: ColumnReader, maxDef: Int, n: Int): Unit = {
    val nulls = nullsCol(c)
    kinds(c) match {
      case 0 =>
        val out = longCol(c)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) nulls(i) = true
          else { nulls(i) = false; out(i) = cr.getLong }
          cr.consume(); i += 1
        }
      case 1 =>
        val out = intCol(c)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) nulls(i) = true
          else { nulls(i) = false; out(i) = cr.getInteger }
          cr.consume(); i += 1
        }
      case 2 =>
        val out = dblCol(c)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) nulls(i) = true
          else { nulls(i) = false; out(i) = cr.getDouble }
          cr.consume(); i += 1
        }
      case 3 =>
        val out = boolCol(c)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) nulls(i) = true
          else { nulls(i) = false; out(i) = cr.getBoolean }
          cr.consume(); i += 1
        }
      case 4 =>
        val out = strCol(c)
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) nulls(i) = true
          else { nulls(i) = false; out(i) = cr.getBinary.getBytes }
          cr.consume(); i += 1
        }
    }
  }

  private def decodeVector(c: Int, cr: ColumnReader, maxDef: Int, n: Int): Unit = {
    val v = vectors(c)
    v.reset()
    kinds(c) match {
      case 0 if decIsInt(c) => // decimal(<=9): int-backed vector
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putInt(i, cr.getLong.toInt)
          cr.consume(); i += 1
        }
      case 0 =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putLong(i, cr.getLong)
          cr.consume(); i += 1
        }
      case 1 =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putInt(i, cr.getInteger)
          cr.consume(); i += 1
        }
      case 2 =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putDouble(i, cr.getDouble)
          cr.consume(); i += 1
        }
      case 3 =>
        var i = 0
        while (i < n) {
          if (cr.getCurrentDefinitionLevel < maxDef) v.putNull(i)
          else v.putBoolean(i, cr.getBoolean)
          cr.consume(); i += 1
        }
      case 4 =>
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

  def isNull(c: Int, i: Int): Boolean =
    if (vectorMode) vectors(c).isNullAt(i) else nullsCol(c)(i)
  def getLong(c: Int, i: Int): Long =
    if (vectorMode) vectors(c).getLong(i) else longCol(c)(i)
  def getInt(c: Int, i: Int): Int =
    if (vectorMode) vectors(c).getInt(i) else intCol(c)(i)
  def getDouble(c: Int, i: Int): Double =
    if (vectorMode) vectors(c).getDouble(i) else dblCol(c)(i)
  def getBoolean(c: Int, i: Int): Boolean =
    if (vectorMode) vectors(c).getBoolean(i) else boolCol(c)(i)
  def getBytes(c: Int, i: Int): Array[Byte] =
    if (vectorMode) vectors(c).getUTF8String(i).getBytes else strCol(c)(i)

  /** Unscaled decimal value (int- or long-backed per precision). */
  def getUnscaled(c: Int, i: Int): Long =
    if (vectorMode) {
      if (decIsInt(c)) vectors(c).getInt(i).toLong else vectors(c).getLong(i)
    } else longCol(c)(i)

  /** The row's raw string rendering for column `c` — byte-identical to
    * the writer's canonical CSV line field: filters and `_mf_linehash`
    * see the same text. Null when unset. */
  def rawString(c: Int, i: Int): String =
    if (isNull(c, i)) null
    else kinds(c) match {
      case 0 => types(c) match {
        case d: DecimalType =>
          java.math.BigDecimal.valueOf(getUnscaled(c, i), d.scale).toPlainString
        case _ => getLong(c, i).toString
      }
      case 1 => getInt(c, i).toString
      case 2 => getDouble(c, i).toString
      case 3 => getBoolean(c, i).toString
      case 4 =>
        if (vectorMode) vectors(c).getUTF8String(i).toString
        else new String(strCol(c)(i), java.nio.charset.StandardCharsets.UTF_8)
    }

  override def close(): Unit = {
    if (vectors != null) vectors.foreach(_.close())
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
