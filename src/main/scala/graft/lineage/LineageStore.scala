package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.types._

/** Parquet-backed lineage store mirroring the reference's MySQL schema
  * (db_setup_ddl.sql:24-190 → FIXTURES.md §3): one table per entity,
  * idempotent writes via deterministic content-hash ids + first-wins
  * dedup (replacing REPLACE INTO / INSERT IGNORE, SURVEY §4.1).
  *
  * WRITE PATH (r17, §5 driver / r16 verdict #7): every entity row is a
  * per-script PARSE artifact — it is born on the driver as a Scala Seq,
  * bounded by script size, and was only ever wrapped in a LocalRelation
  * so Spark could serialize it to parquet. That wrap cost ~12 Spark
  * jobs (7 entity writes + dedup/join plans) of pure fixed per-job
  * latency per script — the dominant term of every lineage query (q94
  * paid 113 jobs/run). The store now renders the same rows, the same
  * xxhash64 content ids (the exact Catalyst expression, evaluated
  * driver-side) and the same first-occurrence dedup straight into
  * parquet files via [[graft.sources.ManifestParquet.RowParquetWriter]]
  * — zero Spark jobs, identical row sets, read back by the same
  * `spark.read.parquet`. Readers are unchanged; data-scale work never
  * flowed through here (the reference populates these tables from a
  * single parser process too).
  */
object LineageStore {

  /** Content-addressed id — replaces the reference's AutoIncrement
    * counter (util/AutoIncrement.java:10-25): stable across distributed
    * runs and reruns. Exactly `abs(xxhash64(sql_source_id, parts...))`
    * — the Catalyst expression the store's previous DataFrame writer
    * evaluated, run driver-side on literals (seed 42, null-skipping,
    * UTF8 bytes for strings), so ids are bit-identical to every store
    * ever written. */
  private def hashId(sourceId: Long, parts: String*): Long = {
    val lits = Literal(sourceId) +: parts.map(s => Literal.create(s, StringType))
    math.abs(XxHash64(lits, 42L).eval(null).asInstanceOf[Long])
  }

  /** First-occurrence-wins dedup on a key — the single-partition
    * `dropDuplicates` semantics the LocalRelation writes had. */
  private def dedupBy[T, K](rows: Seq[T])(key: T => K): Seq[T] = {
    val seen = scala.collection.mutable.HashSet.empty[K]
    rows.filter(r => seen.add(key(r)))
  }

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val hconf = new org.apache.hadoop.conf.Configuration()

  /** Overwrite `path` with one parquet file holding `rows` (column
    * values aligned with `schema`; supported types: Long, String,
    * Boolean — the store's entire surface). Bypasses Spark entirely:
    * these are metadata-scale driver-local rows (see object scaladoc).
    * The file is written into a sibling staging dir and swapped in by
    * rename, so a write that fails part-way leaves the previous entity
    * in place and readable. The part file goes through java.nio, not a
    * Hadoop `LocalFileSystem`: that layer would add a `.crc` sidecar
    * and, without native IO, fork a `chmod` process per file. */
  private[lineage] def writeEntity(
      path: String, schema: StructType, rows: Seq[Seq[Any]]): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete()
    }
    val dir = new java.io.File(path).getAbsoluteFile
    val tag = java.util.UUID.randomUUID()
    val stage = new java.io.File(dir.getParentFile, s".${dir.getName}.stage-$tag")
    stage.mkdirs()
    try {
      val w = new graft.sources.ManifestParquet.RowParquetWriter(
        new org.apache.parquet.io.LocalOutputFile(
          new java.io.File(stage, "part-00000.snappy.parquet").toPath),
        schema, hconf)
      try rows.foreach { vals =>
        w.write { rc =>
          var i = 0
          while (i < vals.length) {
            vals(i) match {
              case null => ()
              case v =>
                rc.startField(w.fieldName(i), i)
                v match {
                  case l: java.lang.Long => rc.addLong(l)
                  case s: String =>
                    rc.addBinary(org.apache.parquet.io.api.Binary.fromString(s))
                  case b: java.lang.Boolean => rc.addBoolean(b)
                  case other => throw new UnsupportedOperationException(
                    s"LineageStore.writeEntity: unsupported value $other")
                }
                rc.endField(w.fieldName(i), i)
            }
            i += 1
          }
        }
      } finally w.close()
    } catch { case e: Throwable => rm(stage); throw e }
    // swap: the old entity moves aside, the staged one takes its name
    val old = new java.io.File(dir.getParentFile, s".${dir.getName}.old-$tag")
    if (dir.exists() && !dir.renameTo(old)) {
      rm(stage)
      throw new java.io.IOException(s"LineageStore: cannot replace $dir")
    }
    if (!stage.renameTo(dir)) {
      old.renameTo(dir)
      rm(stage)
      throw new java.io.IOException(s"LineageStore: cannot publish $dir")
    }
    rm(old)
  }

  /** Persist one script's lineage under `path` (overwrite per source).
    * `system` mirrors the reference's source-system routing: "dashboard"
    * sources additionally record dashboard_dataset consumer links for
    * every top-level SELECT (LineageDbService.java:200-213). */
  def write(spark: SparkSession, sourceLocator: String,
      result: LineageRunner.Result, path: String,
      system: String = "script"): Unit = {
    // 64-bit content id like every other id in the store (the reference
    // uses one AutoIncrement namespace for all entities; a 32-bit
    // String.hashCode next to 64-bit xxhash ids invited collisions).
    val sourceId = {
      val bytes = sourceLocator.getBytes("UTF-8")
      def h(seed: Int) = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes2(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, seed)
      math.abs((h(42).toLong << 32) | (h(43).toLong & 0xffffffffL))
    }

    val edges = dedupBy(result.edges.map { case (tgt, e) =>
      Seq[Any](sourceId, tgt, e.outColumn, e.parentSchema, e.parentTable,
        e.parentColumn, e.context,
        hashId(sourceId, tgt, e.outColumn, e.parentSchema, e.parentTable,
          e.parentColumn, e.context))
    })(_.last)

    val inserts = result.inserts.map(t =>
      Seq[Any](sourceId, t.dbSchema, t.dbTable, t.insertType))

    // Temporary tables leave scope at session close by renaming their
    // mapping (reference closeSession + changeDatasetMapping,
    // SqlMetaDataExtractor.java:79-100: tmp_<name>_<locator>, 127-char
    // cap) — lineage artifacts survive, uniquified per source.
    val locSuffix = sourceLocator.replaceAll("[.\\- ]", "")
    val datasets = dedupBy(result.datasets.map { d =>
      val mapTable =
        if (d.dsType == "TEMPORARY_TABLE")
          s"tmp_${d.table}_$locSuffix".take(127)
        else d.table
      Seq[Any](sourceId, d.name, d.dsType, d.schema, mapTable,
        d.isAggregated, d.storageLoc)
    })(identity).map(r =>
      r :+ hashId(sourceId, r(1).asInstanceOf[String], r(2).asInstanceOf[String],
        r(3).asInstanceOf[String], r(4).asInstanceOf[String]))

    // Dashboard consumption links: the top-level SELECT datasets ARE the
    // end nodes a dashboard refers to (dashboard_dataset, DDL
    // db_setup_ddl.sql:115-123).
    val dashboardLinks =
      (if (system.equalsIgnoreCase("dashboard")) result.topSelects else Seq.empty)
        .flatMap { n =>
          datasets.collect {
            case r if r(1) == n => Seq[Any](r.last, sourceId)
          }
        }

    // ALTER TABLE ADD PARTITION events (reference table_add_partition,
    // LineageDbService.recordAlter :242-258; INSERT IGNORE → content id +
    // first-wins dedup).
    val addParts = dedupBy(result.addPartitions.map(p =>
      Seq[Any](sourceId, p.dbSchema, p.dbTable, p.location,
        hashId(sourceId, p.dbSchema, p.dbTable, p.location))))(_.last)

    val items = dedupBy(result.items.map { case (tgt, it) =>
      Seq[Any](sourceId, tgt, it.name, it.definition, it.alias,
        it.usageContext, it.isSimpleColumn, it.dataType, it.functionType,
        it.mapToSchema, it.mapToTable, it.mapToColumn, it.datasetType,
        hashId(sourceId, tgt, it.name, it.definition, it.usageContext,
          it.datasetType))
    })(_.last)

    val source = Seq(Seq[Any](sourceId, sourceLocator, "SPARK", system))

    val S = StringType; val L = LongType; val B = BooleanType
    writeEntity(s"$path/sql_source", struct(
      "id" -> L, "source_locator" -> S, "sql_dialect" -> S,
      "system_source" -> S), source)
    writeEntity(s"$path/table_add_partition", struct(
      "sql_source_id" -> L, "db_schema" -> S, "db_table" -> S,
      "location" -> S, "id" -> L), addParts)
    writeEntity(s"$path/dashboard_dataset", struct(
      "dataset_id" -> L, "sql_source_id" -> L), dashboardLinks)
    writeEntity(s"$path/dataset", struct(
      "sql_source_id" -> L, "defined_name" -> S, "type" -> S,
      "map_to_schema" -> S, "map_to_table" -> S, "is_aggregated" -> B,
      "storage_loc" -> S, "id" -> L), datasets)
    writeEntity(s"$path/select_item_rel", struct(
      "sql_source_id" -> L, "target" -> S, "out_column" -> S,
      "parent_schema" -> S, "parent_table" -> S, "parent_column" -> S,
      "usage_context" -> S, "id" -> L), edges)
    writeEntity(s"$path/table_insert", struct(
      "sql_source_id" -> L, "db_schema" -> S, "db_table" -> S,
      "type" -> S), inserts)
    writeEntity(s"$path/select_item", struct(
      "sql_source_id" -> L, "target" -> S, "name" -> S, "definition" -> S,
      "alias" -> S, "usage_context" -> S, "is_simple_column" -> B,
      "data_type" -> S, "function_type" -> S, "map_to_schema" -> S,
      "map_to_table" -> S, "map_to_column" -> S, "ds_type" -> S,
      "id" -> L), items)
  }

  def readEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/select_item_rel")

  def readItems(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/select_item")
}
