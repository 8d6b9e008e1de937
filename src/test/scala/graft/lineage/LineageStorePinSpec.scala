package graft.lineage

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins what the lineage store writes for the ten ported reference
  * scripts: each entity's rows, and each entity file's parquet schema
  * (field order, repetition, physical and logical types). Rows and
  * schema are pinned rather than file bytes: parquet-java writes a
  * column chunk's encodings list in hash-set order, so the same rows
  * can serialize to different footer bytes from one JVM to the next.
  * Rows are pinned as a count and a digest over the sorted rendering of
  * every script's rows (`<script>|<row>`). Even-numbered scripts are
  * stored as dashboard sources, so `dashboard_dataset` has rows too.
  */
class LineageStorePinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val S = "binary"; private val L = "int64"; private val B = "boolean"
  private def fields(fs: (String, String)*): Seq[String] = fs.map {
    case (name, S) => s"optional binary $name (STRING)"
    case (name, t) => s"optional $t $name"
  }

  private val schemas: Map[String, Seq[String]] = Map(
    "sql_source" -> fields("id" -> L, "source_locator" -> S,
      "sql_dialect" -> S, "system_source" -> S),
    "table_add_partition" -> fields("sql_source_id" -> L, "db_schema" -> S,
      "db_table" -> S, "location" -> S, "id" -> L),
    "dashboard_dataset" -> fields("dataset_id" -> L, "sql_source_id" -> L),
    "dataset" -> fields("sql_source_id" -> L, "defined_name" -> S,
      "type" -> S, "map_to_schema" -> S, "map_to_table" -> S,
      "is_aggregated" -> B, "storage_loc" -> S, "id" -> L),
    "select_item_rel" -> fields("sql_source_id" -> L, "target" -> S,
      "out_column" -> S, "parent_schema" -> S, "parent_table" -> S,
      "parent_column" -> S, "usage_context" -> S, "id" -> L),
    "table_insert" -> fields("sql_source_id" -> L, "db_schema" -> S,
      "db_table" -> S, "type" -> S),
    "select_item" -> fields("sql_source_id" -> L, "target" -> S,
      "name" -> S, "definition" -> S, "alias" -> S, "usage_context" -> S,
      "is_simple_column" -> B, "data_type" -> S, "function_type" -> S,
      "map_to_schema" -> S, "map_to_table" -> S, "map_to_column" -> S,
      "ds_type" -> S, "id" -> L))

  /** entity -> (row count, first 8 bytes of the rows' SHA-256). */
  private val rows: Map[String, (Int, String)] = Map(
    "sql_source" -> (10, "341a08bce8dad443"),
    "table_add_partition" -> (0, "e3b0c44298fc1c14"),
    "dashboard_dataset" -> (3, "9a7b344b485168a0"),
    "dataset" -> (12, "f656666db61ce96b"),
    "select_item_rel" -> (177, "969fa941dcf962bc"),
    "table_insert" -> (7, "f2094510acf3cb3d"),
    "select_item" -> (90, "03d45d552455f8a5"))

  private def ids = graft.operators.LineageQueries.scripts.keys.toSeq.sorted

  private lazy val store: String = {
    val root = java.nio.file.Files.createTempDirectory("graft_store_pin").toString
    val session = spark.newSession()
    ids.foreach { id =>
      val res = LineageRunner.run(session, graft.operators.LineageQueries.scripts(id))
      LineageStore.write(session, id, res, s"$root/$id",
        system = if (id.toInt % 2 == 0) "dashboard" else "script")
    }
    root
  }

  private def footerSchema(file: java.io.File) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toURI), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  test("each entity file's parquet schema is pinned") {
    for (id <- ids; e <- schemas.keys) {
      val files = new java.io.File(s"$store/$id/$e").list()
        .filter(_.endsWith(".parquet")).toSeq
      assert(files == Seq("part-00000.snappy.parquet"), s"$id/$e")
      val mt = footerSchema(new java.io.File(s"$store/$id/$e/${files.head}"))
      assert(mt.getName == "graft_manifest_row")
      assert(mt.getFields.asScala.map(_.toString) == schemas(e), s"$id/$e")
    }
  }

  test("the store writes no .crc sidecar files") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
    try assert(files.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toSeq.isEmpty)
    finally files.close()
  }

  test("each entity's rows are pinned") {
    schemas.keys.foreach { e =>
      val lines = ids.flatMap { id =>
        spark.read.parquet(s"$store/$id/$e").collect().map(r => s"$id|$r")
      }.sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      val digest = md.digest().take(8).map(b => f"$b%02x").mkString
      assert((lines.size, digest) == rows(e), e)
    }
  }
}
