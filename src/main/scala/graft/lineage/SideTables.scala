package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's externally-populated operational side tables —
  * `table_symlinked` (db_setup_ddl.sql:148-163), `ts_dboard`
  * (:202-213) and `ts_dboard_lineage` (:125-133) — re-expressed as
  * parquet store tables plus the semantic hooks they exist for.
  *
  * The reference ships DDL only: rows arrive from outside systems
  * (LatestOperator, storage linkage, dashboard crawlers). Here the
  * registries are first-class APIs, and `ts_dboard_lineage` is DERIVED
  * from the parse store — the parser already knows every physical
  * column a dashboard source touches, so the "populated later" summary
  * the reference leaves to batch jobs is one aggregation here.
  */
object SideTables {

  /** Register symlink rows: the src table is the one found during
    * parsing, the dst is discovered outside parsing (LatestOperator /
    * storage-linked — table_symlinked COMMENT, db_setup_ddl.sql:162).
    * Registry rows arrive as driver-local Seqs; written directly
    * (zero Spark jobs), same store-write rationale as [[LineageStore]]. */
  def writeSymlinks(spark: SparkSession,
      links: Seq[(String, String, String, String, String, String, String)],
      path: String): Unit =
    LineageStore.writeEntity(path, StructType.fromDDL(
      "src_schema STRING, src_table STRING, dst_schema STRING, " +
        "dst_table STRING, linkage_src_key STRING, linkage_src_value STRING, " +
        "af_dag_task STRING"),
      links.map(l => Seq[Any](l._1, l._2, l._3, l._4, l._5, l._6, l._7)))

  /** Dashboard registry (ts_dboard: native id, title, native created /
    * updated ts, author). */
  def writeDashboards(spark: SparkSession,
      boards: Seq[(Long, String, Long, Long, String)], path: String): Unit =
    LineageStore.writeEntity(path, StructType.fromDDL(
      "native_id BIGINT, title STRING, native_created_ts BIGINT, " +
        "native_updated_ts BIGINT, author STRING"),
      boards.map(b => Seq[Any](b._1, b._2, b._3, b._4, b._5)))

  /** Table-level closure that traverses symlinks: a symlinked pair
    * names the same physical data, so both directions join the edge set
    * as ordinary hops before the fixpoint (a `dst` alias reaches
    * everything its `src` reaches, and vice versa). `symlinks` is the
    * parquet written by [[writeSymlinks]]. */
  def closeWithSymlinks(edges: DataFrame, symlinks: DataFrame): DataFrame = {
    val s1 = symlinks.select(
      concat_ws(".", col("src_schema"), col("src_table")).as("child"),
      concat_ws(".", col("dst_schema"), col("dst_table")).as("parent"))
    val s2 = s1.select(col("parent").as("child"), col("child").as("parent"))
    val closed = Closure.close(edges.select("child", "parent").union(s1).union(s2))
    // The symlink round trip closes every ALIASED table onto itself; a
    // table is not its own lineage parent through its alias. Genuine
    // self-lineage on non-aliased tables (self-referencing ETL) stays.
    val aliased = s1.select(col("child").as("al"))
      .union(s1.select(col("parent").as("al"))).distinct()
    closed.join(aliased, closed("child") === aliased("al"), "left")
      .filter(!(col("child") === col("parent") && col("al").isNotNull))
      .select("child", "parent", "distance")
  }

  /** Derive ts_dboard_lineage — every physical (schema, table, column) a
    * dashboard ever used — from one or more parse-store directories.
    * Dashboard native ids are the numeric part of the source locator
    * (q113's `<native_id>.sql` convention, SourceContext.infer). */
  def dashboardLineage(spark: SparkSession, storeDirs: Seq[String]): DataFrame = {
    val perStore = storeDirs.map { dir =>
      val src = spark.read.parquet(s"$dir/sql_source")
        .filter(lower(col("system_source")) === "dashboard")
        .select(col("id").as("sql_source_id"),
          regexp_extract(col("source_locator"), "([0-9]+)", 1)
            .cast("long").as("ts_dboard_native_id"))
      val items = spark.read.parquet(s"$dir/select_item")
        .filter(col("map_to_schema") =!= "")
        .select(col("sql_source_id"),
          col("map_to_schema").as("src_db_schema"),
          col("map_to_table").as("src_db_table"),
          col("map_to_column").as("src_db_column"))
      items.join(src, "sql_source_id")
        .select("ts_dboard_native_id", "src_db_schema", "src_db_table",
          "src_db_column")
    }
    perStore.reduce(_ unionByName _).distinct()
  }
}
