package graft.lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Pluggable schema source for lineage analysis — the Spark re-design of
  * the reference's metastore services: schemas are fetched on demand the
  * first time a statement touches an unknown table, then cached in the
  * script's [[LineageRunner.Scope]] (lookup-then-insert flow,
  * SqlMetaDataExtractor.findTableInCacheOrPhysicalSrc,
  * SqlMetaDataExtractor.java:898-929).
  */
trait MetaStore {

  /** Column (name, Spark DDL type) list for db.table, if this source
    * knows it. */
  def lookup(db: String, table: String): Option[Seq[(String, String)]]
}

object MetaStore {

  /** First source that resolves wins (reference routing: external HMS
    * for airflow sources, local store for dashboards,
    * BatchProcessor.java:193-214). */
  def chain(stores: MetaStore*): MetaStore = new MetaStore {
    def lookup(db: String, table: String): Option[Seq[(String, String)]] =
      stores.view.flatMap(_.lookup(db, table)).headOption
  }
}

/** "External metastore" backed by parquet fixtures: the schema of
  * `db.table` is read from `rootDir/<table>.parquet` footers — the
  * file-backed stand-in for the reference's direct JDBC scan of the Hive
  * metastore's TBLS/DBS/SDS/COLUMNS_V2 tables
  * (ExternalHiveMetaStore.java:23-125). Results are memoized per table,
  * including misses, like the reference's dsCache. */
final class ExternalParquetMetaStore(spark: SparkSession, rootDir: String)
    extends MetaStore {

  private val cache = mutable.Map.empty[(String, String), Option[Seq[(String, String)]]]

  def lookup(db: String, table: String): Option[Seq[(String, String)]] =
    synchronized {
      cache.getOrElseUpdate((db, table), {
        val path = new java.io.File(s"$rootDir/$table.parquet")
        if (!path.exists()) None
        else Some(spark.read.parquet(path.getPath).schema.fields.toSeq
          .map(f => f.name -> f.dataType.sql))
      })
    }
}

/** Local fallback: reconstruct a table's schema from previously-saved
  * select_item rows of TABLE datasets — simple columns with a known
  * data_type mapping to the requested table
  * (LocalHiveMetaStore.generateSelectItemInserts,
  * LocalHiveMetaStore.java:24-88: map_to_schema/map_to_table match,
  * usage_context='SELECT', data_type NOT NULL, ds.type='TABLE'). */
final class LocalLineageMetaStore(spark: SparkSession, storeGlob: String)
    extends MetaStore {

  def lookup(db: String, table: String): Option[Seq[(String, String)]] = {
    val rows =
      try {
        spark.read.parquet(storeGlob)
          .filter(col("ds_type") === "TABLE" &&
            col("usage_context") === "SELECT" &&
            col("map_to_schema") === db && col("map_to_table") === table &&
            col("is_simple_column") && col("data_type") =!= "")
          .select("map_to_column", "data_type")
          .distinct()
          .collect()
      } catch {
        case _: org.apache.spark.sql.AnalysisException => Array.empty[org.apache.spark.sql.Row]
      }
    if (rows.isEmpty) None
    else Some(rows.map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1))
  }
}
