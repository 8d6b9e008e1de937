package graft.lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The reference's fixture catalog (test_cases/setup.sh — see
  * FIXTURES.md §1): the schemas of the tables its ported test SQL reads.
  * Lineage extraction resolves them from [[schemas]], read-only, and
  * never writes the session catalog.
  */
object FixtureCatalog {

  val ddl: Seq[(String, String, String)] = Seq(
    ("dw", "tab10", "col100l bigint, col101s string, col102b boolean, col103i int"),
    ("dw", "tab20", "col200l bigint, col201s string, col202b boolean, col203i int"),
    ("stage", "tab30", "col300l bigint, col301s string, col302b boolean, col303i int"),
    ("adhoc", "tab40", "col400l bigint, col401s string, " +
      "col402x array<struct<user:struct<id:bigint>,group:struct<id:bigint>,is_bot:boolean>>, " +
      "col403i int"))

  /** Fixture schemas by `db.tbl`. */
  val schemas: Map[String, StructType] =
    ddl.map { case (db, tbl, cols) => s"$db.$tbl" -> StructType.fromDDL(cols) }.toMap

  /** Creates each fixture table missing from the session catalog, as an
    * empty managed parquet table, for code that queries the fixtures
    * through the catalog; extraction does not need it. */
  def register(spark: SparkSession): Unit = synchronized {
    ddl.foreach { case (db, tbl, cols) =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $db.$tbl ($cols) USING parquet")
    }
  }
}
