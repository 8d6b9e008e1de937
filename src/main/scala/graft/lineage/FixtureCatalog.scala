package graft.lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** Registers the reference's fixture catalog (test_cases/setup.sh — see
  * FIXTURES.md §1) into the Spark session catalog so the Analyzer can
  * resolve the ported test SQL. Schema-only external tables; no data.
  *
  * Parallel lineage workers (BatchRunner's, each on its own
  * `spark.newSession()`) share the external catalog. Every table write
  * here holds the lock of its table name (the lower-cased `db.tbl`), so
  * writers of one name serialize and writers of different names run in
  * parallel. The lock makes two things atomic against any other
  * [[register]] or [[ensureTable]] of the same name:
  *  - [[ensureTable]]'s DROP+CREATE pair (unlocked, a concurrent CREATE
  *    between the two throws TableAlreadyExists in one worker);
  *  - [[register]]'s recreation of a fixture table a script dropped.
  * What still races: a script's own `DROP TABLE` is not taken under the
  * lock, and two files creating the same table name stay
  * last-writer-wins, as in the reference's thread-per-chunk batch —
  * keep shared staging-table names out of a parallel corpus. Names are
  * striped over a fixed set of monitors; two names that share one
  * merely serialize.
  */
object FixtureCatalog {

  val ddl: Seq[(String, String, String)] = Seq(
    ("dw", "tab10", "col100l bigint, col101s string, col102b boolean, col103i int"),
    ("dw", "tab20", "col200l bigint, col201s string, col202b boolean, col203i int"),
    ("stage", "tab30", "col300l bigint, col301s string, col302b boolean, col303i int"),
    ("adhoc", "tab40", "col400l bigint, col401s string, " +
      "col402x array<struct<user:struct<id:bigint>,group:struct<id:bigint>,is_bot:boolean>>, " +
      "col403i int"))

  private val base = "file:///tmp/graft_wh"

  private val locks = Array.fill(64)(new Object)

  private def withTableLock[T](db: String, tbl: String)(f: => T): T = {
    val key = s"$db.$tbl".toLowerCase(java.util.Locale.ROOT)
    locks(Math.floorMod(key.hashCode, locks.length)).synchronized(f)
  }

  /** Creates each fixture table that is missing — on first use, or after
    * a script dropped it. The existence check reads the catalog
    * directly; DDL runs only for a missing table. */
  def register(spark: SparkSession): Unit = {
    val catalog = spark.sessionState.catalog
    ddl.foreach { case (db, tbl, cols) =>
      if (!catalog.tableExists(TableIdentifier(tbl, Some(db)))) withTableLock(db, tbl) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$base/$db.db'")
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $db.$tbl ($cols)
             |USING parquet LOCATION '$base/$db/$tbl'""".stripMargin)
      }
    }
  }

  /** Drop-and-recreate a target table some test SQL writes into. */
  def ensureTable(spark: SparkSession, db: String, tbl: String, cols: String): Unit =
    withTableLock(db, tbl) {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$base/$db.db'")
      spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      spark.sql(
        s"""CREATE TABLE $db.$tbl ($cols)
           |USING parquet LOCATION '$base/$db/$tbl'""".stripMargin)
    }
}
