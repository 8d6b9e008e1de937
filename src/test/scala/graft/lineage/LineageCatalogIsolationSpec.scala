package graft.lineage

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Extraction reads the session catalog and never changes it: a
  * script's USE, CREATE, CTAS, CREATE LIKE and DROP act on the script's
  * own scope only, and an ALTER TABLE ADD PARTITION with no LOCATION on a
  * table the script did not create records no location.
  */
class LineageCatalogIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a script's DDL leaves the session catalog as it found it") {
    val session = spark.newSession()
    session.sql("CREATE TABLE IF NOT EXISTS default.iso_real (a INT) USING parquet")
    val db = session.catalog.currentDatabase

    val res = LineageRunner.run(session,
      """USE adhoc;
        |CREATE TABLE iso_created (a INT, b STRING);
        |CREATE TABLE iso_ctas AS SELECT col100l, col101s FROM dw.tab10;
        |CREATE TABLE iso_like LIKE dw.tab20;
        |DROP TABLE default.iso_real;
        |ALTER TABLE dw.tab10 ADD PARTITION (dt='x');""".stripMargin)

    assert(session.catalog.currentDatabase == db)
    assert(session.catalog.tableExists("default.iso_real"))
    Seq("iso_created", "iso_ctas", "iso_like").foreach { t =>
      assert(!session.catalog.tableExists(s"adhoc.$t"), t)
      assert(!session.catalog.tableExists(s"$db.$t"), t)
    }
    assert(res.addPartitions == Seq(AddPartitionEvent("dw", "tab10", "")))
    // The script still saw its own tables.
    assert(res.datasets.map(_.name).toSet ==
      Set("adhoc.iso_created", "adhoc.iso_ctas", "adhoc.iso_like"))
    assert(res.drops == Seq(TableDrop("default", "iso_real")))
  }
}
