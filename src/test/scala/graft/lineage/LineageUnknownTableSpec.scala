package graft.lineage

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** A statement reading a table no source resolves is skipped — recorded
  * in `skippedStatements`, contributing no edges — and the statements
  * after it are still extracted, so one unknown table never costs
  * BatchRunner the whole file.
  */
class LineageUnknownTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("an unknown-table statement is skipped and the script goes on") {
    val res = LineageRunner.run(spark,
      """SELECT a, b FROM nowhere.missing_tab WHERE a > 0;
        |SELECT col100l, col101s FROM dw.tab10;""".stripMargin)
    assert(res.skippedStatements.length == 1)
    assert(res.skippedStatements.head.contains("missing_tab"))
    assert(res.edges.nonEmpty)
    assert(res.edges.forall { case (_, e) =>
      e.parentSchema == "dw" && e.parentTable == "tab10" })
    assert(res.edges.map(_._2.parentColumn).toSet == Set("col100l", "col101s"))
    assert(res.topSelects.length == 1)
  }
}
