package graft.lineage

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** A table one script creates is readable by every later script, on the
  * same session or another one, until a later script drops it — the
  * cross-script visibility BatchRunner's workers and the lineage
  * benchmark's clients rely on. No [[MetaStore]] is passed, so the only
  * way a later script can know the table's columns is what the creating
  * script left behind.
  */
class LineageCrossScriptSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def parents(res: LineageRunner.Result): Set[(String, String, String)] =
    res.edges.map { case (_, e) => (e.outColumn, e.parentColumn, e.context) }.toSet

  test("a created table is visible to later scripts on any session until dropped") {
    LineageRunner.run(spark,
      """CREATE TABLE adhoc.xs_a AS
        |SELECT col100l AS k, upper(col101s) AS v FROM dw.tab10;""".stripMargin)

    val read = "SELECT k, v FROM adhoc.xs_a WHERE k > 0;"
    val expect = Set(("k", "k", "SELECT"), ("v", "v", "SELECT"),
      ("k", "k", "WHERE"), ("v", "k", "WHERE"))
    Seq("same session" -> spark, "new session" -> spark.newSession()).foreach {
      case (label, session) =>
        val res = LineageRunner.run(session, read)
        assert(res.edges.nonEmpty, label)
        assert(res.edges.forall { case (_, e) =>
          e.parentSchema == "adhoc" && e.parentTable == "xs_a" }, label)
        assert(parents(res) == expect, label)
    }
    // An unqualified read after the script's own USE reaches it too.
    val used = LineageRunner.run(spark.newSession(), "USE adhoc;\nSELECT v FROM xs_a;")
    assert(used.edges.forall(_._2.parentTable == "xs_a"))
    assert(parents(used) == Set(("v", "v", "SELECT")))

    LineageRunner.run(spark.newSession(), "DROP TABLE adhoc.xs_a;")
    // The read no longer resolves: extraction fails on the unresolved
    // relation, or at least draws no edge from it.
    val after = scala.util.Try(LineageRunner.run(spark, read))
    assert(!after.toOption.exists(_.edges.exists { case (_, e) => e.parentTable == "xs_a" }))
  }
}
