package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** The co-supply projection's supplier cap at its boundary, against
  * DuckDB running the oracle's own `edgeCte` on the same tiny
  * `lineitem`. A null supplier is one row of the oracle's
  * `SELECT DISTINCT`, so it counts toward [[GraphOps.PartCap]]. Each
  * part has its own supplier ids, so every part's pairs are
  * distinguishable in the edge set. */
class GraphOpsCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Cap = GraphOps.PartCap

  /** part -> (non-null supplier count, has a null supplier). */
  private val parts = Seq(
    1L -> (Cap, true),      // cap reached only by counting the null: excluded
    2L -> (Cap - 1, true),  // at the cap with the null: kept
    3L -> (Cap, false),     // at the cap: kept
    4L -> (Cap + 1, false), // over the cap: excluded
    5L -> (1, true))        // one real supplier: no pairs

  private def duckEdges(dir: String): Set[(Long, Long)] = {
    val py =
      """import duckdb, sys
        |con = duckdb.connect()
        |con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sys.argv[1]}/lineitem.parquet/*.parquet'")
        |for u, v in con.execute(f"WITH {sys.argv[2]} SELECT u, v FROM e").fetchall():
        |    print(u, v)""".stripMargin
    val out = try Seq("python3", "-c", py, dir, GraphOps.edgeCte).!!
      catch { case e: Exception => cancel(s"DuckDB oracle unavailable: $e") }
    out.linesIterator.map { l =>
      val Array(u, v) = l.trim.split(" "); (u.toLong, v.toLong)
    }.toSet
  }

  test("a null supplier counts toward PartCap, as in the oracle's edgeCte") {
    import spark.implicits._
    val rows = parts.flatMap { case (p, (n, withNull)) =>
      (1 to n).map(i => (p, Option(p * 1000 + i))) ++
        (if (withNull) Seq((p, Option.empty[Long])) else Nil)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cocap").toString
    // duplicate (part, supplier) rows too: the projection is over distinct pairs
    (rows ++ rows.take(3)).toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")

    val got = OperatorTestAccess.coSupplyEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(p: Long, n: Int) =
      (for (a <- 1 to n; b <- a + 1 to n) yield (p * 1000 + a, p * 1000 + b)).toSet
    assert(got == pairs(2L, Cap - 1) ++ pairs(3L, Cap))
    assert(got == duckEdges(dir))
  }
}
