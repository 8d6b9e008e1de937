package graft.lineage

import graft.TestSpark
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Lineage clients running in parallel, each on its own
  * `spark.newSession()` over the shared external catalog — the shape of
  * BatchRunner's workers and the lineage benchmark's clients. Every
  * catalog write a script can cause races here:
  *  - a CTAS into a per-thread name, and one into a name all threads
  *    share (both recreate their target through
  *    [[FixtureCatalog.ensureTable]]);
  *  - a CTAS into a database no thread has created yet, so the
  *    database's creation races across threads;
  *  - one thread drops the fixture table `dw.tab10` and reads it back
  *    while every other thread's [[FixtureCatalog.register]] may be
  *    recreating it.
  * Extraction must not throw, must give each thread the edges a
  * sequential run of its scripts gives, and must leave the fixture
  * catalog intact.
  */
class LineageConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Threads = 8
  private val Rounds = 4
  private val NewDb = "lineage_conc_db"

  /** Schema source for the fixture tables only: a read of `dw.tab10`
    * after the script dropped it resolves to the same relation whether
    * another thread's register recreated it first or this lookup does. */
  private val fixtures = new MetaStore {
    def lookup(db: String, table: String): Option[Seq[(String, String)]] =
      FixtureCatalog.ddl.collectFirst { case (d, t, cols) if d == db && t == table =>
        StructType.fromDDL(cols).fields.toSeq.map(f => f.name -> f.dataType.sql)
      }
  }

  private def scripts(t: Int): Seq[String] = {
    val mixed = Seq(
      s"""CREATE TABLE default.conc_own_$t AS
         |SELECT col200l, upper(col201s) AS s FROM dw.tab20""".stripMargin,
      """CREATE TABLE default.conc_shared AS
        |SELECT col300l, col303i + 1 AS i FROM stage.tab30""".stripMargin,
      s"""CREATE DATABASE IF NOT EXISTS $NewDb;
         |CREATE TABLE $NewDb.t$t AS
         |SELECT a.col200l, b.col301s FROM dw.tab20 a
         |JOIN stage.tab30 b ON a.col203i = b.col303i""".stripMargin)
    if (t == 0) mixed :+
      """DROP TABLE dw.tab10;
        |SELECT col100l, col103i FROM dw.tab10 WHERE col102b""".stripMargin
    else mixed
  }

  test("parallel sessions extract the sequential edges and keep the fixture catalog") {
    FixtureCatalog.register(spark)
    assert(!spark.catalog.databaseExists(NewDb), s"$NewDb must be new to this run")

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val edges = Array.fill(Threads)(Seq.empty[Seq[Seq[(String, ColumnEdge)]]])
    val start = new java.util.concurrent.CountDownLatch(1)
    val workers = (0 until Threads).map { t =>
      new Thread(() => {
        val session = spark.newSession()
        start.await()
        try edges(t) = (1 to Rounds).map(_ =>
          scripts(t).map(LineageRunner.run(session, _, Some(fixtures)).edges))
        catch { case e: Throwable => errors.add(e) }
      })
    }
    workers.foreach(_.start())
    start.countDown()
    workers.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))

    FixtureCatalog.ddl.foreach { case (db, tbl, cols) =>
      assert(spark.catalog.tableExists(s"$db.$tbl"), s"$db.$tbl missing")
      assert(spark.table(s"$db.$tbl").schema == StructType.fromDDL(cols),
        s"$db.$tbl schema")
    }

    val sequential = spark.newSession()
    (0 until Threads).foreach { t =>
      val expect = scripts(t).map(LineageRunner.run(sequential, _, Some(fixtures)).edges)
      assert(expect.forall(_.nonEmpty))
      edges(t).zipWithIndex.foreach { case (got, round) =>
        assert(got == expect, s"thread $t round $round")
      }
    }
  }
}
