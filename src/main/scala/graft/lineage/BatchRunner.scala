package graft.lineage

import org.apache.spark.sql.SparkSession

/** Batch entry point — the Spark-first equivalent of the reference's
  * BatchProcessor (BatchProcessor.java:100-164): list `*.sql` files in a
  * directory, extract lineage per file, persist to the parquet store,
  * route failures to a skip report instead of aborting (the reference's
  * --skip-to behavior, :267-277).
  *
  * Usage: graft.lineage.BatchRunner <sqlDir> <storeDir> [numParallel]
  */
object BatchRunner {
  def main(args: Array[String]): Unit = {
    val Array(sqlDir, storeDir) = args.take(2)
    val numParallel = args.drop(2).headOption.flatMap(_.toIntOption).getOrElse(1)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", "file:///tmp/graft_wh_cat")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (ok, skipped) = run(spark, sqlDir, storeDir, numParallel)
    println(s"[batch] ok=${ok.size} skipped=${skipped.size}")
    skipped.foreach { case (f, err) => println(s"[batch] SKIP $f: $err") }
    spark.stop()
  }

  /** Returns (processed files, (file, error) skipped), both sorted.
    *
    * `numParallel > 1` mirrors the reference's thread-per-chunk shape
    * (`--num-parallel`, BatchProcessor.java:151-163: contiguous
    * even-sized chunks, one worker each). Each worker gets its own
    * `spark.newSession()` — isolated session state (temp-function
    * shims, temp views) over the shared SparkContext, the Spark
    * analogue of the reference's per-thread metastore/db-service
    * connections. Per-file store outputs land in disjoint
    * `storeDir/<name>` dirs and the store's ids are content-hashes, so
    * the store is byte-identical to a sequential run (pinned by
    * LineageSpec).
    *
    * Within a worker, EXTRACTION runs sequentially while STORE WRITES
    * are submitted async, overlapping the next file's extraction. A
    * store write runs no Spark job: it is seven small local parquet
    * files written directly (see [[LineageStore]]). Extraction reads
    * each file's own [[LineageRunner.Scope]] and never writes the
    * catalog, so workers take no lock; a table one file creates is
    * visible to files extracted after it, in any worker. */
  def run(spark: SparkSession, sqlDir: String, storeDir: String,
      numParallel: Int = 1): (Seq[String], Seq[(String, String)]) = {
    val files = new java.io.File(sqlDir).listFiles()
      .filter(_.getName.endsWith(".sql")).map(_.getPath).sorted.toSeq
    if (numParallel <= 1 || files.isEmpty) runChunk(spark, files, storeDir)
    else {
      // Even flow like the reference: round(remaining / remainingThreads).
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      var start = 0; var remainCnt = numParallel
      while (remainCnt > 0 && start < files.length) {
        val chunk = math.round((files.length - start).toDouble / remainCnt).toInt
        if (chunk > 0) { chunks += files.slice(start, start + chunk); start += chunk }
        remainCnt -= 1
      }
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(chunks.length)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val results = chunks.toSeq.map { chunk =>
          Future(runChunk(spark.newSession(), chunk, storeDir))
        }.map(Await.result(_, Duration.Inf))
        (results.flatMap(_._1).sorted, results.flatMap(_._2).sortBy(_._1))
      } finally pool.shutdown()
    }
  }

  private def runChunk(spark: SparkSession, files: Seq[String], storeDir: String)
      : (Seq[String], Seq[(String, String)]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val ok = Seq.newBuilder[String]
    val skipped = Seq.newBuilder[(String, String)]
    val writes = Seq.newBuilder[(String, Future[Unit])]
    files.foreach { f =>
      try {
        val script = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))
        val res = LineageRunner.run(spark, script)
        val name = new java.io.File(f).getName.stripSuffix(".sql")
        writes += f -> Future(LineageStore.write(spark, name, res, s"$storeDir/$name"))
        ok += f
      } catch {
        case e: Throwable =>
          skipped += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.next()}"
      }
    }
    val (_, failed) = writes.result().partition { case (_, fut) =>
      try { Await.result(fut, Duration.Inf); true }
      catch { case _: Throwable => false }
    }
    failed.foreach { case (f, _) => skipped += f -> "store write failed" }
    val okFiles = ok.result().filterNot(failed.map(_._1).toSet)
    (okFiles, skipped.result())
  }
}

/** Parse gate — the reference's SyntaxCheck (shared/SyntaxCheck.java:15-38):
  * lex+parse only, with exit-code PARITY to the reference's four paths:
  * 0 = every statement parses; 1 = syntax error (the reference's
  * ParseCancellationException ~ Spark's ParseException); 2 = a
  * recognition-layer failure that isn't a plain syntax error (the
  * reference's RecognitionException ~ any other Throwable out of the
  * parser); 3 = unreadable input file (IOException on both sides).
  * Like the reference, the first failure decides the code. */
object SyntaxCheck {

  /** 1 for a plain syntax error, 2 for any other parser failure —
    * mirrors the reference's ParseCancellationException (1) vs
    * RecognitionException (2) split. */
  private[lineage] def classify(e: Throwable): Int = e match {
    case _: org.apache.spark.sql.catalyst.parser.ParseException => 1
    case _ => 2
  }

  private[lineage] def check(spark: SparkSession, path: String): Int = {
    val script =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      catch { case _: java.io.IOException => return 3 }
    SqlPreprocessor.preprocess(script).foreach { stmt =>
      try spark.sessionState.sqlParser.parsePlan(stmt)
      catch { case e: Throwable =>
        System.err.println(
          s"${stmt.linesIterator.next().take(60)}: ${e.getClass.getSimpleName}")
        return classify(e)
      }
    }
    0
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = check(spark, args(0))
    spark.stop()
    sys.exit(code)
  }
}
