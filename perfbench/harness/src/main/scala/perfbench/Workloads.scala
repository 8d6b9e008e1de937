package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import perfbench.Harness.{Clock, OpRec, Plan}

/** queries-sf0.001: one client runs whole passes of the panel of
  * registered queries in the given order, each query timed to its full
  * answer through the noop sink. An untimed verify pass runs first and
  * writes every panel query's answer for the checks. Then `warmup`
  * untimed noop passes run, so the loop times executions whose plans are
  * already compiled. */
object Queries {
  def run(spark: SparkSession, plan: Plan, tracer: Tracer, clock: Clock,
      ops: java.util.List[OpRec]): AnyRef = {
    val fns = graft.SparkEntry.queries
    val panel = plan.list("queries").map(_.toString)
    val answers = new java.util.TreeMap[String, String]()
    panel.foreach { name =>
      val path = s"${plan.out}/answers/$name"
      answers.put(name, try {
        fns(name)(spark, plan.data).coalesce(1).write.mode("overwrite").parquet(path)
        path
      } catch { case e: Throwable => s"ERROR ${e.getClass.getName}" })
      spark.catalog.clearCache()
    }
    for (_ <- 1 to plan.num("warmup").toInt; name <- panel) {
      Harness.noop(fns(name)(spark, plan.data))
      spark.catalog.clearCache()
    }
    clock.start()
    var id = 0L
    // Whole passes only, so every panel query is timed equally often.
    while (clock.running || id % panel.size != 0) {
      val name = panel((id % panel.size).toInt)
      Harness.op(ops, tracer, Harness.traced(plan, id), id, 0, "query", name) {
        Harness.group(spark, tracer, id, "build")
        val df = tracer.span("operators.build", id, "op")(fns(name)(spark, plan.data))
        if (tracer.on) tracer.add(id, "build.df_analysis_ms", df.queryExecution.tracker
          .phases.get(QueryPlanningTracker.ANALYSIS).map(_.durationMs.toDouble).getOrElse(0.0))
        Harness.group(spark, tracer, id, "exec")
        tracer.span("exec.write", id, "op")(Harness.noop(df))
      }
      spark.sparkContext.clearJobGroup()
      spark.catalog.clearCache()
      id += 1
    }
    clock.finish()
    tracer.on = false
    Map("answers" -> answers).asJava
  }
}

/** lineage-batch: `threads` clients, each on its own `newSession()` as
  * BatchRunner's workers are, extract each script's lineage and store
  * it, after `warmup` untimed scripts each. A script's `__R__` token is
  * replaced by its repetition number (by `w<k>` in the warm-up), so
  * every created or inserted table name is unique across the run. */
object Lineage {
  import graft.lineage.{LineageRunner, LineageStore, SqlPreprocessor}

  def run(spark: SparkSession, plan: Plan, tracer: Tracer, clock: Clock,
      ops: java.util.List[OpRec]): AnyRef = {
    val clients = plan.list("scripts").map(_.asInstanceOf[java.util.List[AnyRef]].asScala
      .map { s => val m = s.asInstanceOf[java.util.Map[String, AnyRef]]
        (m.get("id").toString, m.get("sql").toString) }.toSeq)
    val sessions = clients.map(_ => spark.newSession())
    val ids = new AtomicLong
    val edges = new ConcurrentLinkedQueue[String]()

    def phase(warm: Boolean, running: Int => Boolean): Unit = {
      val workers = clients.zipWithIndex.map { case (scripts, c) => new Thread(() => {
        val session = sessions(c)
        var k = 0
        while (running(k)) {
          val (sid, template) = scripts(k % scripts.size)
          val rep = if (warm) s"w$k" else (k / scripts.size).toString
          val sql = template.replace("__R__", rep)
          val name = s"$sid.$rep"
          val dir = s"${plan.work}/store/$name"
          if (warm) LineageStore.write(session, name, LineageRunner.run(session, sql), dir)
          else script(session, plan, tracer, ops, ids.getAndIncrement(), c, name, sql, dir)
            .foreach(_.edges.foreach { case (tgt, e) =>
              edges.add(Seq(sid, rep, tgt, e.outColumn, e.parentSchema,
                e.parentTable, e.parentColumn, e.context).mkString("\t"))
            })
          k += 1
        }
      })}
      workers.foreach(_.start())
      workers.foreach(_.join())
    }

    phase(warm = true, _ < plan.num("warmup").toInt)
    clock.start()
    phase(warm = false, _ => clock.running)
    clock.finish()
    tracer.on = false
    val path = s"${plan.out}/edges.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), edges.asScala.toSeq.asJava)
    Map("edges" -> path).asJava
  }

  /** One timed script: extract, then store. The result, if it succeeded. */
  private def script(session: SparkSession, plan: Plan, tracer: Tracer,
      ops: java.util.List[OpRec], id: Long, client: Int, name: String, sql: String,
      dir: String): Option[LineageRunner.Result] = {
    var res: LineageRunner.Result = null
    val ok = Harness.op(ops, tracer, Harness.traced(plan, id), id, client,
        "script", name) {
      Harness.group(session, tracer, id, "extract")
      if (tracer.on) {
        val stmts = tracer.span("lineage.preprocess", id, "op")(SqlPreprocessor.preprocess(sql))
        tracer.add(id, "lineage.statements", stmts.size)
      }
      TimedParser.take()
      val planning = new QueryPlanningTracker()
      res = tracer.span("lineage.extract", id, "op")(
        QueryPlanningTracker.withTracker(planning)(LineageRunner.run(session, sql)))
      if (tracer.on) {
        tracer.add(id, "lineage.parse_ms", TimedParser.take() / 1e6)
        tracer.add(id, "lineage.analyze_ms", planning.rules.values.map(_.totalTimeNs).sum / 1e6)
        tracer.add(id, "lineage.skipped_statements", res.skippedStatements.size)
        tracer.add(id, "lineage.edges", res.edges.size)
      }
      Harness.group(session, tracer, id, "store")
      tracer.span("lineage.store", id, "op")(LineageStore.write(session, name, res, dir))
      if (tracer.on) tracer.add(id, "lineage.store_bytes", Manifest.bytesUnder(new File(dir)))
    }
    session.sparkContext.clearJobGroup()
    if (ok) Some(res) else None
  }
}

/** manifest-rw: one client replays the seeded op log against one table
  * of the Manifest connector, written in its default data-file format. */
object Manifest {
  import graft.sources.ManifestMaintenance

  /** The table the timed loop works on, loaded at set-up. */
  def tablePath(plan: Plan): String = s"${plan.work}/manifest/table"

  def read(spark: SparkSession, plan: Plan, path: String): DataFrame =
    spark.read.format("graft.sources.ManifestSource")
      .schema(plan.str("schema")).option("path", path).load()

  private def append(spark: SparkSession, path: String, file: String): Unit =
    spark.read.parquet(file).write.format("graft.sources.ManifestSink")
      .option("path", path).mode("append").save()

  /** Set-up: the base slice into a fresh table, then one full scan. */
  def load(spark: SparkSession, plan: Plan, path: String): Unit = {
    append(spark, path, plan.str("base"))
    Harness.noop(read(spark, plan, path))
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length()

  /** (path, size, mtime) of every file under `dir`. */
  private def listing(dir: File): Set[(String, Long, Long)] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(listing).toSet
    else Set((dir.getPath, dir.length(), dir.lastModified()))

  /** Applies one op-log entry to the table at `path`. */
  private def apply(spark: SparkSession, plan: Plan, path: String,
      o: java.util.Map[String, AnyRef]): Unit = {
    def arg(k: String) = o.get(k).toString
    val ddl = plan.str("schema")
    o.get("kind").toString match {
      case "append" => append(spark, path, arg("file"))
      case "upsert" => ManifestMaintenance.upsert(spark, path, ddl,
        plan.list("keys").map(_.toString), spark.read.parquet(arg("file")))
      case "delete" => ManifestMaintenance.delete(spark, path, ddl, arg("pred"))
      case "compact" => ManifestMaintenance.compact(spark, path, ddl)
      case "scan" => Harness.noop(read(spark, plan, path).where(arg("pred")))
    }
  }

  def run(spark: SparkSession, plan: Plan, tracer: Tracer, clock: Clock,
      ops: java.util.List[OpRec]): AnyRef = {
    val path = tablePath(plan)
    val log = plan.list("ops").map(_.asInstanceOf[java.util.Map[String, AnyRef]])
    val scans = new java.util.TreeMap[String, String]()
    val applied = new java.util.ArrayList[java.lang.Long]()
    // Untimed warm-up: the head of the op log against a second copy of
    // the base slice, which the timed loop does not use.
    val warm = s"${plan.work}/manifest/warm"
    load(spark, plan, warm)
    log.take(plan.num("warmup").toInt).foreach(apply(spark, plan, warm, _))
    clock.start()
    var i = 0
    while (i < log.size && clock.running) {
      val o = log(i)
      val kind = o.get("kind").toString
      val id = i.toLong
      val traced = Harness.traced(plan, id)
      val before = if (traced) listing(new File(path)) else Set.empty[(String, Long, Long)]
      val ok = Harness.op(ops, tracer, traced, id, 0, kind, kind) {
        Harness.group(spark, tracer, id, "sources")
        tracer.span(s"sources.$kind", id, "op")(apply(spark, plan, path, o))
      }
      spark.sparkContext.clearJobGroup()
      if (ok) applied.add(id)
      // Bytes written: every file that is new or changed since the
      // listing before this operation.
      if (traced) tracer.add(id, "sources.bytes_written",
        (listing(new File(path)) -- before).toSeq.map(_._2).sum.toDouble)
      if (ok && kind == "scan") clock.pause {
        val out = s"${plan.out}/scans/$i"
        read(spark, plan, path).where(o.get("pred").toString).coalesce(1).write.parquet(out)
        scans.put(i.toString, out)
      }
      i += 1
    }
    clock.finish()
    tracer.on = false
    val manifest = new File(path, "manifest.json")
    val text = if (manifest.exists()) new String(java.nio.file.Files.readAllBytes(manifest.toPath)) else ""
    Map[String, AnyRef]("scans" -> scans, "applied" -> applied,
      "files_live" -> Int.box("""\{"file":"[^"]+","rows":""".r.findAllMatchIn(text).size),
      "bytes_stored" -> Long.box(bytesUnder(new File(path)))).asJava
  }
}
