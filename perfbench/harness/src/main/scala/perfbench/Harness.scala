package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one benchmark workload in a fresh JVM, as described by a plan
  * file that `perfbench/run.py` generates from the seed:
  *
  *   Harness <plan.json> <result.json>
  *   Harness --catalog <catalog.json>
  *
  * The second form writes what the generators need from the program:
  * every registered query with its defining module and oracle SQL, the
  * fixed-cost-bound set, and the ported lineage scripts.
  * Each workload is a closed loop: a client sends its next operation
  * only after the previous one returned. The harness times every
  * operation, writes what the answer checks need (query answers,
  * lineage edges, manifest scan results) outside the timed windows, and
  * in a traced run also records spans and Spark counters. All
  * arithmetic on the numbers is left to run.py.
  */
object Harness {
  private val json = new ObjectMapper()

  /** One operation as executed; `traced` marks the operations a traced
    * run records spans and counters for. */
  final case class OpRec(id: Long, client: Int, kind: String, name: String,
      t0: Long, t1: Long, ok: Boolean, err: String, traced: Boolean)

  final class Plan(m: java.util.Map[String, AnyRef]) {
    def str(k: String): String = m.get(k).toString
    def num(k: String): Double = m.get(k).asInstanceOf[Number].doubleValue
    def list(k: String): Seq[AnyRef] =
      Option(m.get(k)).map(_.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq)
        .getOrElse(Nil)
    def workload: String = str("workload")
    def data: String = str("data")
    def work: String = str("work")
    def out: String = str("out")
    def threads: Int = num("threads").toInt
    def trace: Boolean = num("trace") != 0
    def seconds: Double = num("seconds")
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "--catalog") catalog(args(1)) else run(args(0), args(1))

  private def catalog(path: String): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val queries = graft.SparkEntry.defs.map { q =>
      // A query's function is a lambda compiled into its defining module.
      val module = q.fn.getClass.getName.split('$').head.split('.').last
      Map[String, AnyRef]("name" -> q.name, "module" -> module,
        "oracle" -> oracles.get(q.name).orNull).asJava
    }
    json.writeValue(new File(path), Map[String, AnyRef](
      "queries" -> queries.asJava,
      "fixed_cost_bound" -> graft.SparkEntry.fixedCostBound.toSeq.sorted.asJava,
      "lineage_scripts" -> graft.operators.LineageQueries.scripts.asJava).asJava)
  }

  private def run(planPath: String, resultPath: String): Unit = {
    val plan = new Plan(json.readValue(new File(planPath), classOf[java.util.Map[String, AnyRef]]))
    val tracer = new Tracer
    val (spark, setupTimes) = setup(plan)
    val counters = new SparkCounters(tracer)
    if (plan.trace) spark.sparkContext.addSparkListener(counters)
    val ops = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRec]())
    val clock = new Clock(plan)
    val verify = plan.workload match {
      case "queries" => Queries.run(spark, plan, tracer, clock, ops)
      case "lineage" => Lineage.run(spark, plan, tracer, clock, ops)
      case "manifest" => Manifest.run(spark, plan, tracer, clock, ops)
    }
    if (plan.trace) counters.drain()
    val result = new java.util.LinkedHashMap[String, AnyRef]()
    result.put("setup", setupTimes.asJava)
    result.put("ops", ops.asScala.toSeq.sortBy(_.id).map(o => Seq[AnyRef](
      Long.box(o.id), Int.box(o.client), o.kind, o.name, Long.box(o.t0),
      Long.box(o.t1), Boolean.box(o.ok), o.err, Boolean.box(o.traced)).asJava).asJava)
    result.put("loop_s", Double.box(clock.loopSeconds))
    result.put("spans", tracer.spans.asScala.toSeq.map(s => Seq[AnyRef](
      s.name, Long.box(s.op), s.parent, Long.box(s.t0), Long.box(s.t1)).asJava).asJava)
    result.put("counters", tracer.counterRows.map { case (op, k, v) =>
      Seq[AnyRef](Long.box(op), k, Double.box(v)).asJava }.asJava)
    result.put("verify", verify)
    result.put("jvm", clock.jvm.asJava)
    json.writeValue(new File(resultPath), result)
    spark.stop()
    sys.exit(0)
  }

  /** Wall clock of the closed loop: `seconds` of operations from `start()`,
    * minus the time spent writing answers for the checks. */
  final class Clock(plan: Plan) {
    @volatile private var startNs = System.nanoTime()
    private val paused = new AtomicLong(0L)
    @volatile private var gcAtStart = gc()
    @volatile var loopSeconds: Double = 0.0
    @volatile var jvm: Map[String, AnyRef] = Map.empty

    /** Starts the timed loop, after the workload's warm-up. */
    def start(): Unit = {
      startNs = System.nanoTime()
      paused.set(0L)
      gcAtStart = gc()
    }

    /** Seconds of loop time so far, verification pauses excluded. */
    def elapsed: Double = (System.nanoTime() - startNs - paused.get) / 1e9

    /** True while the loop should start another operation. */
    def running: Boolean = elapsed < plan.seconds

    def pause[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally paused.addAndGet(System.nanoTime() - t0)
    }

    /** Ends the loop, before the checks' work, and takes the JVM's
      * numbers: peak resident and heap memory so far, and the garbage
      * collection done during the loop. */
    def finish(): Unit = {
      loopSeconds = elapsed
      val (c, t) = gc()
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      jvm = Map("rss_peak_mb" -> Double.box(hwmKb / 1024.0),
        "heap_peak_mb" -> Double.box(heapPeak / 1048576.0),
        "gc_count" -> Long.box(c - gcAtStart._1), "gc_ms" -> Long.box(t - gcAtStart._2))
    }
  }

  private def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** The set-up a user of the program waits for in a fresh JVM: session
    * start, then the workload's tables (or lineage catalog) made ready. */
  private def setup(plan: Plan): (SparkSession, Map[String, AnyRef]) = {
    val t0 = System.nanoTime()
    val b = SparkSession.builder()
      .master(s"local[${plan.threads}]")
      .config("spark.sql.shuffle.partitions", plan.threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.analyzer.singlePassResolver.dualRunWithLegacy", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${plan.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"file://${plan.work}/warehouse")
    if (plan.trace) b.withExtensions(_.injectParser((_, d) => new TimedParser(d)))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val t1 = System.nanoTime()
    // The fixture databases get locations inside the run's work dir;
    // the program's own CREATE DATABASE IF NOT EXISTS then finds them.
    Seq("dw", "stage", "adhoc").foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION 'file://${plan.work}/catalog/$db.db'")
    }
    plan.workload match {
      case "queries" =>
        graft.Tables.names.foreach(n => graft.Tables.load(spark, plan.data, n).count())
        graft.lineage.LineageRunner.run(spark, "SELECT * FROM dw.tab10;")
      case "lineage" =>
        graft.lineage.LineageRunner.run(spark, "SELECT * FROM dw.tab10;")
      case "manifest" =>
        Manifest.load(spark, plan, Manifest.tablePath(plan))
    }
    val t2 = System.nanoTime()
    (spark, Map("session_ms" -> Double.box((t1 - t0) / 1e6),
      "table_warm_ms" -> Double.box((t2 - t1) / 1e6)))
  }

  /** In a traced run, half the operations are traced: the other half,
    * spread over the same loop, measures the tracing overhead. The half is
    * picked by a hash of the operation id rather than by parity, so a
    * loop that cycles through its inputs still traces each input some of
    * the time and leaves it untraced the rest. */
  def traced(plan: Plan, id: Long): Boolean =
    plan.trace && (id * 0x9E3779B97F4A7C15L) < 0

  /** Runs `f` as operation `id`, recording its outcome; tracing stays as
    * set for the calling thread until its next operation. Exceptions
    * count as failed operations, never as benchmark errors. */
  def op(ops: java.util.List[OpRec], tracer: Tracer, traced: Boolean, id: Long,
      client: Int, kind: String, name: String)(f: => Unit): Boolean = {
    tracer.on = traced
    val t0 = System.nanoTime()
    val err = try { tracer.span("op", id, "")(f); "" }
      catch { case e: Throwable =>
        s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
    ops.add(OpRec(id, client, kind, name, t0, System.nanoTime(), err.isEmpty, err, traced))
    err.isEmpty
  }

  /** Job group `<op>:<layer>` routes Spark's listener events for the
    * calls that follow to that operation and layer (traced runs only). */
  def group(spark: SparkSession, tracer: Tracer, id: Long, layer: String): Unit =
    if (tracer.on) spark.sparkContext.setJobGroup(s"$id:$layer", layer)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
