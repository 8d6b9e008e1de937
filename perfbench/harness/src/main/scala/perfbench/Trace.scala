package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval around a call into the program. `op` is the
  * operation it belongs to (-1 for set-up) and `parent` the name of the
  * enclosing span ("" for an operation's root). */
final case class Span(name: String, op: Long, parent: String, t0: Long, t1: Long)

/** Spans and per-operation counters, kept in memory and written out once
  * at the end of the run. Tracing is switched per thread, for the
  * operation that thread runs; while it is off a span only runs its body,
  * so untraced operations time the program and nothing else. */
final class Tracer {
  private val enabled = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def on: Boolean = enabled.get
  def on_=(b: Boolean): Unit = enabled.set(b)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[(Long, String), DoubleAdder]()

  def span[T](name: String, op: Long, parent: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(name, op, parent, t0, System.nanoTime()))
    }

  /** Adds `v` to counter `key` of operation `op` (a count, or a duration
    * measured by Spark rather than by a span). Not gated on `on`: Spark's
    * listener events for a traced operation may arrive after the loop. */
  def add(op: Long, key: String, v: Double): Unit =
    counters.computeIfAbsent((op, key), _ => new DoubleAdder).add(v)

  def counterRows: Seq[(Long, String, Double)] = {
    val out = Seq.newBuilder[(Long, String, Double)]
    counters.forEach((k, v) => out += ((k._1, k._2, v.sum())))
    out.result()
  }
}

/** Times every `parsePlan` of a session into a per-thread total; the
  * lineage workload reads and resets it around each script. Installed
  * only in traced runs. */
final class TimedParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String) = {
    val t0 = System.nanoTime()
    try delegate.parsePlan(sqlText)
    finally TimedParser.nanos.set(TimedParser.nanos.get + System.nanoTime() - t0)
  }
  override def parseExpression(sqlText: String) = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) = delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}

object TimedParser {
  val nanos: ThreadLocal[Long] = ThreadLocal.withInitial(() => 0L)
  def take(): Long = { val n = nanos.get; nanos.set(0L); n }
}

/** Reads Spark's public listener events and files them under the job
  * group the benchmark set on the calling thread, `<op>:<layer>`: jobs,
  * stages, tasks and task metrics, plus the planning phases and the
  * final plan shape of each SQL execution. */
final class SparkCounters(tracer: Tracer) extends SparkListener with AdaptiveSparkPlanHelper {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def add(group: String, key: String, v: Double): Unit =
    if (group != null) group.split(":", 2) match {
      case Array(op, layer) => tracer.add(op.toLong, s"$layer.$key", v)
      case _ =>
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      add(g, "jobs", 1)
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEvent.set(System.nanoTime())
    val id = e.stageInfo.stageId
    stageSubmit.put(id, Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    add(stageGroup.get(id), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    add(g, "tasks", 1)
    val submitted = stageSubmit.get(e.stageId)
    if (submitted != null && e.taskInfo != null)
      add(g, "task_wait_ms", math.max(0L, e.taskInfo.launchTime - submitted))
    val m = e.taskMetrics
    if (m != null) {
      add(g, "task_cpu_ms", m.executorCpuTime / 1e6)
      add(g, "bytes_read", m.inputMetrics.bytesRead.toDouble)
      add(g, "records_read", m.inputMetrics.recordsRead.toDouble)
      add(g, "shuffle_bytes",
        (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble)
      add(g, "spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
    }
  }

  // The end event's `qe` is package-private in Scala but a public
  // method in bytecode; it carries the execution's planning tracker and
  // final plan.
  private val qeOf = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      lastEvent.set(System.nanoTime())
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case e: SparkListenerSQLExecutionEnd =>
      lastEvent.set(System.nanoTime())
      val g = execGroup.remove(e.executionId)
      val qe = qeOf.invoke(e).asInstanceOf[QueryExecution]
      if (g != null && qe != null) {
        qe.tracker.phases.foreach { case (phase, p) => add(g, s"${phase}_ms", p.durationMs.toDouble) }
        val plan: SparkPlan = qe.executedPlan
        add(g, "plan_nodes", collectWithSubqueries(plan) { case p => p }.size)
        add(g, "exchanges", collectWithSubqueries(plan) {
          case p: ShuffleExchangeLike => p
          case p: BroadcastExchangeLike => p
        }.size)
        add(g, "joins", collectWithSubqueries(plan) { case p: BaseJoinExec => p }.size)
      }
    case _ =>
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for `quietMs`, at most `maxMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val start = System.nanoTime()
    while ((System.nanoTime() - lastEvent.get) / 1e6 < quietMs &&
      (System.nanoTime() - start) / 1e6 < maxMs) Thread.sleep(50)
  }
}
