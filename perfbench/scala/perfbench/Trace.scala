package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.Engine
import graft.model.Datom
import graft.server.Request

/** Spans and Spark events of a traced run. Records stay in memory as
  * JSON lines and are written out when the run ends.
  *
  * A span has a name, start, end, parent span and step id. Spans opened
  * on a thread with no open span take the current step span as parent,
  * so engine calls made by the server's connection thread nest under
  * the client's step. When `on` is false a span is a plain call. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile private var step = -1
  @volatile private var stepSpan = 0L
  private val ids = new AtomicLong(0L)
  private val open = ThreadLocal.withInitial(() => new java.util.ArrayDeque[Long]())
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  val lines = new ConcurrentLinkedQueue[String]()

  /** Microseconds since the epoch, on the monotonic clock. Spark's job
    * times are epoch milliseconds, so the two can be compared. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val st = open.get()
      val parent = if (st.isEmpty) stepSpan else st.peek()
      val s = step
      st.push(id)
      val t0 = nowUs
      try body
      finally {
        val t1 = nowUs
        st.pop()
        lines.add(s"""{"kind":"span","id":$id,"parent":$parent,"step":$s,""" +
          s""""name":"$name","start_us":$t0,"end_us":$t1}""")
      }
    }

  private val counters = new Counters
  private val listener = new StepListener(counters, lines, () => step)
  private val qeListener = new PlanListener(counters)

  /** Open step `id` of `kind`: attach the listeners and open its root
    * span. Returns the root span's id and start. */
  def beginStep(id: Int, kind: String): (Long, Long) = {
    counters.reset()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    step = id
    stepSpan = ids.incrementAndGet()
    on = true
    (stepSpan, nowUs)
  }

  /** Close the step: record its root span, flush the listener bus so
    * every event of the step has been counted, detach the listeners and
    * write the step's counters together with `extra`. */
  def endStep(kind: String, root: (Long, Long), latencyMs: Double,
      extra: Map[String, Double]): Unit = {
    val t1 = nowUs
    on = false
    lines.add(s"""{"kind":"span","id":${root._1},"parent":0,"step":$step,""" +
      s""""name":"step.$kind","start_us":${root._2},"end_us":$t1}""")
    org.apache.spark.PerfbenchBus.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val sc = spark.sparkContext
    val stored = sc.getRDDStorageInfo
    val stats = counters.snapshot ++ Map(
      "state_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "state_mb" -> stored.map(i => i.memSize + i.diskSize).sum / 1e6) ++ extra
    lines.add(s"""{"kind":"step","step":$step,"type":"$kind",""" +
      s""""traced":true,"ms":$latencyMs,${Json.fields(stats)}}""")
    stepSpan = 0L
  }

  /** A step run with tracing off, kept so the summary can compare traced
    * and untraced latency within one run. */
  def untracedStep(id: Int, kind: String, latencyMs: Double): Unit =
    lines.add(s"""{"kind":"step","step":$id,"type":"$kind",""" +
      s""""traced":false,"ms":$latencyMs}""")

  def note(key: String, value: Double): Unit =
    lines.add(s"""{"kind":"note","key":"$key","value":$value}""")

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.forEach(l => w.println(l)) finally w.close()
  }
}

/** Per-step counters fed by the listeners; all callbacks run on the
  * listener bus thread and are read after the bus is flushed. */
private final class Counters {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  def reset(): Unit = synchronized {
    c.clear()
    Seq("jobs", "stages", "tasks", "task_overhead_ms", "empty_tasks",
      "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "shuffle_records", "plan_ms", "executions")
      .foreach(c(_) = 0.0)
  }
  def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized(c.toMap)
}

private final class StepListener(c: Counters,
    lines: ConcurrentLinkedQueue[String], step: () => Int) extends SparkListener {
  private val starts = mutable.Map.empty[Int, (Long, String)]

  // SQL execution id -> origin of the action that started it. Jobs that
  // a query execution submits from Spark's own thread pools (exchanges,
  // broadcasts) carry no graft frame and take their execution's origin.
  private val execOrigin = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      StepListener.origin(s.details).foreach(execOrigin(s.executionId.toString) = _)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c.add("jobs", 1)
    val cls = e.stageInfos.sortBy(_.stageId).lastOption
      .flatMap(si => StepListener.origin(si.details))
      .orElse(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(execOrigin.get))
      .getOrElse("other")
    starts(e.jobId) = (e.time, cls)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    starts.remove(e.jobId).foreach { case (t0, cls) =>
      lines.add(s"""{"kind":"job","step":${step()},"job":${e.jobId},""" +
        s""""start_ms":$t0,"end_ms":${e.time},"class":"$cls"}""")
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    c.add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("task_overhead_ms", (e.taskInfo.duration - m.executorRunTime).toDouble)
      c.add("run_ms", m.executorRunTime.toDouble)
      c.add("cpu_ms", m.executorCpuTime / 1e6)
      c.add("gc_ms", m.jvmGCTime.toDouble)
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      c.add("shuffle_read_bytes", sr.totalBytesRead.toDouble)
      c.add("shuffle_write_bytes", sw.bytesWritten.toDouble)
      c.add("shuffle_records", (sr.recordsRead + sw.recordsWritten).toDouble)
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0 &&
          m.outputMetrics.recordsWritten == 0 && sw.recordsWritten == 0)
        c.add("empty_tasks", 1)
    }
  }
}

private object StepListener {
  /** The graft class of a call site: its first `graft.` frame, package
    * dropped, `$` mapped to `.`, anonymous-function and method segments
    * dropped. */
  def origin(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft.")).map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        cls.substring(cls.lastIndexOf('.') + 1).split('$')
          .filter(s => s.nonEmpty && s.head.isUpper).mkString(".")
      }.filter(_.nonEmpty)
}

private final class PlanListener(c: Counters) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = {
    c.add("executions", 1)
    c.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

/** The served engine: every call into the engine's public API that the
  * benchmark or the server makes is a span. A `RegisterSource` request
  * is a `sources.register` span. */
final class TracedEngine(spark: SparkSession, tr: Tracer) extends Engine(spark) {
  override def handle(req: Request): Unit = req match {
    case _: Request.RegisterSource => tr.span("sources.register")(super.handle(req))
    case _                         => tr.span("engine.handle")(super.handle(req))
  }
  override def transact(datoms: Seq[Datom]): Unit =
    tr.span("engine.transact")(super.transact(datoms))
  override def advance(next: Long): Unit =
    tr.span("engine.advance")(super.advance(next))
  override def drain(name: String): Seq[(Seq[Any], Long, Long)] =
    tr.span("engine.drain")(super.drain(name))
  override def interestMaintained(name: String, granularity: Option[Long]): Unit =
    tr.span("engine.interest")(super.interestMaintained(name, granularity))
  override def interestIncremental(name: String, granularity: Option[Long]): Unit =
    tr.span("engine.interest")(super.interestIncremental(name, granularity))
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def fields(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
}
