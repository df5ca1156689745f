package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** In-memory spans around the benchmark's calls into each engine layer.
  * Only ops marked traced record anything; the rest run the bare body,
  * so one run can time traced and untraced ops side by side. */
final class Tracer(t0: Long) {
  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, op: Int, attrs: Map[String, Double])

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var op = -1
  private var on = false

  def begin(opId: Int, traced: Boolean): Unit = { op = opId; on = traced }
  def end(): Unit = on = false

  /** Times `body` as span `name`. */
  def span[T](name: String)(body: => T): T = spanWith(name, (_: T) => Map.empty)(body)

  /** Times `body` as span `name`; `attrs` is computed from its result. */
  def spanWith[T](name: String, attrs: T => Map[String, Double])(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val s = System.nanoTime()
    val r = try body finally stack.pop()
    spans += Span(id, name, s, System.nanoTime(), parent, op, attrs(r))
    r
  }

  /** A span recorded outside any traced op (set-up steps, probes). */
  def record(name: String, opId: Int, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Unit = {
    spans += Span(nextId, name, start, end, -1, opId, attrs); nextId += 1
  }

  def jsonl: Iterator[String] = spans.iterator.map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","start":${Json.num((s.start - t0) / 1e9)},""" +
      s""""end":${Json.num((s.end - t0) / 1e9)},"parent":${if (s.parent < 0) "null" else s.parent},""" +
      s""""op":${s.op},"attrs":{$a}}"""
  }
}

/** Per-op Spark counts from a listener. Ops tag their jobs through the
  * `perfbench.op` local property; untagged jobs are ignored. */
final class SparkCounters extends SparkListener {
  final class Counts {
    var jobs = 0; var tasks = 0; var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L
    var scanRows = 0L
    var scanFiles = 0L; var scanBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val Property = "perfbench.op"
  private val byOp = mutable.HashMap.empty[Int, Counts]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  // File-scan SQL metrics: accumulator id -> metric, per-execution driver
  // values, and the op each SQL execution ran under.
  private val scanAcc = mutable.HashMap.empty[Long, String]
  private val execScan = mutable.HashMap.empty[Long, mutable.HashMap[String, Long]]
  private val execOp = mutable.HashMap.empty[Long, Int]
  @volatile private var pending = 0
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    Option(e.properties).flatMap(p => Option(p.getProperty(Property))).foreach { s =>
      val op = s.toInt
      byOp.getOrElseUpdate(op, new Counts).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      jobOp(e.jobId) = (op, e.time)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execOp(x.toLong) = op)
      pending += 1
    }
  }

  private def registerScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan")) p.metrics.foreach { m =>
      m.name match {
        case "number of files read" => scanAcc(m.accumulatorId) = "files"
        case "size of files read" => scanAcc(m.accumulatorId) = "bytes"
        case "number of output rows" => scanAcc(m.accumulatorId) = "rows"
        case _ =>
      }
    }
    p.children.foreach(registerScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    touch()
    e match {
      case s: SparkListenerSQLExecutionStart => registerScans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => registerScans(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        for ((id, v) <- d.accumUpdates; k <- scanAcc.get(id))
          execScan.getOrElseUpdate(d.executionId, mutable.HashMap.empty)(k) = v max 0L
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      byOp(op).jobSpans += ((start, e.time))
      pending -= 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byOp(op)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      for (a <- e.taskInfo.accumulables if scanAcc.get(a.id).contains("rows"))
        a.update.foreach { case v: Long => c.scanRows += v; case _ => }
    }
  }

  /** Waits until every tagged job has ended and the bus has been quiet
    * for a moment, so late task-end events are counted. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((pending > 0 || System.nanoTime() - lastEvent < 300000000L) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** The op's counts, with the driver-side scan metrics of its SQL
    * executions folded in; call after [[drain]]. */
  def counts(op: Int): Option[Counts] = synchronized {
    byOp.get(op).map { c =>
      for ((x, o) <- execOp if o == op; m <- execScan.get(x)) {
        c.scanFiles += m.getOrElse("files", 0L)
        c.scanBytes += m.getOrElse("bytes", 0L)
      }
      c
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
