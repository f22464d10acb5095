package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: an operation the benchmark issued (`kind` "op"), or a
  * layer call inside one (`kind` "call"). `parent` is the enclosing op's
  * id, -1 for a top-level op. Wall-clock millis, so Spark's own event
  * timestamps (also epoch millis) line up with them.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    group: String, round: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark-side facts attributed to one op span: counts and sums from the
  * scheduler's listener events, and Catalyst phase times from the
  * query-execution listener.
  */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var planMs = 0.0
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's tracer. Spans are recorded from the benchmark's own
  * files around each call into the engine; with tracing on, a
  * [[SparkListener]] and a [[QueryExecutionListener]] registered here tie
  * Spark jobs, stages, tasks and Catalyst phases to the op span that
  * issued them (through a local property on the issuing thread). Every
  * record stays in memory until [[write]] at the end of the run. With
  * tracing off only the op spans are kept (their walls are the timings)
  * and no listener is registered.
  */
final class Trace(val spark: SparkSession, val enabled: Boolean) {
  val OpProperty = "perfbench.op"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stats = mutable.HashMap.empty[Int, OpStats]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  // Catalyst phase records, (startMs, endMs, planMs), attributed to ops by
  // time once the run is over: ops that plan queries run one at a time
  private val phases = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  private val jobTimes = mutable.ArrayBuffer.empty[(Long, Int)]
  @volatile private var events = 0L

  private def statsOf(op: Int): OpStats = stats.getOrElseUpdate(op, new OpStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1
      val op = opOf(e.properties)
      jobTimes += ((e.time, op))
      if (op >= 0) statsOf(op).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        events += 1
        val op = opOf(e.properties)
        if (op >= 0) stageOp(e.stageInfo.stageId) = op
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        events += 1
        val si = e.stageInfo
        stageOp.get(si.stageId).foreach { op =>
          val st = statsOf(op)
          st.stages += 1
          for (s <- si.submissionTime; c <- si.completionTime)
            st.stageSpans += ((s, c))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      stageOp.get(e.stageId).foreach { op =>
        val st = statsOf(op)
        st.tasks += 1
        st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          st.taskMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.inputBytes += m.inputMetrics.bytesRead
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      events += 1
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) {
        val ms = ps.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        phases += ((ps.map(_.startTimeMs).min, ps.map(_.endTimeMs).max, ms))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val lock = new Object

  private def opOf(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(-1)

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Time a layer call inside op `parent` (kept only when tracing). */
  def call[A](parent: Span, name: String)(body: => A): A = {
    val t0 = now()
    val a = body
    if (enabled) lock.synchronized {
      nextId += 1
      spans += Span(nextId, parent.id, "call", name, parent.group,
        parent.round, t0, now())
    }
    a
  }

  /** Time `body` as a top-level op; Spark work it issues from this thread
    * is tied to the span. The body receives the open span, whose id its
    * layer [[call]]s name as their parent.
    */
  def openOp[A](name: String, group: String, round: Int)(
      body: Span => A): (A, Span) = {
    val id = lock.synchronized { nextId += 1; nextId }
    val sc = spark.sparkContext
    if (enabled) sc.setLocalProperty(OpProperty, id.toString)
    val t0 = now()
    try {
      val a = body(Span(id, -1, "op", name, group, round, t0, t0))
      val s = Span(id, -1, "op", name, group, round, t0, now())
      lock.synchronized(spans += s)
      (a, s)
    } finally if (enabled) sc.setLocalProperty(OpProperty, null)
  }

  def now(): Double = System.nanoTime() / 1e6 + Trace.nanoToEpochMs

  /** Jobs started in [fromMs, toMs) regardless of op (e.g. the serving
    * hot path, which should launch none).
    */
  def jobsBetween(fromMs: Double, toMs: Double): Int = lock.synchronized {
    jobTimes.count { case (t, _) => t >= fromMs && t < toMs }
  }

  /** Wait until the listener bus has delivered every event: no new event
    * for 300 ms (bounded at 10 s).
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (events != last && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(300)
    }
  }

  def callSpans: Seq[Span] = lock.synchronized(spans.filter(_.kind == "call").toSeq)

  /** Spark facts for `op`, with Catalyst phase time attributed by time. */
  def statsFor(op: Span): OpStats = lock.synchronized {
    val st = stats.getOrElse(op.id, new OpStats)
    st.planMs = phases.iterator
      .filter { case (s, e, _) => s >= op.startMs - 1 && e <= op.endMs + 1 }
      .map(_._3).sum
    st
  }

  /** Length of the union of stage spans, clipped to the op's interval. */
  def stageSpanMs(op: Span, st: OpStats): Double = {
    val iv = st.stageSpans.map { case (s, e) =>
      (math.max(s.toDouble, op.startMs), math.min(e.toDouble, op.endMs))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** All spans, with each op's Spark facts, as one JSON document. */
  def write(path: java.nio.file.Path, extra: String): Unit = {
    val sb = new StringBuilder("{\"spans\": [")
    val all = lock.synchronized(spans.toSeq)
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", """ +
        s""""name": "${s.name}", "group": "${s.group}", "round": ${s.round}, """ +
        s""""start_ms": ${Json.num(s.startMs)}, "ms": ${Json.num(s.ms)}""")
      if (s.kind == "op" && enabled) {
        val st = statsFor(s)
        sb.append(s""", "jobs": ${st.jobs}, "stages": ${st.stages}, """ +
          s""""tasks": ${st.tasks}, "task_ms": ${st.taskMs}, "gc_ms": ${st.gcMs}, """ +
          s""""max_task_ms": ${st.maxTaskMs}, "plan_ms": ${Json.num(st.planMs)}, """ +
          s""""stage_span_ms": ${Json.num(stageSpanMs(s, st))}, """ +
          s""""shuffle_write_bytes": ${st.shuffleWriteBytes}, """ +
          s""""input_bytes": ${st.inputBytes}, "spill_bytes": ${st.spillBytes}""")
      }
      sb.append("}")
    }
    sb.append("],\n\"extra\": ").append(extra).append("}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  // nanoTime is monotonic; anchor it once to the epoch so spans and
  // Spark's epoch-millis event times share one clock
  private val nanoToEpochMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}
