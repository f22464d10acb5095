package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run settings, passed by run.py as `--key value` pairs. `reps` are the
  * set-up repetitions' input directories (the last one is measured);
  * `tiny` is the warm-up input.
  */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cpus: Int, reps: Seq[String], tiny: String,
    work: String, out: String, traceOut: String)

/** What a workload's operations produced, for the checks after timing. */
trait Workload {
  /** Warm the JIT and Spark's code generation on the tiny input. */
  def warmup(dir: String): Unit
  /** Per-repetition set-up after the inputs exist: build the structures
    * the point phase reads (serving indexes, or a grid interpolator).
    */
  def prepare(dir: String): Unit
  /** After set-up, untimed: load what the point requests and the checks
    * read from the measured input.
    */
  def ready(): Unit = ()
  /** One round of the batch operations; each op goes through `run.op`. */
  def round(run: Runner, r: Int): Unit
  /** One point request on the driver; with `check` (the first requests
    * of every client), also a deferred check of its answer.
    */
  def point(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]]
  /** How many point requests of every client are checked. */
  def checkFirst: Int = 60
  /** Checks of the batch outputs, outside every timed span; each string
    * names one wrong output.
    */
  def check(): Seq[String]
  /** Checks that need every checked point request (run after them). */
  def pointProblems(): Seq[String] = Seq.empty
  /** Extra per-workload facts for the detail record (JSON object). */
  def detail: String = "{}"
}

/** Issues a workload's operations: times them through the trace, counts
  * attempts and failures.
  */
final class Runner(val spark: SparkSession, val trace: Trace) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, String]
  val okOps = mutable.ArrayBuffer.empty[Span]

  /** One batch operation: `body` gets the open span for its layer calls.
    * A failing op is counted, named, and left out of every timing.
    */
  def op(name: String, group: String, round: Int)(body: Span => Unit): Unit = {
    attempted += 1
    try {
      val (_, s) = trace.openOp(name, group, round)(body)
      okOps += s
    } catch {
      case e: Throwable =>
        failed += 1
        failures.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        System.err.println(s"[perfbench] $name failed: $e")
    } finally spark.catalog.clearCache()
  }
}

object Main {

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cpus").toInt, kv("reps").split(",").toSeq,
      kv("tiny"), kv("work"), kv("out"), kv("trace-out"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // first-call cost: every query runs its raw pipeline, never a replay
    // of a session memo
    s.conf.set("spark.graft.memo.disabled", "true")
    s
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val probeBefore = Stats.boxProbeMs()
    val t0 = System.nanoTime()
    val spark = session(c)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val trace = new Trace(spark, c.trace)
    val run = new Runner(spark, trace)
    val w: Workload = c.workload match {
      case "suite_sf01" => new SuiteWorkload(spark, c)
      case "corpus_scaled" => new CorpusWorkload(spark, c)
      case "grid_rolling" => new GridWorkload(spark, c)
      case other => sys.error(s"unknown workload $other")
    }

    def timedMs(body: => Unit): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e6
    }
    val warmupMs0 = timedMs { w.warmup(c.tiny); spark.catalog.clearCache() }
    val indexMs = c.reps.map(d => timedMs(w.prepare(d)))
    w.ready()

    val perRound = 40
    val pool = Executors.newFixedThreadPool(c.cpus)
    /** One round of point requests: `perRound` from every client. */
    def pointRound(rngs: Array[SplittableRandom], body: (Int, Int) => Unit): Long =
      (0 until c.cpus).map { cl =>
        pool.submit(new Callable[Long] {
          def call(): Long = {
            var bad = 0L
            var i = 0
            while (i < perRound) {
              try body(cl, i)
              catch {
                case e: Throwable =>
                  bad += 1
                  System.err.println(s"[perfbench] point request failed: $e")
              }
              i += 1
            }
            bad
          }
        })
      }.map(_.get()).sum
    // the point path's JIT warm-up: 25 untimed rounds, counted as warm-up
    val warmRngs = Array.tabulate(c.cpus)(i => new SplittableRandom(-1L - i))
    val warmupMs = warmupMs0 + timedMs {
      for (_ <- 0 until 25) pointRound(warmRngs, (cl, _) => w.point(warmRngs(cl), false))
    }

    // batch phase: whole rounds until 70% of the run length has passed
    val batchStart = System.nanoTime()
    val roundMs = mutable.ArrayBuffer.empty[Double]
    var r = 0
    while (r == 0 || (System.nanoTime() - batchStart) / 1e9 < 0.7 * c.seconds) {
      val before = run.okOps.length
      val failedBefore = run.failed
      w.round(run, r)
      if (run.failed == failedBefore)
        roundMs += run.okOps.drop(before).map(_.ms).sum
      r += 1
    }

    // point phase: one closed-loop client per core, whole rounds, for the
    // remaining 30% of the run; each client's first requests are checked
    val lat = Array.fill(c.cpus)(mutable.ArrayBuffer.empty[Double])
    val checks = Array.fill(c.cpus)(mutable.ArrayBuffer.empty[() => Seq[String]])
    val rngs = Array.tabulate(c.cpus)(i => new SplittableRandom(c.seed * 1000003L + i))
    var pointFailed = 0L
    var pointAttempted = 0L
    val gc0 = gcMs()
    val pStart = trace.now()
    val pointStart = System.nanoTime()
    var pr = 0
    try {
      while (pr == 0 || (System.nanoTime() - pointStart) / 1e9 < 0.3 * c.seconds) {
        val round = pr
        pointFailed += pointRound(rngs, (cl, i) => {
          val s = System.nanoTime()
          val chk = w.point(rngs(cl), round * perRound + i < w.checkFirst)
          lat(cl) += (System.nanoTime() - s) / 1e3
          chk.foreach(checks(cl) += _)
        })
        pointAttempted += c.cpus.toLong * perRound
        pr += 1
      }
    } finally pool.shutdown()
    val pointWallS = (System.nanoTime() - pointStart) / 1e9
    val pEnd = trace.now()
    val pointGcMs = gcMs() - gc0
    if (pointFailed > 0) run.failures("point_request") = s"$pointFailed failed"

    // checks, outside every timed span
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= w.check()
    checks.iterator.flatten.foreach(f => problems ++= f())
    problems ++= w.pointProblems()
    problems.take(20).foreach(p => System.err.println(s"[perfbench] check: $p"))

    trace.drain()
    val probeAfter = Stats.boxProbeMs()
    val lats = lat.iterator.flatten.toSeq
    val allOps = run.okOps.toSeq

    val e2e = Seq(
      "batch.round_s" -> Stats.median(roundMs.toSeq) / 1e3,
      "point.p50_us" -> Stats.median(lats))

    val layers: Seq[(String, Double)] =
      if (!c.trace) Seq.empty
      else {
        val byRound = allOps.groupBy(_.round).toSeq.sortBy(_._1).map { case (_, ops) =>
          val st = ops.map(o => (o, trace.statsFor(o)))
          val ids = ops.map(_.id).toSet
          val calls = trace.callSpans.filter(cs => ids(cs.parent))
          // layer calls are named "<kind>" or "<kind>:<layer call>"
          def callMs(kind: String) =
            calls.filter(_.name.takeWhile(_ != ':') == kind).map(_.ms).sum
          def sum(f: OpStats => Double) = st.map(x => f(x._2)).sum
          val spanMs = st.map { case (o, s) => trace.stageSpanMs(o, s) }.sum
          Map(
            "batch.plan_ms" -> sum(_.planMs),
            "batch.jobs" -> sum(_.jobs.toDouble),
            "batch.stages" -> sum(_.stages.toDouble),
            "batch.tasks" -> sum(_.tasks.toDouble),
            "batch.task_ms" -> sum(_.taskMs.toDouble),
            "batch.gc_ms" -> sum(_.gcMs.toDouble),
            "batch.max_task_ms" -> st.map(_._2.maxTaskMs.toDouble).max,
            "batch.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
            "batch.input_bytes" -> sum(_.inputBytes.toDouble),
            "batch.spill_bytes" -> sum(_.spillBytes.toDouble),
            "batch.stage_span_ms" -> spanMs,
            "batch.driver_ms" -> (ops.map(_.ms).sum - spanMs),
            "batch.entry_ms" -> callMs("entry"),
            "batch.materialize_ms" -> callMs("materialize"))
        }
        val keys = byRound.head.keys.toSeq.sorted
        keys.map(k => k -> Stats.median(byRound.map(_(k)))) ++ Seq(
          "point.jobs" -> trace.jobsBetween(pStart, pEnd).toDouble,
          "point.gc_ms" -> pointGcMs.toDouble,
          "setup.session_ms" -> sessionMs,
          "setup.warmup_ms" -> warmupMs,
          "setup.index_ms" -> Stats.median(indexMs))
      }

    val detail = Json.obj(Seq(
      "rounds" -> roundMs.length.toString,
      "round_ms" -> Json.nums(roundMs.toSeq),
      "point_rounds" -> pr.toString,
      // the tail and the rate are context, not metrics: on a shared
      // virtual machine they spread too widely between runs (README)
      "point" -> Json.obj(Seq("calls" -> lats.length.toString,
        "p99_us" -> Json.num(Stats.quantile(lats, 0.99)),
        "calls_per_s" -> Json.num(lats.length / pointWallS))),
      "probe_ms" -> Json.obj(Seq("before" -> Json.num(probeBefore),
        "after" -> Json.num(probeAfter))),
      "op_p50_ms" -> Json.num(Stats.median(allOps.map(_.ms))),
      "ops_ms" -> Json.obj(allOps.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, ss) => n -> Json.num(Stats.median(ss.map(_.ms)))
      }),
      "groups_ms" -> Json.obj(allOps.groupBy(_.group).toSeq.sortBy(_._1).map {
        case (g, ss) => g -> Json.num(ss.map(_.ms).sum / math.max(1, roundMs.length))
      }),
      "workload" -> w.detail))

    val result = Json.obj(Seq(
      "attempted" -> (run.attempted + pointAttempted).toString,
      "failed" -> (run.failed + pointFailed).toString,
      "failures" -> Json.obj(run.failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "setup" -> Json.obj(Seq("session_ms" -> Json.num(sessionMs),
        "warmup_ms" -> Json.num(warmupMs), "index_ms" -> Json.nums(indexMs))),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> detail))
    if (c.trace) trace.write(java.nio.file.Paths.get(c.traceOut), detail)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(c.out), result)
    spark.stop()
  }
}
