package perfbench

import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.api.GridFields
import graft.interp.{BroadcastInterpolator, JoinInterpolator}
import graft.source.{GridCatalog, GridReader}

/** The paper's consumer on a reference-layout directory: one
  * `<ts>.parquet` file per 10-minute timestep. Each request discovers the
  * files, fetches a window ending at the newest one, builds the
  * interpolator (`GridFields.fromDataFrame`) and evaluates seeded points
  * through the broadcast UDF and the corner join; before each request a
  * new timestep lands. The point phase evaluates the driver kernel.
  * Layout and fields match datagen.py.
  */
final class GridWorkload(spark: SparkSession, c: Conf) extends Workload {
  import GridWorkload._

  private val dir = new java.io.File(c.reps.last).getAbsolutePath
  // timesteps present in `dir`: the initial files plus those landed here
  private val written = mutable.ArrayBuffer.empty[Long]
  private var request = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  @volatile private var pointFields: GridFields = _
  private var pointHull: Array[(Double, Double)] = Array.empty

  private def timesteps(d: String): Seq[Long] =
    GridCatalog.discover(spark, d).map(_.ts.getEpochSecond)

  /** Request number `req` on `d`: window op, broadcast op, join op. */
  private def doRequest(d: String, req: Int, run: Option[(Runner, Int)]): Unit = {
    val rng = new SplittableRandom(c.seed * 7919L + req)
    val nFiles = 2 + rng.nextInt(6)
    val hLo = 250000.0 + rng.nextDouble() * 130000.0
    val hHi = math.min(400000.0, hLo + 10000.0 + rng.nextDouble() * 30000.0)
    val pts = Array.tabulate(Points)(_ => Array(rng.nextDouble(), rng.nextDouble(),
      rng.nextDouble(), rng.nextDouble()))

    def op(name: String)(body: Span => Unit): Unit = run match {
      case Some((rn, r)) => rn.op(name, "grid", r)(body)
      case None => body(Span(0, -1, "op", name, "grid", -1, 0, 0))
    }
    def call[A](sp: Span, name: String)(body: => A): A = run match {
      case Some((rn, _)) => rn.trace.call(sp, name)(body)
      case None => body
    }

    var kd: GridFields = null
    var window: org.apache.spark.sql.DataFrame = null
    var newest = 0L
    op("grid_window") { sp =>
      val files = call(sp, "entry:discover")(GridCatalog.discover(spark, d))
      val end = files.last.ts
      newest = end.getEpochSecond
      val start = end.minusSeconds(Cadence * (nFiles - 1))
      window = call(sp, "entry:fetch")(new GridReader(spark, d).fetch(start, end, hLo, hHi))
      kd = call(sp, "materialize:build")(GridFields.fromDataFrame(window))
    }
    if (kd == null) return
    // outside the timed spans: the window's shape against the axes
    val axes = kd.grid("T").axes
    if (run.isDefined) {
      val expectFiles = written.count(t => t >= newest - Cadence * (nFiles - 1) && t <= newest)
      val planes = H.count(h => h >= H.filter(_ <= hLo).max && h <= H.filter(_ >= hHi).min)
      val expectRows = expectFiles.toLong * Lon.length * Lat.length * planes
      val rows = axes.map(_.length.toLong).product
      if (rows != expectRows)
        problems += s"request $req: window holds $rows cells, the snapped window has $expectRows"
      if (axes(0).last != written.max.toDouble)
        problems += s"request $req: window ends at ${axes(0).last}, newest file is ${written.max}"
    }
    // seeded points inside the window's hull
    val hull = axes.map(a => (a.head, a.last))
    val coords = pts.map(p => Array.tabulate(4)(i => hull(i)._1 + p(i) * (hull(i)._2 - hull(i)._1)))
    // an RDD-backed frame, one slice per core: a local relation would let
    // Catalyst fold the broadcast UDF into a driver-side projection, and
    // that tier would then run no Spark job at all
    val ptsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(coords.toSeq.zipWithIndex.map { case (p, i) =>
        Row(i.toLong, p(0), p(1), p(2), p(3)) }, c.cpus),
      StructType(Seq(StructField("id", LongType)) ++
        Seq("time", "lon", "lat", "h").map(StructField(_, DoubleType))))

    var bcast: Array[Row] = Array.empty
    op("grid_broadcast") { sp =>
      val df = call(sp, "entry:plan") {
        val bi = BroadcastInterpolator(spark, kd.grid("T"))
        ptsDf.select(col("id"), bi(col("time"), col("lon"), col("lat"), col("h")).as("v"))
      }
      bcast = call(sp, "materialize:collect")(df.collect())
    }
    var joined: Array[Row] = Array.empty
    op("grid_join") { sp =>
      val df = call(sp, "entry:plan")(JoinInterpolator.interpolate(ptsDf, "id",
        window.withColumn("time", col("time").cast("double")), axes,
        Seq("T[K]", "n[1/cm^3]")))
      joined = call(sp, "materialize:collect")(df.collect())
    }
    if (run.isDefined) {
      checkValues(req, "broadcast", coords, bcast.map(r => (r.getLong(0), r.getDouble(1))), temperature)
      checkValues(req, "join T", coords, joined.map(r => (r.getLong(0), r.getDouble(1))), temperature)
      checkValues(req, "join n", coords, joined.map(r => (r.getLong(0), r.getDouble(2))), density)
    }
  }

  private def checkValues(req: Int, tier: String, coords: Array[Array[Double]],
      got: Array[(Long, Double)], f: Array[Double] => Double): Unit = {
    if (got.length != coords.length)
      problems += s"request $req $tier: ${got.length} values for ${coords.length} points"
    val bad = got.count { case (id, v) => !close(v, f(coords(id.toInt))) }
    if (bad > 0) problems += s"request $req $tier: $bad values off the analytic field"
  }

  /** A new timestep lands: written beside the directory, then moved in
    * under its timestamp name in one rename.
    */
  private def land(): Unit = {
    val t = written.max + Cadence
    val rows = for (lo <- Lon; la <- Lat; h <- H) yield {
      val p = Array(t.toDouble, lo, la, h)
      Row(lo, la, h, temperature(p), density(p))
    }
    val schema = StructType(Seq("lon", "lat", "h", "T[K]", "n[1/cm^3]")
      .map(StructField(_, DoubleType)))
    val staging = s"${c.work}/landing"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val name = GridCatalog.formatTs(Instant.ofEpochSecond(t)) + ".parquet"
    java.nio.file.Files.move(java.nio.file.Paths.get(staging), java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    written += t
  }

  /** Two requests on the tiny directory, concurrently (see
    * [[QueryWorkload.warmup]]).
    */
  def warmup(d: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try Seq(-1, -2).map { i =>
      pool.submit(new Runnable { def run(): Unit = doRequest(d, i, None) })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** The point phase's interpolator: the newest three files, 300-350 km. */
  def prepare(d: String): Unit = {
    val files = GridCatalog.discover(spark, d)
    val end = files.last.ts
    val kd = GridFields.fromDataFrame(new GridReader(spark, d)
      .fetch(end.minusSeconds(2 * Cadence), end, 300000.0, 350000.0))
    pointFields = kd
    pointHull = kd.grid("T").axes.map(a => (a.head, a.last))
  }

  def round(run: Runner, r: Int): Unit = {
    if (written.isEmpty) written ++= timesteps(dir)
    land()
    doRequest(dir, request, Some((run, r)))
    request += 1
  }

  def point(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]] = {
    val pts = Array.fill(PointBatch)(pointHull.map { case (lo, hi) => lo + rng.nextDouble() * (hi - lo) })
    val t = pointFields.eval("T", pts)
    val n = pointFields.eval("n", pts)
    if (!check) None
    else Some(() => {
      val bad = pts.indices.count(i => !close(t(i), temperature(pts(i))) || !close(n(i), density(pts(i))))
      if (bad > 0) Seq(s"driver kernel: $bad of ${pts.length} points off the analytic field") else Seq.empty
    })
  }

  def check(): Seq[String] = problems.toSeq

  override def detail: String =
    Json.obj(Seq("files_landed" -> (written.length - Initial).toString,
      "requests" -> request.toString))
}

object GridWorkload {
  val Lon: Array[Double] = (0 to 36).map(_ * 10.0).toArray
  val Lat: Array[Double] = (-8 to 8).map(_ * 10.0).toArray
  val H: Array[Double] = (0 to 30).map(250000.0 + _ * 5000.0).toArray
  val Cadence = 600L
  /** Timesteps datagen.py writes before the run. */
  val Initial = 36
  /** Points per broadcast and join evaluation. */
  val Points = 5000
  /** Points per driver-kernel request. */
  val PointBatch = 64

  def temperature(p: Array[Double]): Double =
    180.0 + 1e-6 * p(0) + 0.05 * p(1) + 0.1 * p(2) + 1e-4 * p(3)
  def density(p: Array[Double]): Double =
    1e4 + 2.0 * p(1) - 3.0 * p(2) + 0.01 * p(3) + 1e-5 * p(0)

  /** Interpolation of a linear field is exact up to rounding. */
  def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))
}
