package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.queries.{GeoServing, Serving}

/** A driver-tier point request against one input directory, with
  * independent checks of the answers of sampled requests.
  */
trait PointService {
  /** Build the serving index for `dir` (timed as set-up). */
  def build(dir: String): Unit
  /** Load the check-side copy of the measured directory (untimed). */
  def loadReference(dir: String): Unit
  /** How many requests of every client are checked. */
  def checkFirst: Int
  /** One request; with `check`, a deferred check of its answer. */
  def request(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]]
  /** Checks over every checked request. */
  def summaryProblems(): Seq[String] = Seq.empty
  def detail: Seq[(String, String)] = Seq.empty
}

/** `GeoServing.serveRadius`: the 20 nearest event points within a seeded
  * radius of a seeded centre, checked against a brute-force haversine
  * filter over every point.
  */
final class GeoPoints(spark: SparkSession) extends PointService {
  @volatile private var dir: String = _
  // each check scans all 100k points
  val checkFirst = 10
  private var geo: Array[(Long, Double, Double)] = Array.empty

  def build(d: String): Unit = {
    GeoServing.serveRadius(spark, d, 0.0, 0.0, 100000.0)
    dir = d
  }

  /** Point coordinates follow the layout q71/q72 define on event ids. */
  def loadReference(d: String): Unit =
    geo = spark.read.parquet(s"$d/events.parquet").select("event_id")
      .collect().map { r =>
        val id = r.getLong(0)
        (id, ((id * 7919) % 3600) / 10.0 - 180.0, ((id * 104729) % 1600) / 10.0 - 80.0)
      }

  private def haversineM(lon0: Double, lat0: Double, lon: Double, lat: Double): Double = {
    val p0 = math.toRadians(lat0); val p1 = math.toRadians(lat)
    val a = math.pow(math.sin((p1 - p0) / 2), 2) +
      math.cos(p0) * math.cos(p1) * math.pow(math.sin(math.toRadians(lon - lon0) / 2), 2)
    2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  def request(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]] = {
    val lon0 = rng.nextDouble() * 360.0 - 180.0
    val lat0 = rng.nextDouble() * 140.0 - 70.0
    val radius = 200000.0 + rng.nextDouble() * 600000.0
    val near = GeoServing.serveRadius(spark, dir, lon0, lat0, radius, k = 20)
    if (check) Some(() => checkGeo(lon0, lat0, radius, near)) else None
  }

  /** Distances must match the brute-force ranking rank by rank (1e-6 m:
    * the two haversine forms differ in rounding only), and the count must
    * lie between the points surely inside and those possibly inside.
    */
  private def checkGeo(lon0: Double, lat0: Double, r: Double,
      got: Seq[(Long, Double)]): Seq[String] = {
    val tol = 1e-6
    val all = geo.iterator.map { case (id, lo, la) => (id, haversineM(lon0, lat0, lo, la)) }
      .filter(_._2 <= r + tol).toSeq.sortBy(x => (x._2, x._1))
    val sure = all.count(_._2 <= r - tol)
    val bad = mutable.ArrayBuffer.empty[String]
    if (got.length < math.min(20, sure) || got.length > math.min(20, all.length))
      bad += s"geo returned ${got.length} points, brute force has $sure..${all.length} within radius"
    got.zip(all).foreach { case ((gid, gd), (_, bd)) =>
      if (math.abs(gd - bd) > tol)
        bad += s"geo id $gid at $gd m, brute force rank distance $bd m"
    }
    if (got.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) > p(1)))
      bad += "geo results not nearest-first"
    bad.toSeq
  }
}

/** `Serving.serve`: IVF-PQ top-10 for a corpus vector moved by noise
  * (itself excluded). Checked: exact cosines for the returned ids,
  * best-first order, and mean recall@10 against brute force.
  */
final class AnnPoints(spark: SparkSession) extends PointService {
  @volatile private var dir: String = _
  val checkFirst = 60
  private var vecIds: Array[Long] = Array.empty
  private var vecs: Array[Array[Double]] = Array.empty // unit vectors
  private val recalls = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]

  /** Mean recall@10 over the checked requests must reach this; the
    * README gives the measured figure and why the floor sits here.
    */
  val RecallFloor = 0.2

  def build(d: String): Unit = {
    Serving.serve(spark, d, Array.fill(64)(1.0f))
    dir = d
  }

  def loadReference(d: String): Unit = {
    val rows = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
    vecIds = rows.map(_.getLong(0))
    vecs = rows.map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray))
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def gauss(rng: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - rng.nextDouble())) * math.cos(2 * math.Pi * rng.nextDouble())

  def request(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]] = {
    val j = rng.nextInt(vecIds.length)
    val q = vecs(j).map(x => (x + 0.05 * gauss(rng)).toFloat)
    val ann = Serving.serve(spark, dir, q, k = 10, excludeId = vecIds(j))
    if (check) Some(() => checkAnn(q, vecIds(j), ann)) else None
  }

  private def checkAnn(q: Array[Float], excl: Long, got: Seq[(Long, Double)]): Seq[String] = {
    val qu = unit(q.map(_.toDouble))
    val idx = vecIds.zipWithIndex.toMap
    val bad = mutable.ArrayBuffer.empty[String]
    if (got.length != 10) bad += s"ann returned ${got.length} ids, expected 10"
    got.foreach { case (id, cos) =>
      if (id == excl) bad += s"ann returned the excluded id $id"
      idx.get(id) match {
        case None => bad += s"ann returned unknown id $id"
        case Some(i) =>
          val exact = dot(vecs(i), qu)
          if (math.abs(exact - cos) > 1e-9) bad += s"ann id $id cos $cos != exact $exact"
      }
    }
    if (got.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
      bad += "ann results not best-first"
    val truth = vecIds.indices.filter(vecIds(_) != excl)
      .map(i => (vecIds(i), dot(vecs(i), qu))).sortBy(x => (-x._2, x._1)).take(10).map(_._1)
    recalls.add(got.map(_._1).toSet.intersect(truth.toSet).size / 10.0)
    bad.toSeq
  }

  private def meanRecall: Double = {
    val rs = recalls.asScala.map(_.doubleValue).toSeq
    if (rs.isEmpty) Double.NaN else rs.sum / rs.length
  }

  override def summaryProblems(): Seq[String] =
    if (!(meanRecall >= RecallFloor)) Seq(f"ann mean recall@10 $meanRecall%.3f below $RecallFloor")
    else Seq.empty

  override def detail: Seq[(String, String)] = Seq("ann_recall_at_10" -> Json.num(meanRecall))
}

/** Engine queries run as first calls: each result is written out, so it is
  * fully materialized and can be checked against the DuckDB oracle.
  */
abstract class QueryWorkload(spark: SparkSession, c: Conf) extends Workload {
  /** (query name, family) run in each round, in order. */
  def queries: Seq[(String, String)]

  protected val serving: PointService
  private val fns = graft.SparkEntry.queries
  protected def dataDir: String = c.reps.last
  protected val results = s"${c.work}/results"

  private def runQuery(name: String, dir: String, out: String, run: Option[(Runner, Int, String)]): Unit =
    run match {
      case Some((rn, r, fam)) =>
        rn.op(name, fam, r) { sp =>
          val df = rn.trace.call(sp, "entry")(fns(name)(spark, dir))
          rn.trace.call(sp, "materialize")(df.write.mode("overwrite").parquet(out))
        }
      case None =>
        fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
    }

  /** The warm-up queries run concurrently, one thread per query: only
    * the JIT and the code-generation caches are being filled, and the
    * session's cores would otherwise idle through each query's driver
    * time.
    */
  def warmup(dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(queries.length)
    try queries.map { case (n, _) =>
      pool.submit(new Runnable { def run(): Unit = runQuery(n, dir, "", None) })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def prepare(dir: String): Unit = serving.build(dir)

  def round(run: Runner, r: Int): Unit = queries.foreach { case (n, fam) =>
    runQuery(n, dataDir, s"$results/$n", Some((run, r, fam)))
  }

  override def checkFirst: Int = serving.checkFirst

  def point(rng: SplittableRandom, check: Boolean): Option[() => Seq[String]] =
    serving.request(rng, check)

  /** The batch outputs are checked by run.py against DuckDB; here the
    * side tables the oracle SQL reads are written next to them, exactly as
    * `graft.Verify` writes them, with the SQL itself in oracle_sql.json.
    */
  override def ready(): Unit = serving.loadReference(dataDir)

  def check(): Seq[String] = {
    val abs = new java.io.File(results).getAbsolutePath
    val names = queries.map(_._1).toSet
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names(n) }
      .map { case (n, sql) => n -> sql.replace("{VERIFY_DIR}", abs) }
    graft.SparkEntry.sideDumps
      .filter { case (key, _) => oracles.values.exists(_.contains(key)) }
      .foreach { case (key, fn) =>
        val tmp = s"$results/_tmp_$key"
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$results/$key.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.util.Fs.rmTree(new java.io.File(tmp))
        spark.catalog.clearCache()
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    Seq.empty
  }

  /** Called after the point phase: the recall floor needs every checked
    * request.
    */
  override def pointProblems(): Seq[String] = serving.summaryProblems()

  override def detail: String = Json.obj(serving.detail)
}

/** One query from every family of the suite on sf0.1-shaped tables;
  * point requests are geo radius lookups on its events.
  */
final class SuiteWorkload(spark: SparkSession, c: Conf) extends QueryWorkload(spark, c) {
  val queries: Seq[(String, String)] = Seq(
    "q24_range_join" -> "relational",
    "t1_text_stats" -> "text",
    "dd4_simhash" -> "dedup",
    "s10_mmr_diverse" -> "similarity",
    "mm9_binary_ingest" -> "multimodal",
    "g4_interp_4d" -> "grid")
  protected val serving: PointService = new GeoPoints(spark)
}

/** Near-duplicate and ANN queries on a replicated corpus; point requests
  * are IVF-PQ lookups against its index.
  */
final class CorpusWorkload(spark: SparkSession, c: Conf) extends QueryWorkload(spark, c) {
  val queries: Seq[(String, String)] = Seq(
    "dd2_shingle_jaccard" -> "dedup",
    "dd3_minhash_lsh" -> "dedup",
    "s3_ann_srp" -> "similarity",
    "s17_ivfpq_knn" -> "similarity")
  protected val serving: PointService = new AnnPoints(spark)
}
