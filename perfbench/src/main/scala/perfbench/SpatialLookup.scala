package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gf
import graft.operators.{GridInterp, KnnJoin, SpatialJoin}

/** spatial_lookup: a seeded, interleaved stream of small interactive
  * queries against a cached point table (half the points near hotspots,
  * half uniform): kNN (k = 5), IDW (k = 8) and point-in-polygon lookups
  * against the zones. Each query batch mixes dense and sparse points.
  */
final class SpatialLookup(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import spark.implicits._
  import SpatialLookup._

  val kinds = Seq("operators.KnnJoin.apply", "operators.GridInterp.idwNearestNeighbor",
    "operators.SpatialJoin.pointInPolygon")
  private val kindOf = Map("knn" -> kinds(0), "idw" -> kinds(1), "pip" -> kinds(2))

  private val zoneRows = Inputs.zones(seed, NZones)
  private val zoneRings = zoneRows.map { case (id, wkt) => id -> Reference.parsePolygonWkt(wkt) }
  private val hot = Inputs.hotspots(seed, zoneRows, NHotspots)
  private var points: DataFrame = _
  private var zones: DataFrame = _
  // driver-side copy of the points for the brute-force references
  private var xs: Array[Double] = _
  private var ys: Array[Double] = _
  private var vs: Array[Double] = _

  def build(): Unit = {
    val s = seed; val hotB = hot
    points = spark.range(0, NPoints, 1, cores * 2)
      .map { id => val (x, y, v) = Inputs.point(s, id, hotB); (id, x, y, v) }
      .toDF("id", "lon", "lat", "v").cache()
    points.count()
    zones = zoneRows.toDF("zone_id", "wkt")
      .withColumn("geom", gf.st_geomfromtext($"wkt")).select($"zone_id", $"geom").cache()
    zones.count()
  }

  def release(): Unit = Seq(points, zones).foreach { d =>
    if (d != null) d.unpersist(blocking = true)
  }

  def references(): Unit = {
    val pts = (0L until NPoints).map(id => Inputs.point(seed, id, hot))
    xs = pts.map(_._1).toArray; ys = pts.map(_._2).toArray; vs = pts.map(_._3).toArray
  }

  private def queries(i: Int, n: Int): (Seq[(Long, Double, Double)], DataFrame) = {
    val q = Inputs.queryPoints(seed, i, n, hot).zipWithIndex
      .map { case ((x, y), j) => (j.toLong, x, y) }
    (q, q.toDF("qid", "qlon", "qlat"))
  }

  private def knnOp(i: Int): Op[(DataFrame, Array[(Long, Double)])] = {
    val (q, qdf) = queries(i, KnnBatch)
    Op(kinds(0),
      () => {
        val r = KnnJoin(points, $"lon", $"lat", qdf, $"qid", $"qlon", $"qlat", KnnK, CellRes)
        (r, r.select($"qid", $"dist").as[(Long, Double)].collect())
      },
      { case (_, got) =>
        val byQ = got.groupBy(_._1)
        q.foreach { case (id, x, y) =>
          val want = Reference.knnDistances(xs, ys, x, y, KnnK)
          val have = byQ.getOrElse(id, Array.empty).map(_._2).sorted
          Harness.require(have.length == want.length &&
            have.zip(want).forall { case (a, b) => math.abs(a - b) <= 1e-12 * math.max(1.0, b) },
            s"knn: query $id distances ${have.mkString(",")}, brute force ${want.mkString(",")}")
        }
      },
      { case (r, _) => Harness.release(r) })
  }

  private def idwOp(i: Int): Op[Array[(Long, Double)]] = {
    val (q, qdf) = queries(i, IdwBatch)
    Op(kinds(1),
      () => GridInterp.idwNearestNeighbor(points, $"lon", $"lat", $"v", qdf, $"qid", $"qlon",
        $"qlat", IdwK, CellRes).select($"qid", $"idw").as[(Long, Double)].collect(),
      got => {
        val byQ = got.toMap
        Harness.require(byQ.size == q.length, s"idw: ${byQ.size} answers for ${q.length} queries")
        q.foreach { case (id, x, y) =>
          val want = Reference.idw(xs, ys, vs, x, y, IdwK)
          Harness.require(math.abs(byQ(id) - want) <= 1e-9 * math.max(1.0, math.abs(want)),
            s"idw: query $id = ${byQ(id)}, brute force $want")
        }
      })
  }

  private def pipOp(i: Int): Op[Array[(Long, Long)]] = {
    val (q, qdf) = queries(i, PipBatch)
    Op(kinds(2),
      () => SpatialJoin.pointInPolygon(qdf, $"qlon", $"qlat", zones, $"geom", PipCellRes)
        .select($"qid", $"zone_id").as[(Long, Long)].collect(),
      got => {
        val classified = q.flatMap { case (id, x, y) =>
          zoneRings.map { case (z, rings) => (Reference.classify(rings, x, y), (id, z)) }
        }
        def counts(where: Int) = classified.collect { case (`where`, k) => k -> 1 }.toMap
        val diff = Reference.pipMismatches(got.toSeq.groupBy(identity).map { case (k, v) => k -> v.size },
          counts(Reference.Inside), counts(Reference.OnBoundary))
        Harness.require(diff.isEmpty, s"pip: (query, zone) pairs ${diff.mkString(",")} differ from the ray cast")
      })
  }

  private def opOf(kind: String, i: Int): Op[_] = kind match {
    case "knn" => knnOp(i)
    case "idw" => idwOp(i)
    case _ => pipOp(i)
  }

  def warmOps: Seq[Op[_]] = (1 to WarmRounds).flatMap(r =>
    Inputs.LookupKinds.zipWithIndex.map { case (k, j) => opOf(k, -3 * r - j) })
  def op(i: Int): Op[_] = opOf(Inputs.lookupKind(seed, i), i)
  override def minSamples: Int = MinSamples

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = {
    val (tail, pct, n) = rec.tail(kinds(0))
    Seq(
      ("knn_ms_p50", rec.p50(kinds(0)), "ms"),
      ("knn_ms_tail", tail, "ms"),
      ("knn_ms_tail_percentile", pct, "%"),
      ("knn_ms_tail_n", n.toDouble, "count"),
      ("idw_ms_p50", rec.p50(kinds(1)), "ms"),
      ("pip_lookup_ms_p50", rec.p50(kinds(2)), "ms"))
  }

  def layerProbes(rec: Recorder, tr: Tracer, l: SpanListener): Seq[(String, Double, String)] = {
    // jobs per query point, from the spans the traced loop recorded
    def jobsPerQuery(kind: String, batch: Int): Double = {
      val ss = tr.spans.filter(_.name == kind)
      ss.map(s => l.get(s.id).jobs).sum.toDouble / math.max(1, ss.length * batch)
    }
    Seq(
      ("operators.knn_jobs_per_query", jobsPerQuery(kinds(0), KnnBatch), "count"),
      ("operators.idw_jobs_per_query", jobsPerQuery(kinds(1), IdwBatch), "count"),
      ("operators.pip_lookup_jobs_per_query", jobsPerQuery(kinds(2), PipBatch), "count"))
  }
}

object SpatialLookup {
  val NPoints = 200000L
  val NZones = 128
  val NHotspots = 6
  val CellRes = 8
  val PipCellRes = 7
  val KnnK = 5
  val IdwK = 8
  val KnnBatch = 16
  val IdwBatch = 16
  val PipBatch = 6
  /** Rounds of the three kinds before timing, about two seconds each. kNN
    * and IDW calls keep getting faster for their first twelve or so calls
    * (the tenth kNN call takes about 0.7 times the third). After six rounds
    * the timed calls are past the steep part of that curve, so their median
    * does not move with it.
    */
  val WarmRounds = 6
  /** kNN and IDW samples per run. One call of either varies by about
    * 20 % from the next on a shared host.
    */
  val MinSamples = 9
}
