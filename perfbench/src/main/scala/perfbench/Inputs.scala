package perfbench

import java.sql.Timestamp
import java.util.Locale
import graft.sources.Pages

/** Seeded input generation. Every input is a pure function of the seed (and
  * an index), so the same seed gives identical inputs in any JVM and at any
  * parallelism, and the program under test only ever sees generated data.
  */
object Inputs {

  /** Independent stream of hashes: `h(seed, stream, i)`. */
  @inline def h(seed: Long, stream: Long, i: Long): Long =
    Pages.mix(Pages.mix(seed * 0x632be59bd9b4e019L + stream) ^ i)

  /** Uniform double in [0, 1) from a hash. */
  @inline def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** Standard normal from two hashes (Box-Muller). */
  def normal(a: Long, b: Long): Double =
    math.sqrt(-2.0 * math.log(1.0 - unit(a))) * math.cos(2 * math.Pi * unit(b))

  private def f4(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))

  // --- zones and hotspots ---------------------------------------------------

  /** Zone polygons as (zone_id, WKT), from the library's generator. */
  def zones(seed: Long, n: Int): Seq[(Long, String)] = Pages.zones(n, seed)

  /** Least distance between two hotspots, in degrees. Hotspots that
    * overlap would double the density of their cells for some seeds and not
    * others, and with it the cost of every dense query there.
    */
  val HotspotSeparation = 10.0

  /** Dense-cell centres: interior points of a few seeded zones, in the part
    * of each zone below its notch, as (lon, lat), each at least
    * [[HotspotSeparation]] from the others (candidates closer than that are
    * skipped, as long as the zones leave room).
    */
  def hotspots(seed: Long, zones: Seq[(Long, String)], n: Int): IndexedSeq[(Double, Double)] = {
    def candidate(i: Int) = {
      val (_, wkt) = zones(((h(seed, 1, i) >>> 1) % zones.length).toInt)
      val ring = Reference.parsePolygonWkt(wkt).head
      val xs = ring.indices.filter(_ % 2 == 0).map(ring(_))
      val ys = ring.indices.filter(_ % 2 == 1).map(ring(_))
      (xs.min + (xs.max - xs.min) * (0.3 + 0.4 * unit(h(seed, 2, i))),
        ys.min + (ys.max - ys.min) * (0.15 + 0.3 * unit(h(seed, 3, i))))
    }
    val hot = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var i = 0
    while (hot.length < n) {
      val (x, y) = candidate(i)
      if (i >= 64 * n || hot.forall { case (hx, hy) => math.hypot(hx - x, hy - y) >= HotspotSeparation })
        hot += ((x, y))
      i += 1
    }
    hot.toIndexedSeq
  }

  /** A point near hotspot `k`: normal jitter of `sigma` degrees. */
  def nearHotspot(hot: IndexedSeq[(Double, Double)], a: Long, b: Long, c: Long,
                  sigma: Double): (Double, Double) = {
    val (cx, cy) = hot(((a >>> 1) % hot.length).toInt)
    (cx + sigma * normal(b, c), cy + sigma * normal(c, b))
  }

  /** A point uniform over lon [-175, 175) and lat [-75, 75): five degrees
    * inside the extent of the lookup points and away from the antimeridian.
    */
  def uniform(a: Long, b: Long): (Double, Double) =
    (unit(a) * 350.0 - 175.0, unit(b) * 150.0 - 75.0)

  // --- pipeline_commit: hotspot pages ---------------------------------------

  private val words = Array("river", "market", "harbour", "station", "square",
    "bridge", "museum", "park", "district", "festival", "street", "tower")

  /** Hotspot page `id`: one to three `lat= lon=` mentions near a hotspot, at
    * four decimals, in the page schema of [[Pages.Page]].
    */
  def hotPage(seed: Long, id: Long, hot: IndexedSeq[(Double, Double)]): Pages.Page = {
    val h0 = h(seed, 10, id)
    val url = s"https://hot-${h0 & 0xfff}.example.net/h/$id"
    val ts = new Timestamp(1577836800000L + (h0 >>> 24) % (86400L * 365 * 1000))
    val sb = new StringBuilder(160)
    val nWords = 6 + (h(seed, 11, id) % 10).abs.toInt
    (0 until nWords).foreach { i =>
      if (i > 0) sb.append(' ')
      sb.append(words(((h(seed, 12, id * 64 + i) >>> 1) % words.length).toInt))
    }
    val nMentions = 1 + ((h(seed, 13, id) >>> 1) % 3).toInt
    (0 until nMentions).foreach { m =>
      val j = id * 4 + m
      val (lon, lat) = nearHotspot(hot, h(seed, 14, j), h(seed, 15, j), h(seed, 16, j), 0.25)
      sb.append(" lat=").append(f4(lat)).append(" lon=").append(f4(lon))
    }
    val text = sb.toString
    Pages.Page(url, ts, s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"), text, "en")
  }

  // --- raster_convert: shapes -----------------------------------------------

  /** Raster extent in EPSG:4326: lon [-20, 20], lat [10, 30]. */
  val RasterLon0 = -20.0
  val RasterLat1 = 30.0
  val RasterSpanLon = 40.0
  val RasterSpanLat = 20.0

  /** Base tiles: a grid of `tileDeg` squares over the raster extent, each
    * with a seeded burn value, burned before the shapes. They split the
    * background, so no polygon collects thousands of holes.
    */
  def tiles(seed: Long, tileDeg: Double): Seq[(Array[Double], Double)] = {
    val nx = math.round(RasterSpanLon / tileDeg).toInt
    val ny = math.round(RasterSpanLat / tileDeg).toInt
    for (j <- 0 until ny; i <- 0 until nx) yield {
      val x0 = RasterLon0 + i * tileDeg; val x1 = x0 + tileDeg
      val y1 = RasterLat1 - j * tileDeg; val y0 = y1 - tileDeg
      (Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0),
        1.0 + (h(seed, 27, j * nx + i) >>> 1) % 255)
    }
  }

  /** Shape `i`: a star-shaped polygon (5 to 9 vertices at increasing angles)
    * inside the raster extent, as a closed ring (x0 y0 x1 y1 ...), and its
    * burn value in 1..255.
    */
  def shape(seed: Long, i: Long): (Array[Double], Double) = {
    val cx = RasterLon0 + 0.5 + unit(h(seed, 20, i)) * (RasterSpanLon - 1.0)
    val cy = RasterLat1 - 0.5 - unit(h(seed, 21, i)) * (RasterSpanLat - 1.0)
    val r = 0.04 + 0.3 * unit(h(seed, 22, i))
    val nv = 5 + ((h(seed, 23, i) >>> 1) % 5).toInt
    val ring = new Array[Double](2 * (nv + 1))
    var v = 0
    while (v < nv) {
      val a = 2 * math.Pi * (v + 0.8 * unit(h(seed, 24, i * 16 + v))) / nv
      val rr = r * (0.45 + 0.55 * unit(h(seed, 25, i * 16 + v)))
      ring(2 * v) = cx + rr * math.cos(a)
      ring(2 * v + 1) = cy + rr * math.sin(a)
      v += 1
    }
    ring(2 * nv) = ring(0); ring(2 * nv + 1) = ring(1)
    (ring, 1.0 + (h(seed, 26, i) >>> 1) % 255)
  }

  // --- spatial_lookup: points and the operation stream ----------------------

  /** Point `id` of the lookup table, with a value in [0, 100): even ids
    * near a hotspot; odd ids uniform, on a jittered 500 x 200 grid over
    * lon [-180, 180) and lat [-80, 80), so the sparse density is the same
    * everywhere and a sparse query needs the same number of kNN ring rounds
    * wherever it falls.
    */
  def point(seed: Long, id: Long, hot: IndexedSeq[(Double, Double)]): (Double, Double, Double) = {
    val (x, y) =
      if (id % 2 == 0) nearHotspot(hot, h(seed, 31, id), h(seed, 32, id), h(seed, 33, id), 0.4)
      else {
        val g = id / 2
        val (cw, ch) = (360.0 / 500, 160.0 / 200)
        (-180.0 + (g % 500 + 0.35 + 0.3 * unit(h(seed, 34, id))) * cw,
          -80.0 + ((g / 500) % 200 + 0.35 + 0.3 * unit(h(seed, 35, id))) * ch)
      }
    (x, y, 100.0 * unit(h(seed, 36, id)))
  }

  val LookupKinds: IndexedSeq[String] = Vector("knn", "idw", "pip")

  /** Kind of lookup operation `i`: each block of five holds one kNN, one
    * IDW and three point-in-polygon lookups, in a seeded order.
    */
  def lookupKind(seed: Long, i: Long): String = {
    val block = Array(0, 1, 2, 2, 2)
    // seeded Fisher-Yates shuffle of the block
    var k = block.length - 1
    while (k > 0) {
      val j = ((h(seed, 40, (i / 5) * 8 + k) >>> 1) % (k + 1)).toInt
      val t = block(k); block(k) = block(j); block(j) = t
      k -= 1
    }
    LookupKinds(block((i % 5).toInt))
  }

  /** Query points of lookup operation `i`: even positions dense (near a
    * hotspot), odd positions sparse (uniform), so every batch of a kind
    * holds the same mix. Sparse points stay clear of the point table's
    * edges, where fewer neighbours make a query take an extra ring round:
    * so every IDW batch takes one round and every kNN batch two, and a
    * call's work does not depend on where its sparse points fall.
    */
  def queryPoints(seed: Long, i: Long, n: Int,
                  hot: IndexedSeq[(Double, Double)]): IndexedSeq[(Double, Double)] =
    (0 until n).map { q =>
      val j = i * 64 + q
      if (q % 2 == 0) nearHotspot(hot, h(seed, 42, j), h(seed, 43, j), h(seed, 44, j), 0.4)
      else uniform(h(seed, 45, j), h(seed, 46, j))
    }
}
