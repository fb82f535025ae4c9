package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** Correctness references owned by the benchmark. None of them calls the
  * library's geometry, expression or operator code.
  */
object Reference {

  // --- geometry ------------------------------------------------------------

  /** Rings of a `POLYGON ((x y, ...), (...))` WKT, each as x0 y0 x1 y1 .... */
  def parsePolygonWkt(wkt: String): Array[Array[Double]] = {
    val body = wkt.trim
    require(body.toUpperCase.startsWith("POLYGON"), s"not a polygon: $wkt")
    val inner = body.substring(body.indexOf('(') + 1, body.lastIndexOf(')'))
    inner.split("\\)").map(_.replace("(", "").trim.stripPrefix(",").trim)
      .filter(_.nonEmpty)
      .map(_.split(",").flatMap(_.trim.split("\\s+").map(_.toDouble)))
  }

  /** Point on a ring segment (exact for the axis-aligned zone edges). */
  def onBoundary(ring: Array[Double], x: Double, y: Double): Boolean = {
    var i = 0
    while (i + 3 < ring.length) {
      val x1 = ring(i); val y1 = ring(i + 1); val x2 = ring(i + 2); val y2 = ring(i + 3)
      if (x >= math.min(x1, x2) && x <= math.max(x1, x2) &&
          y >= math.min(y1, y2) && y <= math.max(y1, y2) &&
          (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) == 0.0) return true
      i += 2
    }
    false
  }

  /** Even-odd ray cast; the answer for a point on the ring is arbitrary. */
  def inRing(ring: Array[Double], x: Double, y: Double): Boolean = {
    var inside = false
    var i = 0
    while (i + 3 < ring.length) {
      val x1 = ring(i); val y1 = ring(i + 1); val x2 = ring(i + 2); val y2 = ring(i + 3)
      if ((y1 > y) != (y2 > y) && x < x1 + (y - y1) * (x2 - x1) / (y2 - y1))
        inside = !inside
      i += 2
    }
    inside
  }

  val Outside = 0
  val Inside = 1
  /** On a ring: the library follows GDAL's point-in-polygon fast path,
    * where boundary points may fall either way, so both answers pass.
    */
  val OnBoundary = 2

  /** Where a point lies relative to a polygon given as rings (shell first). */
  def classify(rings: Array[Array[Double]], x: Double, y: Double): Int =
    if (rings.exists(onBoundary(_, x, y))) OnBoundary
    else if (inRing(rings(0), x, y) && !rings.drop(1).exists(inRing(_, x, y))) Inside
    else Outside

  /** Point-in-polygon matches against a reference: every strictly-inside
    * key must appear as often as the reference has it; a key whose point is
    * on a zone boundary may appear up to that often; no other key may appear.
    * Returns the keys that break this.
    */
  def pipMismatches[K](got: Map[K, Int], inside: Map[K, Int], boundary: Map[K, Int]): Set[K] =
    (got.keySet ++ inside.keySet).filter { k =>
      val g = got.getOrElse(k, 0)
      inside.get(k) match {
        case Some(n) => g != n
        case None => g > boundary.getOrElse(k, 0)
      }
    }

  /** Rings of a WKB polygon or multipolygon (2D), each as x0 y0 x1 y1 .... */
  def wkbRings(wkb: Array[Byte]): Seq[Array[Double]] = {
    val buf = ByteBuffer.wrap(wkb)
    val out = Seq.newBuilder[Array[Double]]
    def geom(b: ByteBuffer): Unit = {
      b.order(if (b.get() == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      b.getInt match {
        case 3 =>
          (0 until b.getInt).foreach { _ =>
            val ring = new Array[Double](2 * b.getInt)
            var i = 0
            while (i < ring.length) { ring(i) = b.getDouble; i += 1 }
            out += ring
          }
        case 6 => (0 until b.getInt).foreach(_ => geom(b))
        case t => throw new IllegalArgumentException(s"unexpected WKB type $t")
      }
    }
    geom(buf)
    out.result()
  }

  /** Pixels of a polygonized polygon: the number of pixel centres inside
    * its rings under the even-odd rule. The rings run along pixel edges, so
    * the count is exact, and rings that touch themselves or each other at a
    * vertex are counted correctly. `x0, dx, y0, dy` is the raster's north-up
    * geotransform.
    */
  def pixelCount(wkb: Array[Byte], x0: Double, dx: Double, y0: Double, dy: Double): Long = {
    // vertical edges cross the centre lines of the rows they span
    val crossings = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    wkbRings(wkb).foreach { ring =>
      var i = 0
      while (i + 3 < ring.length) {
        val ax = math.round((ring(i) - x0) / dx).toInt
        val ay = math.round((ring(i + 1) - y0) / dy).toInt
        val bx = math.round((ring(i + 2) - x0) / dx).toInt
        val by = math.round((ring(i + 3) - y0) / dy).toInt
        if (ax == bx && ay != by) {
          var row = math.min(ay, by)
          while (row < math.max(ay, by)) {
            crossings.getOrElseUpdate(row, scala.collection.mutable.ArrayBuffer.empty) += ax
            row += 1
          }
        } else require(ay == by, s"edge ($ax,$ay)-($bx,$by) is not on the pixel grid")
        i += 2
      }
    }
    crossings.valuesIterator.map { xs =>
      val s = xs.sorted
      require(s.length % 2 == 0, "odd number of crossings")
      s.grouped(2).map(p => (p(1) - p(0)).toLong).sum
    }.sum
  }

  // --- text ----------------------------------------------------------------

  private val Num = "([-+]?\\d{1,3}(?:\\.\\d+)?)"
  private val Hemi = s"(?<![\\w.])$Num([NS])\\s+$Num([EW])(?!\\w)".r
  private val LatLon = s"(?<![\\w.])lat=$Num\\s+lon=$Num".r
  private val GeoUri = s"(?<![\\w.])geo:$Num,$Num".r

  /** Coordinate mentions of a page text, as (lon, lat), in the three forms
    * the page generators write.
    */
  def coordsOf(text: String): Seq[(Double, Double)] = {
    val a = Hemi.findAllMatchIn(text).map { m =>
      val lat = m.group(1).toDouble; val lon = m.group(3).toDouble
      (if (m.group(4) == "W") -lon else lon, if (m.group(2) == "S") -lat else lat)
    }.toSeq
    val b = LatLon.findAllMatchIn(text).map(m => (m.group(2).toDouble, m.group(1).toDouble)).toSeq
    val c = GeoUri.findAllMatchIn(text).map(m => (m.group(2).toDouble, m.group(1).toDouble)).toSeq
    a ++ b ++ c
  }

  // --- nearest neighbours ---------------------------------------------------

  /** Indices of the k nearest points, by (distance, lon, lat). */
  def nearest(xs: Array[Double], ys: Array[Double], qx: Double, qy: Double,
              k: Int): Array[Int] = {
    val d = new Array[Double](xs.length)
    var i = 0
    while (i < xs.length) {
      val dx = xs(i) - qx; val dy = ys(i) - qy
      d(i) = math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    // partial selection: keep the k best in a small sorted buffer
    val best = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ord = Ordering.by[Int, (Double, Double, Double)](j => (d(j), xs(j), ys(j)))
    i = 0
    while (i < xs.length) {
      if (best.length < k || ord.lt(i, best.last)) {
        val pos = best.indexWhere(j => ord.lt(i, j)) match { case -1 => best.length; case p => p }
        best.insert(pos, i)
        if (best.length > k) best.remove(k)
      }
      i += 1
    }
    best.toArray
  }

  /** k-nearest distances, ascending. */
  def knnDistances(xs: Array[Double], ys: Array[Double], qx: Double, qy: Double,
                   k: Int): Array[Double] =
    nearest(xs, ys, qx, qy, k).map { j =>
      val dx = xs(j) - qx; val dy = ys(j) - qy
      math.sqrt(dx * dx + dy * dy)
    }

  /** Inverse-distance weighting (power 2) over the k nearest points, as
    * gdal_grid's invdistnn: an exact hit (squared distance below 1e-13)
    * takes the largest exact-hit value.
    */
  def idw(xs: Array[Double], ys: Array[Double], vs: Array[Double], qx: Double, qy: Double,
          k: Int): Double = {
    val nn = nearest(xs, ys, qx, qy, k)
    var exact = Double.NaN
    var nom = 0.0; var den = 0.0
    nn.foreach { j =>
      val dx = xs(j) - qx; val dy = ys(j) - qy
      val d = math.sqrt(dx * dx + dy * dy)
      val r2 = d * d
      if (r2 < 1e-13) exact = if (exact.isNaN) vs(j) else math.max(exact, vs(j))
      else { nom += vs(j) / r2; den += 1.0 / r2 }
    }
    if (!exact.isNaN) exact else if (den == 0.0) 0.0 else nom / den
  }
}
