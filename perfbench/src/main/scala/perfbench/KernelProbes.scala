package perfbench

import graft.core.{GeoTransform, Geom, GeomOps, GLine, GPolygon}
import graft.expr.GeoRt
import graft.index.CellGrid
import graft.raster.{Checksum, Polygonize, Rasterize, Warp}

/** Single-thread kernel probes, one per layer entry point, on small seeded
  * inputs of fixed size. Each probe runs once to warm up, then three
  * times; the median rate counts.
  */
object KernelProbes {

  /** Results of the probe loops end here, so the JIT cannot drop them. */
  @volatile var sink = 0L

  /** `body` returns a value derived from its results, kept in `sink`. */
  private def rate(tr: Tracer, name: String, work: Double)(body: => Long): Double = {
    sink = body
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sink = tr.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    work / Stats.median(secs)
  }

  def run(seed: Long, tr: Tracer): Seq[(String, Double, String)] = {
    val zoneRows = Inputs.zones(seed, 128)
    val zoneWkb = zoneRows.map { case (_, wkt) => Geom.toWkb(Geom.fromWkt(wkt)) }.toArray
    val zoneGeom = zoneWkb.map(Geom.fromWkb)
    val hot = Inputs.hotspots(seed, zoneRows, 4)
    val nPts = 200000
    val px = new Array[Double](nPts); val py = new Array[Double](nPts)
    (0 until nPts).foreach { i =>
      val (x, y, _) = Inputs.point(seed, i, hot)
      px(i) = x; py(i) = y
    }
    // each point is tested against one seeded zone
    val zi = Array.tabulate(nPts)(i => ((Inputs.h(seed, 60, i) >>> 1) % zoneWkb.length).toInt)

    val containsPoint = rate(tr, "expr.GeoRt.containsPoint", nPts) {
      var i = 0; var n = 0L
      while (i < nPts) { if (GeoRt.containsPoint(zoneWkb(zi(i)), px(i), py(i))) n += 1; i += 1 }
      n
    }
    val pipTests = rate(tr, "core.GeomOps.containsPoint", nPts) {
      var i = 0; var n = 0L
      while (i < nPts) { if (GeomOps.containsPoint(zoneGeom(zi(i)), px(i), py(i))) n += 1; i += 1 }
      n
    }
    val cellIds = rate(tr, "index.CellGrid.cellId", 10.0 * nPts) {
      var r = 0; var acc = 0L
      while (r < 10) {
        var i = 0
        while (i < nPts) { acc += CellGrid.cellId(px(i), py(i), 7); i += 1 }
        r += 1
      }
      acc
    }
    val polyfillCells = tr.span("index.CellGrid.polyfill") {
      zoneGeom.map(g => CellGrid.polyfill(g, 7).length.toLong).sum
    }

    // a 1000 x 1000 raster over a 10 x 5 degree window of the shape extent
    val w = 1000; val h = 1000
    val gt = GeoTransform(Inputs.RasterLon0, 10.0 / w, 0, Inputs.RasterLat1, 0, -5.0 / h)
    val shapes = (0 until 800).map { i =>
      val (ring, burn) = Inputs.shape(seed, i)
      // fold the shape into the window
      val sx = ring.indices.map(k => if (k % 2 == 0) Inputs.RasterLon0 + (ring(k) - Inputs.RasterLon0) / 4
        else Inputs.RasterLat1 - (Inputs.RasterLat1 - ring(k)) / 4).toArray
      (Geom.toWkb(GPolygon(Array(GLine(sx)))), burn)
    }
    val decodes = rate(tr, "core.Geom.fromWkb", 20.0 * shapes.length) {
      var r = 0; var acc = 0L
      while (r < 20) { shapes.foreach(s => acc += Geom.fromWkb(s._1).envelope.minX.toLong); r += 1 }
      acc
    }
    val shapeList = shapes.map { case (wkb, b) => Rasterize.Shape(Geom.fromWkb(wkb), Array(b)) }
    val mpx = w.toDouble * h / 1e6
    var band: Array[Byte] = null
    val burn = rate(tr, "raster.Rasterize.rasterizeByte", mpx) {
      band = Rasterize.rasterizeByte(w, h, 1, gt, shapeList, Rasterize.Options())
      band.length
    }
    val checksum = rate(tr, "raster.Checksum.partialByte", 10 * mpx) {
      var r = 0; var acc = 0L
      while (r < 10) { acc += Checksum.partialByte(band, 0, w * h, 0L); r += 1 }
      acc
    }
    val vals = band.map(_ & 0xff)
    val polygonize = rate(tr, "raster.Polygonize.polygonize", mpx) {
      Polygonize.polygonize(vals, w, h, 4, gt).length
    }
    val src = band.map(v => (v & 0xff).toDouble)
    val dpx = GeoRt.lonToMercX(10.0 / w)
    val dw = 500; val dh = 500
    val dst = Warp.DstSpec(dw, dh, GeoTransform(GeoRt.lonToMercX(Inputs.RasterLon0 + 2.0), dpx, 0,
      GeoRt.latToMercY(Inputs.RasterLat1 - 1.0), 0, -dpx))
    val warp = rate(tr, "raster.Warp.warpLocal", dw.toDouble * dh / 1e6) {
      Warp.warpLocal(src, w, h, gt, dst, Warp.mercToLonLat, Warp.Bilinear).length
    }
    Seq(
      ("expr.contains_point_per_s", containsPoint, "1/s"),
      ("index.cell_id_per_s", cellIds, "1/s"),
      ("index.polyfill_cells", polyfillCells.toDouble, "count"),
      ("core.pip_tests_per_s", pipTests, "1/s"),
      ("core.wkb_decode_per_s", decodes, "1/s"),
      ("raster.burn_kernel_mpx_per_s", burn, "Mpx/s"),
      ("raster.checksum_kernel_mpx_per_s", checksum, "Mpx/s"),
      ("raster.polygonize_kernel_mpx_per_s", polygonize, "Mpx/s"),
      ("raster.warp_kernel_mpx_per_s", warp, "Mpx/s"))
  }
}
