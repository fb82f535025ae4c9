package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GeoTransform, Geom, GLine, GPolygon}
import graft.raster.{Checksum, Rasterize, RasterStrips, Warp}
import graft.raster.Dem.DStrip
import graft.raster.RasterStrips.{RasterSpec, ShapeRow, ValueStrip}

/** raster_convert: gdal_rasterize, gdal_polygonize and gdalwarp as Spark
  * operators. Set-up caches the seeded shapes and the burned band (as value
  * strips and as double strips); the timed loop cycles through
  *  - rasterize + checksum of the shapes,
  *  - 4-connected polygonize of the band,
  *  - bilinear warp of the band from EPSG:4326 to EPSG:3857.
  */
final class RasterConvert(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import spark.implicits._
  import RasterConvert._

  val kinds = Seq("raster.rasterize", "raster.polygonize", "raster.warp")

  private val gt = GeoTransform(Inputs.RasterLon0, Inputs.RasterSpanLon / W, 0,
    Inputs.RasterLat1, 0, -Inputs.RasterSpanLat / H)
  private val spec = RasterSpec(W, H, 1, gt)
  private val stripH = (H + NStrips - 1) / NStrips
  // destination grid in EPSG:3857: pixels slightly finer than the source at
  // the equator, so the bilinear kernel never downsamples
  private val dst = {
    val px = graft.expr.GeoRt.lonToMercX(Inputs.RasterSpanLon / W) * 0.95
    val x0 = graft.expr.GeoRt.lonToMercX(Inputs.RasterLon0)
    val x1 = graft.expr.GeoRt.lonToMercX(Inputs.RasterLon0 + Inputs.RasterSpanLon)
    val y1 = graft.expr.GeoRt.latToMercY(Inputs.RasterLat1)
    val y0 = graft.expr.GeoRt.latToMercY(Inputs.RasterLat1 - Inputs.RasterSpanLat)
    val dw = math.floor((x1 - x0) / px).toInt
    val dh = math.floor((y1 - y0) / px).toInt
    Warp.DstSpec(dw, dh, GeoTransform(x0, px, 0, y1, 0, -px), (dh + NStrips - 1) / NStrips)
  }

  private lazy val shapeRows: Seq[ShapeRow] =
    (Inputs.tiles(seed, TileDeg) ++ (0 until NShapes).map(i => Inputs.shape(seed, i)))
      .zipWithIndex.map { case ((ring, burn), i) =>
        ShapeRow(i.toLong, Geom.toWkb(GPolygon(Array(GLine(ring)))), Array(burn))
      }
  private var shapes: Dataset[ShapeRow] = _
  private var band: Array[Byte] = _
  private var valueStrips: Dataset[ValueStrip] = _
  private var doubleStrips: Dataset[DStrip] = _

  // references
  private var refChecksum = -1
  private var histogram: Map[Int, Long] = Map.empty
  private val samples: Seq[(Int, Int)] = (0 until NSamples).map { s =>
    (((Inputs.h(seed, 50, s) >>> 1) % dst.width).toInt, ((Inputs.h(seed, 51, s) >>> 1) % dst.height).toInt)
  }
  private var sampleRef: Map[(Int, Int), Double] = Map.empty
  private var polygonsOut = 0L

  def build(): Unit = {
    shapes = shapeRows.toDS().repartition(cores * 2).cache()
    shapes.count()
    // the band every later phase reads, burned by the distributed path
    val strips = RasterStrips.rasterize(spark, shapes, spec, Rasterize.Options(), stripH)
      .collect().sortBy(_.yOff)
    band = new Array[Byte](W * H)
    strips.foreach(s => System.arraycopy(s.data, 0, band, s.yOff * W, s.height * W))
    val b = band
    val idx = (0 until NStrips).map(i => (i, i * stripH, math.min(stripH, H - i * stripH)))
    // checkpointed, not cached: RasterStrips.polygonize unpersists the
    // Dataset it is given, which would drop a cache and make every later
    // call rebuild the strips from the driver
    valueStrips = idx.map { case (i, y, hh) =>
      ValueStrip(i, y, hh, Array.tabulate(hh * W)(k => b(y * W + k) & 0xff))
    }.toDS().repartition(cores * 2).localCheckpoint()
    doubleStrips = idx.map { case (i, y, hh) =>
      DStrip(i, y, hh, Array.tabulate(hh * W)(k => (b(y * W + k) & 0xff).toDouble))
    }.toDS().repartition(cores * 2).localCheckpoint()
  }

  def release(): Unit = {
    if (shapes != null) shapes.unpersist(blocking = true)
    Seq(valueStrips, doubleStrips).foreach(d => if (d != null) Harness.release(d))
  }

  def references(): Unit = {
    val ref = Rasterize.rasterizeByte(W, H, 1, gt,
      shapeRows.map(s => Rasterize.Shape(Geom.fromWkb(s.wkb), s.burn)), Rasterize.Options())
    refChecksum = Checksum.ofByteBand(ref, W, H, 0)
    Harness.require(java.util.Arrays.equals(ref, band),
      "raster: the set-up band differs from the single-thread rasterize")
    histogram = ref.groupBy(_ & 0xff).map { case (v, a) => v -> a.length.toLong }
    val src = band.map(v => (v & 0xff).toDouble)
    // the warp reference: Warp.warpLocal on a window around each sample
    sampleRef = samples.map { case (x, y) =>
      val win = Warp.DstSpec(1, 1, GeoTransform(dst.gt.gt0 + x * dst.gt.gt1, dst.gt.gt1, 0,
        dst.gt.gt3 + y * dst.gt.gt5, 0, dst.gt.gt5))
      (x, y) -> Warp.warpLocal(src, W, H, gt, win, Warp.mercToLonLat, Warp.Bilinear)(0)
    }.toMap
  }

  private val mpx = W.toDouble * H / 1e6
  private val dstMpx = dst.width.toDouble * dst.height / 1e6

  private def rasterizeOp: Op[Int] = Op(kinds(0),
    () => RasterStrips.checksum(
      RasterStrips.rasterize(spark, shapes, spec, Rasterize.Options(), stripH), spec, 0),
    c => Harness.require(c == refChecksum, s"rasterize: checksum $c, expected $refChecksum"))

  private def polygonizeOp: Op[org.apache.spark.sql.DataFrame] = Op(kinds(1),
    () => RasterStrips.polygonize(spark, valueStrips, W, H, 4, gt),
    { polys =>
      val g = gt
      val areas = polys.select($"value", $"wkb").as[(Int, Array[Byte])]
        .map { case (v, wkb) => (v, Reference.pixelCount(wkb, g.gt0, g.gt1, g.gt3, g.gt5)) }
        .toDF("value", "px").groupBy("value").agg(sum("px"), count(lit(1)))
        .as[(Int, Long, Long)].collect()
      polygonsOut = areas.map(_._3).sum
      val got = areas.map { case (v, n, _) => v -> n }.toMap
      Harness.require(got == histogram,
        s"polygonize: pixels per value differ from the histogram in " +
          s"${(got.keySet ++ histogram.keySet).count(v => got.get(v) != histogram.get(v))} values")
    },
    polys => Harness.release(polys))

  private def warpOp: Op[Map[(Int, Int), Double]] = {
    val samplesB = samples
    val dw = dst.width
    Op(kinds(2),
      () => Warp.warp(spark, doubleStrips, W, H, gt, dst, Warp.mercToLonLat, Warp.Bilinear)
        .flatMap { s =>
          samplesB.iterator.filter { case (_, y) => y >= s.yOff && y < s.yOff + s.height }
            .map { case (x, y) => ((x, y), s.vals((y - s.yOff) * dw + x)) }
        }.collect().toMap,
      got => samples.foreach { p =>
        Harness.require(got.contains(p) && math.abs(got(p) - sampleRef(p)) <= 1e-9,
          s"warp: pixel $p = ${got.get(p)}, warpLocal ${sampleRef(p)}")
      })
  }

  private def opOf(kind: Int): Op[_] = kind match {
    case 0 => rasterizeOp
    case 1 => polygonizeOp
    case _ => warpOp
  }

  def warmOps: Seq[Op[_]] = (1 to WarmRounds).flatMap(_ => kinds.indices.map(opOf))
  def op(i: Int): Op[_] = opOf(i % kinds.length)

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("rasterize_mpx_per_s", rec.rate(kinds(0), mpx), "Mpx/s"),
    ("polygonize_mpx_per_s", rec.rate(kinds(1), mpx), "Mpx/s"),
    ("warp_mpx_per_s", rec.rate(kinds(2), dstMpx), "Mpx/s"))

  def layerProbes(rec: Recorder, tr: Tracer, l: SpanListener): Seq[(String, Double, String)] = Seq(
    ("raster.polygons_out", polygonsOut.toDouble, "count"),
    ("raster.strips", NStrips.toDouble, "count"),
    ("raster.warp_dst_strips", ((dst.height + dst.stripHeight - 1) / dst.stripHeight).toDouble, "count"))
}

object RasterConvert {
  val W = 1200
  val H = 600
  val TileDeg = 1.0
  val NShapes = 4000
  val NStrips = 16
  val NSamples = 24
  /** Rounds of the three phases before timing (set-up has already run the
    * distributed rasterize three times).
    */
  val WarmRounds = 2
}
