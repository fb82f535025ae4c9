package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: seeded inputs, order statistics, span self
  * time, and the ray-cast reference.
  */
class BenchLogicSpec extends AnyFunSuite {

  private def pageInputs(seed: Long) = {
    val zones = Inputs.zones(seed, 32)
    val hot = Inputs.hotspots(seed, zones, 4)
    (zones, hot, (0L until 50L).map(i => Inputs.hotPage(seed, i, hot)).map(p =>
      (p.url, p.warc_ts.getTime, p.text, p.lang, p.html.toSeq)))
  }
  private def rasterInputs(seed: Long) =
    (0 until 50).map(i => Inputs.shape(seed, i)).map { case (r, b) => (r.toSeq, b) }
  private def lookupInputs(seed: Long) = {
    val hot = Inputs.hotspots(seed, Inputs.zones(seed, 32), 6)
    ((0L until 200L).map(i => Inputs.point(seed, i, hot)),
      (0 until 30).map(i => Inputs.lookupKind(seed, i)),
      (0 until 10).map(i => Inputs.queryPoints(seed, i, 5, hot)))
  }

  test("the same seed gives identical inputs") {
    assert(pageInputs(7) == pageInputs(7))
    assert(rasterInputs(7) == rasterInputs(7))
    assert(lookupInputs(7) == lookupInputs(7))
  }

  test("a different seed gives different inputs") {
    assert(pageInputs(7)._3 != pageInputs(8)._3)
    assert(pageInputs(7)._2 != pageInputs(8)._2)
    assert(rasterInputs(7) != rasterInputs(8))
    assert(lookupInputs(7)._1 != lookupInputs(8)._1)
    assert(lookupInputs(7)._3 != lookupInputs(8)._3)
  }

  test("hotspot pages carry parseable mentions near a hotspot") {
    val (_, hot, pages) = pageInputs(3)
    pages.foreach { case (_, _, text, _, _) =>
      val cs = Reference.coordsOf(text)
      assert(cs.nonEmpty && cs.length <= 3, text)
      cs.foreach { case (x, y) =>
        assert(hot.exists { case (hx, hy) => math.abs(hx - x) < 3 && math.abs(hy - y) < 3 }, text)
      }
    }
  }

  test("hotspots keep their distance, and sparse queries stay inside the point table") {
    (1L to 20L).foreach { seed =>
      val hot = Inputs.hotspots(seed, Inputs.zones(seed, 128), 6)
      for (a <- hot.indices; b <- a + 1 until hot.length)
        assert(math.hypot(hot(a)._1 - hot(b)._1, hot(a)._2 - hot(b)._2) >= Inputs.HotspotSeparation,
          s"seed $seed: hotspots $a and $b")
      (0 until 20).flatMap(i => Inputs.queryPoints(seed, i, 16, hot)).zipWithIndex
        .collect { case (p, j) if j % 2 == 1 => p }
        .foreach { case (x, y) => assert(math.abs(x) < 175 && math.abs(y) < 75, s"seed $seed: ($x, $y)") }
    }
  }

  test("every block of five lookup operations holds one kNN, one IDW and three PIP") {
    val kinds = (0 until 500).map(i => Inputs.lookupKind(11, i))
    kinds.grouped(5).foreach(b => assert(b.sorted == Seq("idw", "knn", "pip", "pip", "pip")))
    assert(kinds.grouped(5).map(_.head).toSet.size == 3, "the order within blocks is seeded")
  }

  test("tail rule: the highest order statistic with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0, 100)))
    val shuffled = scala.util.Random.shuffle(xs)
    assert(Stats.tail(shuffled) == ((90.0, 90.0, 100)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((1.0, 100.0 / 11, 11)))
    assert(Stats.tail((1 to 40).map(_.toDouble), beyond = 10)._1 == 30.0)
    // ten samples or fewer: no percentile has ten beyond it; the maximum
    assert(Stats.tail((1 to 10).map(_.toDouble)) == ((10.0, 100.0, 10)))
    assert(Stats.tail(Seq(5.0)) == ((5.0, 100.0, 1)))
  }

  test("a failed operation can only make the median and tail worse") {
    val ok = Seq(10.0, 11.0, 12.0, 13.0)
    assert(Stats.median(ok :+ Double.PositiveInfinity) >= Stats.median(ok))
    assert(Stats.median(Seq(1.0, 3.0)) == 2.0)
    assert(Stats.median(Nil).isNaN)
    assert(Stats.geomean(Seq(2.0, 8.0)) == 4.0)
    assert(Stats.geomean(Seq(2.0, Double.PositiveInfinity)).isInfinite)
  }

  test("interleaved lanes each get every kind; a failed check is counted, not dropped") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val w = new Workload {
      val kinds = Seq("a", "b", "c")
      def build(): Unit = (); def release(): Unit = (); def references(): Unit = ()
      def warmOps: Seq[Op[_]] = Nil
      // operation 4 fails its check
      def op(i: Int): Op[_] = Op[Int](kinds(i % 3), () => { order += kinds(i % 3); i },
        r => Harness.require(r != 4, "wrong"))
      def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Nil
      def layerProbes(rec: Recorder, tr: Tracer, l: SpanListener): Seq[(String, Double, String)] = Nil
    }
    val off = new Tracer(false, null, "t")
    val (even, odd) = (new Recorder, new Recorder)
    Harness.loop(w, Seq(even -> off, odd -> off), seconds = 0, minSamples = 2)
    // kinds cycle with period 3 and lanes with period 2: six operations give
    // each lane every kind once, twelve give it twice
    assert(order.length == 12)
    w.kinds.foreach { k => assert(even.samples(k) == 2 && odd.samples(k) == 2) }
    assert(even.attempted == 6 && even.failed == 1 && odd.failed == 0)
    assert(even.latMs("b").exists(_.isInfinite))
  }

  test("span self time subtracts the covered part of its children once") {
    assert(Trace.selfNs(0, 100, Nil) == 100)
    assert(Trace.selfNs(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children are covered once
    assert(Trace.selfNs(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // nested and duplicated intervals
    assert(Trace.selfNs(0, 100, Seq((10L, 90L), (20L, 30L), (10L, 90L))) == 20)
    // children sticking out of the parent are clipped
    assert(Trace.selfNs(100, 200, Seq((50L, 150L), (180L, 300L))) == 30)
    // a child outside the parent covers nothing
    assert(Trace.selfNs(100, 200, Seq((0L, 50L), (200L, 250L))) == 100)
    // fully covered
    assert(Trace.selfNs(0, 100, Seq((0L, 100L))) == 0)
  }

  import Reference.{classify, Inside, Outside, OnBoundary}

  test("ray cast on a notched zone: inside, outside, notch and boundary") {
    // 0..10 x 0..10 with a notch from x 4..6 cut down to y 6 in the top edge
    val rings = Reference.parsePolygonWkt(
      "POLYGON ((0 0,10 0,10 10,6 10,6 6,4 6,4 10,0 10,0 0))")
    assert(rings.length == 1 && rings(0).length == 18)
    assert(classify(rings, 2, 2) == Inside)
    assert(classify(rings, 5, 5) == Inside, "below the notch")
    assert(classify(rings, 2, 9) == Inside, "left of the notch")
    assert(classify(rings, 8, 9) == Inside, "right of the notch")
    assert(classify(rings, 5, 8) == Outside, "inside the notch")
    assert(classify(rings, 11, 5) == Outside)
    assert(classify(rings, -1, 5) == Outside)
    assert(classify(rings, 5, 10.5) == Outside)
    assert(classify(rings, 5, 6) == OnBoundary, "on the notch floor")
    assert(classify(rings, 0, 5) == OnBoundary, "on the left edge")
    assert(classify(rings, 10, 10) == OnBoundary, "on a vertex")
    // rays through the notch corners' height must not double count
    assert(classify(rings, 1, 6) == Inside)
    assert(classify(rings, 9, 6) == Inside)
    assert(classify(rings, 5, 6.0001) == Outside)
  }

  test("ray cast honours holes") {
    val rings = Reference.parsePolygonWkt(
      "POLYGON ((0 0,10 0,10 10,0 10,0 0), (3 3,7 3,7 7,3 7,3 3))")
    assert(rings.length == 2)
    assert(classify(rings, 1, 1) == Inside)
    assert(classify(rings, 5, 5) == Outside)
    assert(classify(rings, 3, 5) == OnBoundary, "on the hole boundary")
  }

  test("ray cast agrees with the generated zones' shape") {
    val (_, wkt) = Inputs.zones(5, 1).head
    val rings = Reference.parsePolygonWkt(wkt)
    val xs = rings(0).indices.filter(_ % 2 == 0).map(rings(0)(_))
    val ys = rings(0).indices.filter(_ % 2 == 1).map(rings(0)(_))
    val (x0, x1, y0, y1) = (xs.min, xs.max, ys.min, ys.max)
    val w = x1 - x0; val h = y1 - y0
    assert(classify(rings, x0 + 0.5 * w, y0 + 0.3 * h) == Inside)
    assert(classify(rings, x0 + 0.5 * w, y1 - 0.1 * h) == Outside, "notch")
    assert(classify(rings, x0 + 0.1 * w, y1 - 0.1 * h) == Inside)
    assert(classify(rings, x0 + 0.5 * w, y0) == OnBoundary)
  }

  test("PIP matches: boundary points may go either way, nothing else may differ") {
    val inside = Map("a" -> 1, "b" -> 2)
    val boundary = Map("c" -> 2)
    assert(Reference.pipMismatches(Map("a" -> 1, "b" -> 2), inside, boundary).isEmpty)
    assert(Reference.pipMismatches(Map("a" -> 1, "b" -> 2, "c" -> 2), inside, boundary).isEmpty)
    assert(Reference.pipMismatches(Map("a" -> 1, "b" -> 1), inside, boundary) == Set("b"))
    assert(Reference.pipMismatches(Map("a" -> 1, "b" -> 2, "d" -> 1), inside, boundary) == Set("d"))
    assert(Reference.pipMismatches(Map("a" -> 1, "b" -> 2, "c" -> 3), inside, boundary) == Set("c"))
  }

  test("coordinate parser reads the three mention forms") {
    val t = "map 12.3400N 45.6700W city lat=-1.5000 lon=2.2500 geo:10.000000,-20.000000 x"
    assert(Reference.coordsOf(t).toSet ==
      Set((-45.67, 12.34), (2.25, -1.5), (-20.0, 10.0)))
    assert(Reference.coordsOf("splat=1 lon=2 id1085.5N 3E").isEmpty)
  }

  test("pixel count of a polygon: even-odd over all rings, any orientation") {
    import graft.core.{Geom, GLine, GPolygon}
    val shell = GLine(Array(0.0, 0, 4, 0, 4, 4, 0, 4, 0, 0))
    val holeCw = GLine(Array(1.0, 1, 1, 2, 2, 2, 2, 1, 1, 1))
    val holeCcw = GLine(Array(1.0, 1, 2, 1, 2, 2, 1, 2, 1, 1))
    // north-up raster: 0.5 degree pixels, origin (10, 50)
    def geo(l: GLine) = GLine(l.xy.indices.map(i =>
      if (i % 2 == 0) 10 + 0.5 * l.xy(i) else 50 - 0.5 * l.xy(i)).toArray)
    for (hole <- Seq(holeCw, holeCcw)) {
      val wkb = Geom.toWkb(GPolygon(Array(geo(shell), geo(hole))))
      assert(Reference.pixelCount(wkb, 10, 0.5, 50, -0.5) == 15)
    }
    // two squares that touch at a corner, walked as one ring
    val eight = GLine(Array(0.0, 0, 1, 0, 1, 1, 2, 1, 2, 2, 1, 2, 1, 1, 0, 1, 0, 0))
    assert(Reference.pixelCount(Geom.toWkb(GPolygon(Array(geo(eight)))), 10, 0.5, 50, -0.5) == 2)
  }

  test("brute-force kNN and IDW") {
    val xs = Array(0.0, 1, 2, 3, 10); val ys = Array(0.0, 0, 0, 0, 0)
    val vs = Array(1.0, 2, 3, 4, 5)
    assert(Reference.knnDistances(xs, ys, 0.1, 0, 2).toSeq == Seq(0.1, 0.9))
    assert(Reference.nearest(xs, ys, 1.5, 0, 2).toSet == Set(1, 2))
    assert(Reference.idw(xs, ys, vs, 1.0, 0.0, 3) == 2.0, "exact hit")
    val want = (1.0 / 0.25 + 2.0 / 0.25) / (1 / 0.25 + 1 / 0.25)
    assert(math.abs(Reference.idw(xs, ys, vs, 0.5, 0.0, 2) - want) < 1e-12)
  }
}
