package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gf
import graft.jobs.Pipeline
import graft.operators.SpatialJoin
import graft.sources.{PageTable, Pages}

/** pipeline_commit: the flagship job. Set-up writes a seeded page table
  * (library pages plus hotspot pages) with `PageTable.write`. The timed loop
  * cycles through
  *  - `Pipeline.runOnPath` into a fresh output directory (the commit),
  *  - `Pipeline.transform` of the page table, aggregated to a checksum,
  *  - a scan of the page table (`PageTable.read` plus a projection).
  */
final class PipelineCommit(spark: SparkSession, seed: Long, work: File,
                           cores: Int) extends Workload {
  import spark.implicits._
  import PipelineCommit._

  val kinds = Seq("jobs.Pipeline.runOnPath", "jobs.Pipeline.transform", "sources.PageTable.read")

  private val zoneRows = Inputs.zones(seed, NZones)
  private val zoneRings = zoneRows.map { case (id, wkt) => id -> Reference.parsePolygonWkt(wkt) }
  private val hot = Inputs.hotspots(seed, zoneRows, NHotspots)
  private val pagesPath = new File(work, "pages").getPath
  private var zones: DataFrame = _
  private def cfg(out: String) = Pipeline.Config(outDir = out, nBatches = NBatches)

  // references
  private var refRows = 0L
  private var refChecksum = 0L
  private var refPages = 0L
  private var refPageHash = 0L
  private var sampleInside: Map[(String, Double, Double, Long), Int] = Map.empty
  private var sampleBoundary: Map[(String, Double, Double, Long), Int] = Map.empty
  // output of the committed runs
  private var outBytes = 0L
  private var outRows = 0L
  private var lineageRecords = 0
  private var outputFiles = 0

  /** Library pages plus hotspot pages, with crawl times folded into a
    * `CrawlDays`-day window: a crawl snapshot spans days, not the year the
    * generators spread it over, and the table has one directory per day.
    */
  private def pages(): DataFrame = {
    val hotB = hot
    val s = seed
    val hotPages = spark.range(0, NHotPages, 1, cores * 2)
      .map(id => Inputs.hotPage(s, id, hotB)).toDF()
    Pages.synth(spark, NBasePages, seed, cores * 2).unionByName(hotPages)
      .withColumn("warc_ts", timestamp_seconds(lit(CrawlStart) +
        pmod(unix_seconds($"warc_ts"), lit(CrawlDays * 86400L))))
  }

  def build(): Unit = {
    zones = zoneRows.toDF("zone_id", "wkt")
      .withColumn("geom", gf.st_geomfromtext($"wkt")).select($"zone_id", $"geom").cache()
    zones.count()
    PageTable.write(pages(), pagesPath)
  }

  def release(): Unit = {
    if (zones != null) zones.unpersist(blocking = true)
    Files.delete(new File(pagesPath))
  }

  /** Row count and order-insensitive hash of (url, text). */
  private def pageDigest(pages: DataFrame): (Long, Long) = {
    val r = pages.agg(count(lit(1)), coalesce(bit_xor(xxhash64($"url", $"text")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Row count and order-insensitive checksum of the transformed rows. */
  private def transformDigest(): (Long, Long) = {
    val r = Pipeline.transform(PageTable.read(spark, pagesPath), zones, cfg("")).agg(count(lit(1)),
      coalesce(bit_xor(xxhash64($"url", $"cell", $"zone_id")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def references(): Unit = {
    // the page digest comes from the generator, not from the written table
    val (n, h) = pageDigest(pages())
    refPages = n; refPageHash = h
    val (rows, sum) = transformDigest()
    refRows = rows; refChecksum = sum
    val input = PageTable.read(spark, pagesPath)
    // ray-cast reference over the mentions of a seeded sample of pages
    val sample = input.filter(sampled(seed)).select($"url", $"text")
      .as[(String, String)].collect()
    val classified = sample.toSeq.flatMap { case (url, text) =>
      Reference.coordsOf(text).flatMap { case (lon, lat) =>
        zoneRings.map { case (z, rings) => (Reference.classify(rings, lon, lat), (url, lon, lat, z)) }
      }
    }
    def counts(where: Int) = classified.collect { case (`where`, k) => k }
      .groupBy(identity).map { case (k, v) => k -> v.size }
    sampleInside = counts(Reference.Inside)
    sampleBoundary = counts(Reference.OnBoundary)
    Harness.require(sampleInside.nonEmpty, "pipeline: ray-cast sample matched no zone")
  }

  private def runOnce(out: String): Seq[Pipeline.BatchResult] =
    Pipeline.runOnPath(spark, pagesPath, zones, cfg(out))

  private def check(out: String, rs: Seq[Pipeline.BatchResult], deep: Boolean): Unit = {
    val rows = rs.map(_.outRows).sum
    val xor = rs.map(_.checksum).foldLeft(0L)(_ ^ _)
    Harness.require(rs.map(_.inPages).sum == refPages,
      s"pipeline: ${rs.map(_.inPages).sum} input pages, expected $refPages")
    Harness.require(rows == refRows, s"pipeline: $rows output rows, expected $refRows")
    Harness.require(xor == refChecksum, s"pipeline: checksum $xor, expected $refChecksum")
    val lineage = Files.list(new File(out, "_lineage")).count(_.getName.endsWith(".json"))
    Harness.require(lineage == cfg(out).nBatches,
      s"pipeline: $lineage batch lineage records, expected ${cfg(out).nBatches}")
    lineageRecords = Files.walk(new File(out, "_lineage")).count(_.getName.endsWith(".json"))
    outputFiles = Files.walk(new File(out)).count(_.getName.endsWith(".parquet"))
    if (deep) {
      val output = Pipeline.output(spark, cfg(out))
      val input = PageTable.read(spark, pagesPath)
      val changed = output.select($"url", $"text").except(input.select($"url", $"text")).count()
      Harness.require(changed == 0, s"pipeline: $changed (url, text) pairs not byte-identical to the input")
      val got = output.filter(sampled(seed))
        .select($"url", $"lon", $"lat", $"zone_id").as[(String, Double, Double, Long)]
        .collect().toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      val diff = Reference.pipMismatches(got, sampleInside, sampleBoundary)
      Harness.require(diff.isEmpty,
        s"pipeline: sampled PIP matches differ from the ray-cast reference: " +
          diff.take(3).map(k => s"$k: ${got.getOrElse(k, 0)} vs ${sampleInside.getOrElse(k, 0)}").mkString("; "))
    }
    outBytes += Files.sizeOf(new File(out))
    outRows += rows
  }

  private def commitOp(tag: String, deep: Boolean): Op[Seq[Pipeline.BatchResult]] = {
    val out = new File(work, s"out-$tag").getPath
    Op(kinds(0), () => runOnce(out),
      rs => check(out, rs, deep), _ => Files.delete(new File(out)))
  }

  private def transformOp: Op[(Long, Long)] = Op(kinds(1), () => transformDigest(),
    { case (rows, sum) =>
      Harness.require(rows == refRows && sum == refChecksum,
        s"transform: $rows rows, checksum $sum; expected $refRows, $refChecksum")
    })

  private def scanOp: Op[(Long, Long)] = Op(kinds(2),
    () => pageDigest(PageTable.read(spark, pagesPath).select($"url", $"text")),
    { case (n, h) =>
      Harness.require(n == refPages && h == refPageHash,
        s"page scan: $n pages, hash $h; the generator gave $refPages, $refPageHash")
    })

  // deep checks (text identity, ray-cast sample) on the first warm-up
  // commit and on every fourth timed commit
  def warmOps: Seq[Op[_]] = (1 to WarmRounds).flatMap(r =>
    Seq(commitOp(s"warm$r", deep = r == 1), transformOp, scanOp))

  def op(i: Int): Op[_] = i % 3 match {
    case 0 => commitOp(i.toString, deep = i / 3 % 4 == 3)
    case 1 => transformOp
    case _ => scanOp
  }

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("pipeline_pages_per_s", rec.rate(kinds(0), refPages.toDouble), "pages/s"),
    ("pipeline_out_bytes_per_row", outBytes.toDouble / math.max(1L, outRows), "B/row"))

  def layerProbes(rec: Recorder, tr: Tracer, l: SpanListener): Seq[(String, Double, String)] = {
    def timed[T](name: String)(body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = tr.span(name)(body)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val cached = PageTable.read(spark, pagesPath).select($"url", $"text").cache()
    val nPages = cached.count()
    val (extractS, _) = timed("expr.geo_extract") {
      cached.agg(sum(size(gf.geo_extract($"text")))).head()
    }
    val coords = cached.select($"url",
      explode(gf.geo_extract($"text")).as("c")).select($"url", $"c.lon".as("lon"), $"c.lat".as("lat"))
      .cache()
    val nCoords = coords.count()
    val (cellS, _) = timed("expr.cell_of") {
      coords.agg(sum(gf.cell_of($"lon", $"lat", CellRes) % 7)).head()
    }
    val (joinS, matched) = timed("operators.SpatialJoin.pointInPolygon") {
      SpatialJoin.pointInPolygon(coords, $"lon", $"lat", zones, $"geom", CellRes).count()
    }
    val candidates = coords.withColumn("__c", gf.cell_of($"lon", $"lat", CellRes))
      .join(zones.select(explode(gf.cells_covering($"geom", CellRes)).as("__c")), "__c").count()
    coords.unpersist(blocking = true); cached.unpersist(blocking = true)
    Seq(
      ("sources.page_scan_s", rec.p50(kinds(2)) / 1e3, "s"),
      ("expr.geo_extract_rows_per_s", nPages / extractS, "rows/s"),
      ("expr.cell_of_rows_per_s", nCoords / cellS, "rows/s"),
      ("operators.pip_join_s", joinS, "s"),
      ("operators.pip_hit_ratio", matched.toDouble / math.max(1L, candidates), "ratio"),
      ("jobs.transform_s", rec.p50(kinds(1)) / 1e3, "s"),
      ("jobs.run_s", rec.p50(kinds(0)) / 1e3, "s"),
      ("jobs.lineage_records", lineageRecords.toDouble, "count"),
      ("jobs.output_files", outputFiles.toDouble, "count"))
  }
}

object PipelineCommit {
  val NBasePages = 30000L
  val NHotPages = 10000L // a quarter of all pages sit in dense cells
  /** Rounds of the three kinds before timing. One round leaves the first
    * three timed commits 1.2-1.5 times slower than the later ones, which
    * puts the median of seven at the knee of the warm-up curve.
    */
  val WarmRounds = 2
  val CrawlDays = 14
  val CrawlStart = 1577836800L // 2020-01-01T00:00:00Z
  val NZones = 128
  val NHotspots = 4
  val CellRes = 7
  val NBatches = 1

  /** Seeded page sample for the ray-cast reference (about 1 page in 97). */
  def sampled(seed: Long) = pmod(xxhash64(col("url"), lit(seed)), lit(97)) === 0
}
