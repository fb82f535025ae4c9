package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** The benchmark command:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--out <dir>] [--work <dir>]
  *
  * It starts one local Spark session, sets the workload up (three times;
  * the median counts), computes the workload's references, runs the closed
  * loop for `--seconds`, and prints the result as the last stdout line. With
  * `--trace 1` untraced and traced operations alternate, and the result
  * holds the per-layer metrics. The exit code is non-zero if any call or
  * check failed.
  */
object Main {
  val SetupReps = 3
  val Workloads = Seq("pipeline_commit", "raster_convert", "spatial_lookup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(Workloads.contains(name), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val outDir = new File(opts.getOrElse("out", ".bench_build/results"))
    val work = new File(opts.getOrElse("work", ".bench_build/work"))
    outDir.mkdirs(); work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    // exit explicitly: Spark's non-daemon threads would keep a JVM whose
    // main thread died alive
    val code = try run(name, seed, seconds, traced, cores, outDir, work)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally Files.delete(work)
    System.exit(code)
  }

  private def now = System.nanoTime()
  private def secsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, cores: Int,
          outDir: File, work: File): Int = {
    val t0 = now
    val spark = Harness.session(cores, new File(work, "spark").getAbsolutePath)
    val sessionS = secsSince(t0)
    val sc = spark.sparkContext
    val listener = new SpanListener
    if (traced) sc.addSparkListener(listener)
    val traceId = f"${seed}%d-${System.currentTimeMillis()}%x"
    val off = new Tracer(false, sc, traceId)

    val w: Workload = name match {
      case "pipeline_commit" => new PipelineCommit(spark, seed, work, cores)
      case "raster_convert" => new RasterConvert(spark, seed, cores)
      case _ => new SpatialLookup(spark, seed, cores)
    }
    val rec = new Recorder
    // set-up: three builds, the median counts; then the warm-up on the last
    // build's inputs. The references are computed after the warm-up (on a
    // warm JVM) and outside the clock, and the warm-up outputs are checked
    // against them then.
    val reps = (1 to SetupReps).map { r =>
      if (r > 1) w.release()
      val t = now
      rec.checkOnce("set-up")(w.build())
      secsSince(t)
    }
    val tw = now
    val warm = w.warmOps.map(op => rec.run(op, off, record = false))
    val warmS = secsSince(tw)
    val tr = now
    rec.checkOnce("references")(w.references())
    val referenceS = secsSince(tr)
    warm.foreach(_.apply())
    val setupS = sessionS + Stats.median(reps) + warmS
    System.err.println(f"[perfbench] session $sessionS%.2f s, builds ${reps.map(r => f"$r%.2f").mkString("/")} s, warm-up $warmS%.2f s, references $referenceS%.2f s")

    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var spans: Seq[Span] = Nil
    var selfTimes: Map[Int, Long] = Map.empty
    val tracer = new Tracer(true, sc, traceId)

    val jiffies0 = Harness.cpuJiffies()
    if (!traced) {
      Harness.loop(w, Seq(rec -> off), seconds, w.minSamples)
      val heap = Harness.retainedHeapMb()
      // one gated median per operation kind, in ordinal slots so every
      // workload reports the same names
      metrics("setup_s") = (setupS, "s")
      w.kinds.zipWithIndex.foreach { case (k, i) => metrics(s"op${i + 1}_ms_p50") = (rec.p50(k), "ms") }
      metrics("retained_heap_mb") = (heap, "MB")
      w.endToEnd(rec).foreach { case (n, v, u) => detail(n) = (v, u) }
    } else {
      // untraced and traced operations interleave: the ratio of their
      // medians is the tracing overhead. Each mode gets half the samples an
      // untraced run takes, so a traced run lasts about as long.
      val plain = new Recorder
      Harness.loop(w, Seq(plain -> off, rec -> tracer), seconds, (w.minSamples + 1) / 2)
      org.apache.spark.ListenerDrain(sc)
      val opSpans = tracer.spans
      val opCounts = new SparkCounts
      opSpans.foreach(s => opCounts.add(listener.get(s.id)))
      val nOps = math.max(1, opSpans.length)
      val opWallS = opSpans.map(_.durNs).sum / 1e9
      val overhead = Stats.geomean(w.kinds.map(rec.p50)) / Stats.geomean(w.kinds.map(plain.p50)) - 1
      rec.attempted += plain.attempted; rec.failed += plain.failed; rec.errors ++= plain.errors
      // probes run after the loop so they do not disturb it
      val kernels = KernelProbes.run(seed, tracer)
      val layer = w.layerProbes(rec, tracer, listener)
      org.apache.spark.ListenerDrain(sc)
      spans = tracer.spans
      selfTimes = tracer.selfTimes
      metrics ++= kernels.map { case (n, v, u) => n -> (v, u) }
      metrics ++= Seq(
        "spark.jobs_per_op" -> (opCounts.jobs.toDouble / nOps, "count"),
        "spark.stages_per_op" -> (opCounts.stages.toDouble / nOps, "count"),
        "spark.tasks_per_op" -> (opCounts.tasks.toDouble / nOps, "count"),
        "spark.shuffle_write_bytes_per_op" -> (opCounts.shuffleWriteBytes.toDouble / nOps, "B"),
        "spark.task_result_bytes_per_op" -> (opCounts.taskResultBytes.toDouble / nOps, "B"),
        "spark.executor_busy_s_per_op" -> (opCounts.executorBusyMs / 1e3 / nOps, "s"),
        "spark.busy_frac" -> (opCounts.executorBusyMs / 1e3 / (opWallS * cores), "ratio"),
        "spark.task_skew" -> (opCounts.taskSkew, "ratio"),
        "trace.overhead_frac" -> (overhead, "ratio"))
      layer.foreach { case (n, v, u) => detail(n) = (v, u) }
    }
    // host CPU stolen by other tenants during the loop: explains slow runs
    detail("host_steal_share") = (Harness.stealShare(jiffies0, Harness.cpuJiffies()), "ratio")
    detail("op_failure_ratio") = (rec.failed.toDouble / math.max(1, rec.attempted), "ratio")
    detail("reference_s") = (referenceS, "s")
    detail("session_start_s") = (sessionS, "s")
    w.kinds.foreach { k =>
      detail(s"$k.samples") = (rec.samples(k).toDouble, "count")
      if (rec.samples(k) > 0) {
        val (v, pct, n) = rec.tail(k)
        detail(s"$k.ms_p50") = (rec.p50(k), "ms")
        detail(s"$k.ms_tail") = (v, "ms")
        detail(s"$k.tail_percentile") = (pct, "%")
        detail(s"$k.tail_n") = (n.toDouble, "count")
      }
    }
    val host = hostContext(spark.version, cores, traced)
    spark.stop()

    val correct = rec.failed == 0
    val asJson = (m: collection.Map[String, (Double, String)]) =>
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> asJson(metrics))
    val base = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    val spanRows = spans.map { s =>
      val c = listener.get(s.id)
      Map("trace_id" -> s.traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> selfTimes(s.id) / 1e6,
        "spark.jobs" -> c.jobs, "spark.stages" -> c.stages, "spark.tasks" -> c.tasks,
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spark.task_result_bytes" -> c.taskResultBytes,
        "spark.executor_busy_s" -> c.executorBusyMs / 1e3,
        "spark.busy_frac" -> (if (s.durNs > 0) c.executorBusyMs / 1e3 / (s.durNs / 1e9 * cores) else 0.0),
        "spark.task_skew" -> c.taskSkew)
    }
    val layerSelfMs = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => selfTimes(s.id)).sum / 1e6 }
    val file = result ++ Seq("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "errors" -> rec.errors, "detail" -> asJson(detail),
      "setup" -> Map("session_s" -> sessionS, "build_s" -> reps, "warm_s" -> warmS,
        "reference_s" -> referenceS),
      "samples_ms" -> rec.latMs, "layer_self_ms" -> layerSelfMs, "host" -> host)
    write(new File(outDir, s"$base.json"), Json(file) + "\n")
    if (traced) write(new File(outDir, s"$base.spans.jsonl"), spanRows.map(Json(_)).mkString("", "\n", "\n"))

    (detail ++ metrics).foreach { case (k, (v, u)) => println(f"perfbench $name $k = $v%.6g $u") }
    println(Json(result))
    if (correct) 0 else 1
  }

  private def write(f: File, s: String): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try pw.write(s) finally pw.close()
  }

  /** Non-gating host context: the engine and, in a traced run, the
    * machine's per-thread ALU and DRAM speed at `cores` busy threads (the
    * two probes take about ten seconds, so untraced runs skip them).
    */
  private def hostContext(sparkVersion: String, cores: Int, probes: Boolean): Map[String, Any] = {
    import graft.tools.ScalingBench.{hwPerThreadSpeed, memPerThreadSpeed}
    val base = Map[String, Any]("nproc" -> cores,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> sparkVersion)
    if (!probes) base
    else base ++ Map("alu_per_thread" -> hwPerThreadSpeed(cores),
      "dram_words_per_thread_s" -> memPerThreadSpeed(cores))
  }
}
