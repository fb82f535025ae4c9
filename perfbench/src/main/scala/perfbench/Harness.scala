package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One operation of a closed loop: `run` is the timed call; `check`
  * compares its output with a reference outside the timed region and
  * throws on a mismatch; `cleanup` releases what the call produced.
  */
final case class Op[R](kind: String, run: () => R,
                       check: R => Unit, cleanup: R => Unit = (_: R) => ())

/** What a workload gives the harness. */
trait Workload {
  /** Operation kinds, in report order. */
  def kinds: Seq[String]
  /** One set-up repetition: generate inputs and cache them. */
  def build(): Unit
  /** Drop everything `build` made, so it can run again. */
  def release(): Unit
  /** Compute the correctness references (not part of set-up time). */
  def references(): Unit
  /** Operations run before timing starts, to warm up the JIT and codegen. */
  def warmOps: Seq[Op[_]]
  /** Samples of each kind the timed loop collects at least (in each lane of
    * a traced run), so a median never rests on a few calls when operations
    * run slow.
    */
  def minSamples: Int = 7
  /** Operation `i` of the timed loop. */
  def op(i: Int): Op[_]
  /** The workload's end-to-end figures, by name: (value, unit). */
  def endToEnd(rec: Recorder): Seq[(String, Double, String)]
  /** Traced run only: per-layer figures of this workload, from the traced
    * lane's recorder and spans and from probes of its own.
    */
  def layerProbes(rec: Recorder, tr: Tracer, listener: SpanListener): Seq[(String, Double, String)]
}

/** Latencies and failures of a closed loop. A failed call or a failed
  * check counts as a failure and enters the latency sample as +Infinity, so
  * it is never dropped from an aggregate and can only make it worse.
  */
final class Recorder {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Runs, checks and records one operation. */
  def exec[R](op: Op[R], tr: Tracer): Unit = run(op, tr).apply()

  /** Runs one operation now; the returned function checks its output,
    * releases it and records the outcome. Warm-up operations are checked
    * later, once the references exist, and their latency is not recorded.
    */
  def run[R](op: Op[R], tr: Tracer, record: Boolean = true): () => Unit = {
    val t0 = System.nanoTime()
    val out = try Right(tr.span(op.kind)(op.run()))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[perfbench] ${op.kind} $ms%.1f ms")
    () => {
      attempted += 1
      val verdict = out.flatMap { r =>
        try { op.check(r); Right(r) } catch { case e: Throwable => Left(e) }
      }
      out.foreach(r => try op.cleanup(r) catch { case _: Throwable => () })
      verdict match {
        case Right(_) =>
          if (record) latMs.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += ms
        case Left(e) =>
          fail(op.kind, e)
          if (record)
            latMs.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += Double.PositiveInfinity
      }
    }
  }

  /** A check that is not tied to one timed call (set-up, references). */
  def checkOnce(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case e: Throwable => fail(what, e) }
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.length < 5) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    System.err.println(s"[perfbench] $what FAILED: $e")
  }

  def p50(kind: String): Double = Stats.median(latMs.getOrElse(kind, Nil).toSeq)
  def tail(kind: String): (Double, Double, Int) = Stats.tail(latMs(kind).toSeq)
  def samples(kind: String): Int = latMs.get(kind).map(_.length).getOrElse(0)

  /** Work units per second of median latency, for one kind. */
  def rate(kind: String, unitsPerOp: Double): Double = unitsPerOp / (p50(kind) / 1000)
}

object Harness {

  /** Closed loop: one client, next operation only after the previous one
    * has finished and been checked, until `seconds` have passed and every
    * lane has `minSamples` samples of every operation kind. Operation `i`
    * runs in lane `i % lanes.length`; with an untraced and a traced lane
    * the two modes interleave, so neither runs earlier in the warm-up.
    */
  def loop(w: Workload, lanes: Seq[(Recorder, Tracer)], seconds: Double,
           minSamples: Int): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    def short = lanes.exists { case (rec, _) => w.kinds.exists(rec.samples(_) < minSamples) }
    var i = 0
    while (System.nanoTime() < end || short) {
      val (rec, tr) = lanes(i % lanes.length)
      rec.exec(w.op(i), tr)
      i += 1
    }
  }

  /** Drop the cached blocks behind a checkpointed Dataset. */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.logical.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Heap retained after full collections, in MB: the sum over heap pools
    * of their use right after the last collection, so allocations made
    * after it do not count. The pauses between collections let Spark's
    * context cleaner drop the blocks of broadcasts and shuffles that the
    * first collection found unreachable.
    */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    pools.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Jiffies of the machine's CPU counters (user .. steal), if readable. */
  def cpuJiffies(): Option[Array[Long]] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    }.toOption

  /** Share of CPU time the hypervisor stole between two readings. */
  def stealShare(a: Option[Array[Long]], b: Option[Array[Long]]): Double =
    (for (x <- a; y <- b) yield {
      val d = x.zip(y).map { case (p, q) => q - p }
      if (d.sum > 0) d(7).toDouble / d.sum else 0.0
    }).getOrElse(Double.NaN)

  def require(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new AssertionError(msg)

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      // bounded status history, so retained heap does not grow with the
      // number of operations a run happens to complete
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.gf.registerAll(s)
    s
  }
}

/** Small file helpers for the benchmark's scratch directory. */
object Files {
  def list(d: File): Seq[File] = Option(d.listFiles).map(_.toSeq).getOrElse(Nil)
  def walk(d: File): Seq[File] =
    if (d.isDirectory) list(d).flatMap(walk) else if (d.exists) Seq(d) else Nil
  def sizeOf(d: File): Long = walk(d).map(_.length).sum
  def delete(d: File): Unit = {
    if (d.isDirectory) list(d).foreach(delete)
    d.delete()
  }
}
