package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: Path, val tracer: Tracer) {
  def dir(name: String): String = work.resolve(name).toString
  /** In a traced run, even operations are traced and odd ones are not,
    * so the run measures its own tracing overhead; the first operation
    * (cold in a batch workload) is untraced and left out of that
    * comparison. */
  def traced(op: Long): Boolean = tracer.on && op % 2 == 0
  /** Batch workloads run one operation, three when traced (cold,
    * traced, untraced). */
  def minOps: Int = if (tracer.on) 3 else 1
  def asOp[T](op: Long)(body: => T): T =
    if (tracer.on && !traced(op)) tracer.untraced(body)
    else tracer.span("bench.op", op)(body)
}

/** A check of the program's outputs: name, verdict, evidence. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one measured run of a workload produced. Failed operations are
  * latency samples of +Inf: they count against every percentile. */
final case class Outcome(
    opMs: Seq[Double], opTraced: Seq[Boolean], attempted: Long, failed: Long,
    writeMs: Seq[Double], bytesPerRow: Double, answerRecall: Double,
    measuredS: Double, checks: Seq[Check],
    named: Seq[(String, Double, String)], layerExtra: Map[String, Double])

trait Workload {
  def name: String
  /** The layer spans this workload opens, `<Module>.<function>`. */
  def spans: Seq[String]
  /** Untimed: make this seed's inputs. */
  def prepare(ctx: Ctx): Unit
  /** Program-side setup, run `setupRepeats` times into fresh state; its
    * median is part of `setup_s`. */
  def setup(ctx: Ctx, attempt: Int): Unit = ()
  def setupRepeats: Int = 1
  def measure(ctx: Ctx): Outcome
}

object Main {
  val workloads: Seq[Workload] =
    Seq(new BatchPipeline, new AnnServing)

  /** The bounded end-to-end metrics, reported on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_mean_ms" -> "ms", "ops_per_s" -> "1/s",
    "answer_recall" -> "ratio")
  /** Printed by name with their unit, not bounded: their run-to-run
    * spread is wider than any usable bound. */
  val printedOnly: Seq[(String, String)] = Seq(
    "op_p50_ms" -> "ms", "peak_rss_mb" -> "MB", "retained_heap_mb" -> "MB",
    "write_p50_ms" -> "ms",
    "bytes_per_row" -> "B", "error_rate" -> "ratio")

  val spanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "construct_s" -> "s", "driver_s" -> "s", "cpu_s" -> "s")
  val sparkMetrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.unattributed_s" -> "s")
  val traceMetrics: Seq[(String, String)] = Seq(
    "bench.op.self_s" -> "s", "trace.unattributed_share" -> "ratio",
    "trace.overhead_pct" -> "%")

  /** Every per-layer metric, the same set on every workload: a layer a
    * workload does not touch reads 0 there. */
  def perLayer: Seq[(String, String)] = {
    val names = workloads.flatMap(_.spans).distinct
    names.flatMap(n => spanFields.map { case (f, u) => s"$n.$f" -> u }) ++
      sparkMetrics ++ AnnServing.layerExtra ++ traceMetrics
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    if (args.contains("--list-metrics")) {
      perLayer.foreach { case (n, u) => println(s"$n $u") }
      return
    }
    val wl = workloads.find(_.name == opt.getOrElse("--workload", ""))
      .getOrElse(sys.error(s"unknown --workload; one of ${workloads.map(_.name)}"))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt.getOrElse("--trace", "0") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath
    Expected.file = opt.get("--expected")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    val t0 = System.nanoTime()
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, seed, seconds, work, tracer)
    var exit = 0
    try {
      val p0 = System.nanoTime()
      wl.prepare(ctx)
      val prepareS = (System.nanoTime() - p0) / 1e9
      val setups = (0 until wl.setupRepeats).map { i =>
        val s0 = System.nanoTime()
        wl.setup(ctx, i)
        (System.nanoTime() - s0) / 1e9
      }
      val setupS = sessionS + Stats.median(setups)
      val rss = new RssSampler
      rss.start()
      val m0 = System.nanoTime()
      val out = try wl.measure(ctx) finally rss.halt()
      val retainedMb = RssSampler.retainedHeapMb()
      val measureAndCheckS = (System.nanoTime() - m0) / 1e9
      tracer.drain()

      val e2e = Map(
        "setup_s" -> setupS,
        "peak_rss_mb" -> rss.peakMb,
        "retained_heap_mb" -> retainedMb,
        "error_rate" -> out.failed.toDouble / math.max(1L, out.attempted),
        // the mean, not the median: a median over a mix of request kinds
        // jumps between the kinds' latency clusters from run to run.
        // Failed operations count in `failed`, `error_rate` and op_p50_ms.
        "op_mean_ms" -> {
          val ok = out.opMs.filter(!_.isInfinite)
          if (ok.isEmpty) Double.NaN else ok.sum / ok.size
        },
        "op_p50_ms" -> Stats.quantile(out.opMs, 0.5),
        "ops_per_s" -> out.opMs.count(!_.isInfinite) / out.measuredS,
        "write_p50_ms" -> Stats.quantile(out.writeMs, 0.5),
        "bytes_per_row" -> out.bytesPerRow,
        "answer_recall" -> out.answerRecall)
      val correct = out.checks.nonEmpty && out.checks.forall(_.ok)

      println(s"# workload=${wl.name} seed=$seed seconds=$seconds trace=$trace " +
        s"cpus=$cpus ops=${out.opMs.size} measured_s=${out.measuredS}")
      println(f"# session_start_s=$sessionS%.4f input_generation_s=$prepareS%.4f " +
        s"program_setup_s=${setups.mkString(",")} measure_and_checks_s=$measureAndCheckS")
      out.checks.foreach(c =>
        println(s"# check ${if (c.ok) "PASS" else "FAIL"} ${c.name}: ${c.detail}"))
      (endToEnd ++ printedOnly).foreach { case (n, u) => println(s"metric $n ${e2e(n)} $u") }
      out.named.foreach { case (n, v, u) => println(s"metric $n $v $u") }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) endToEnd.map { case (n, u) => (n, e2e(n), u) }
        else {
          val layers = Layers.metrics(tracer, wl, out)
          tracer.dump(Paths.get(opt.getOrElse("--traces", work.toString))
            .resolve(s"spans-${wl.name}-$seed.jsonl"))
          perLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
        }
      if (trace) metrics.foreach { case (n, v, u) => println(s"layer $n $v $u") }
      println(Json.result(correct, out.attempted, out.failed, metrics))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"benchmark aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      tracer.close()
      val s0 = System.nanoTime()
      spark.stop()
      System.err.println(f"session stop ${(System.nanoTime() - s0) / 1e9}%.4f s")
    }
    System.exit(exit)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; +Inf samples sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Total length of the union of [start, end) intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    ivs.sortBy(_._1).foreach { case (x, y) =>
      cur = cur match {
        case Some((a, b)) if x <= b => Some((a, math.max(b, y)))
        case Some((a, b)) => total += b - a; Some((x, y))
        case None => Some((x, y))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}"
}

object RssSampler {
  /** Heap the JVM still holds after a full collection: what the program
    * keeps alive (caches, registries, broadcasts) once the work is done. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Peak resident set size of this JVM over the measured window,
  * sampled every 50 ms from /proc. */
final class RssSampler extends Thread("rss-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var peakKb = 0L
  private def rssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case NonFatal(_) =>
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1024 }
  override def run(): Unit = while (running) {
    peakKb = math.max(peakKb, rssKb())
    Thread.sleep(50)
  }
  def halt(): Unit = { running = false; join(); peakKb = math.max(peakKb, rssKb()) }
  def peakMb: Double = peakKb / 1024.0
}

/** Per-layer numbers of a traced run, from its spans and the listener's
  * task totals. Span figures are means per call; Spark figures are per
  * traced operation. */
object Layers {
  def metrics(tr: Tracer, wl: Workload, out: Outcome): Map[String, Double] = {
    import scala.collection.mutable
    val all = tr.spans.asScala.toSeq
    val measured = all.filter(_.req > 0)
    val byName = measured.groupBy(_.name)
    val m = mutable.Map.empty[String, Double]
    wl.spans.foreach { n =>
      val ss = byName.getOrElse(n, Nil) ++ all.filter(s => s.req == 0 && s.name == n)
      if (ss.nonEmpty) {
        m(s"$n.wall_s") = Stats.mean(ss.map(_.wallS))
        m(s"$n.construct_s") = Stats.mean(ss.map(_.constructNs / 1e9))
        m(s"$n.driver_s") = Stats.mean(ss.map(tr.driverS))
        m(s"$n.cpu_s") = Stats.mean(ss.map(s => tr.tasksOf(s).cpuNs / 1e9))
      }
    }
    val roots = measured.filter(_.name == "bench.op")
    val nOps = math.max(1, roots.size)
    val tot = new TaskTotals
    measured.foreach(s => tot.add(tr.tasksOf(s)))
    val jobs = measured.map(tr.jobsOf).sum
    val un = tr.unattributed
    m("spark.jobs") = jobs.toDouble / nOps
    m("spark.tasks") = (tot.tasks + un.tasks).toDouble / nOps
    m("spark.task_wait_s") = (tot.waitMs + un.waitMs) / 1e3 / nOps
    m("spark.gc_s") = (tot.gcMs + un.gcMs) / 1e3 / nOps
    m("spark.shuffle_mb") = (tot.shuffleBytes + un.shuffleBytes) / 1048576.0 / nOps
    m("spark.spill_mb") = (tot.spillBytes + un.spillBytes) / 1048576.0 / nOps
    m("spark.unattributed_s") = un.runMs / 1e3 / nOps
    m("trace.unattributed_share") =
      if (tot.runMs + un.runMs == 0) 0.0 else un.runMs.toDouble / (tot.runMs + un.runMs)
    // self time of the operation root: its wall minus its children's
    val children = measured.groupBy(_.parent)
    m("bench.op.self_s") = Stats.mean(roots.map { r =>
      val kids = children.getOrElse(r.id, Nil).map(k => (k.startNs, k.endNs))
      (r.endNs - r.startNs - Stats.covered(kids)) / 1e9
    })
    val fin = out.opMs.zip(out.opTraced).drop(1).filter(!_._1.isInfinite)
    val tr1 = fin.filter(_._2).map(_._1)
    val tr0 = fin.filter(!_._2).map(_._1)
    m("trace.overhead_pct") =
      if (tr1.isEmpty || tr0.isEmpty) 0.0
      else (Stats.median(tr1) / Stats.median(tr0) - 1.0) * 100.0
    m ++= out.layerExtra
    m.toMap
  }
}
