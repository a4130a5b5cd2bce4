package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val work: File,
    val report: Report,
    val tracer: Tracer,
    val phases: PhaseMetrics) {

  def dir(name: String): File = new File(work, name)

  /** `dir(name)`, emptied first. */
  def fresh(name: String): File = {
    val d = dir(name)
    Files.delete(d)
    d
  }

  def path(name: String): String = dir(name).getAbsolutePath
}

/** One workload: `setup` builds its inputs and warms the engine (and returns
  * the median fixture-generation time and the warm-up time); `measure` runs
  * the timed loop for `ctx.seconds` seconds, checks every output, and returns
  * its end-to-end metrics. With `traced` it also records spans and reports
  * its per-layer metrics. `topic` is the topic its stream stage read, with
  * the rows it holds: an expected fingerprint and the copies of each row.
  */
trait Workload {
  def setup(ctx: Ctx): (Double, Double)
  def measure(ctx: Ctx, traced: Boolean): Seq[(String, Double, String)]
  def topic(ctx: Ctx): (String, Fingerprint, Int)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()
}

/** Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json> --launched-ms <epoch ms>
  * }}}
  * Writes the run's report to `--out`; `run.py` prints it.
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "office_pipeline" -> OfficeWorkload,
    "stream_steady" -> SteadyWorkload)

  val Cores = 4

  def session(cores: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val launchedMs = opts("launched-ms").toLong

    val report = new Report
    val probesStart = Provenance.start(report)
    CodegenFallbacks.install()
    val spark = session(Cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.currentTimeMillis() - launchedMs) / 1000.0 - probesStart
    val ctx = new Ctx(spark, seed, seconds, work, report, new Tracer(false), null)
    val tracer = new Tracer(traced)
    try {
      val (fixtureS, warmS) = workload.setup(ctx)
      report.note("boot_s", bootS)
      report.note("fixture_s", fixtureS)
      report.note("warmup_s", warmS)
      if (!traced) {
        workload.measure(ctx, traced = false).foreach { case (n, v, u) => report.put(n, v, u) }
        report.put("setup_s", bootS + fixtureS + warmS, "s")
        report.put("ops_ok_frac", okFrac(report), "frac")
      } else {
        // Untraced, then traced with the task listener and spans on: the
        // difference is the cost of tracing.
        val plain = workload.measure(ctx, traced = false)
        val tctx = new Ctx(spark, seed, seconds, work, report, tracer,
          new PhaseMetrics(spark.sparkContext))
        val withTrace = workload.measure(tctx, traced = true).map(m => m._1 -> m._2).toMap
        plain.foreach { case (n, v, u) =>
          report.put(s"trace.overhead.$n", withTrace(n) - v, u)
        }
        singleCore(tctx, workload)
        report.put("functions.codegen_fallbacks", CodegenFallbacks.count.toDouble, "count")
        report.put("ops_failed_frac", 1.0 - okFrac(report), "frac")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.ops(1)
        report.fail(1, s"workload aborted: $e")
    } finally {
      tracer.write(new File(work, "spans.jsonl"))
      spark.stop()
      Provenance.end(report)
      report.write(out)
    }
  }

  /** The single-threaded baseline: one checked parquet drain of the
    * workload's topic on a `local[1]` session, which replaces the run's
    * session. The JVM is already warm from the measured runs.
    */
  private def singleCore(ctx: Ctx, workload: Workload): Unit = {
    val (topic, expected, copies) = workload.topic(ctx)
    ctx.spark.stop()
    val one = session(1, ctx.work)
    one.sparkContext.setLogLevel("WARN")
    try {
      val oneCtx = new Ctx(one, ctx.seed, ctx.seconds, ctx.work, ctx.report, ctx.tracer, null)
      val out = oneCtx.fresh("drain-1core")
      val d = Sinks.drain(oneCtx, "pq", topic, out, oneCtx.fresh("drain-1core-ckpt"))
      ctx.report.ops(1)
      Sinks.check(one, "pq", out.getAbsolutePath, expected, copies, ctx.report, 1)
      ctx.report.put("drain.pq_1core_rows_per_s", expected.rows * copies / d.seconds, "rows/s")
    } finally one.stop()
  }

  private def okFrac(r: Report): Double =
    if (r.attemptedOps == 0) 0.0
    else 1.0 - r.failedOps.toDouble / r.attemptedOps
}

/** Run provenance, as BENCH_README defines it: the 1-minute load average at
  * start, the single-thread CPU probe (200M xorshift rounds) and the DRAM
  * probe (256 MiB streamed by `Cores` threads) at start and end, and the
  * `contended` / `drifted` flags derived from them.
  */
object Provenance {
  private var cpu0, mem0, load0 = 0.0

  /** Records the start probes; returns the seconds they took. */
  def start(r: Report): Double = {
    val t0 = System.nanoTime()
    load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    r.note("load_avg_start", load0)
    cpu0 = cpuProbe()
    mem0 = memProbe()
    r.note("calib_sec_start", cpu0)
    r.note("calib_mem_start", mem0)
    r.note("load_max", LoadMax)
    (System.nanoTime() - t0) / 1e9
  }

  val LoadMax = 2.0

  def end(r: Report): Unit = {
    val cpu1 = cpuProbe()
    val mem1 = memProbe()
    r.note("calib_sec_end", cpu1)
    r.note("calib_mem_end", mem1)
    r.note("load_avg_end", ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    val ratio = cpu1 / cpu0
    val memRatio = math.max(mem1 / mem0, mem0 / mem1)
    r.note("calib_ratio", ratio)
    r.note("contended", load0 > LoadMax || ratio > 1.25)
    r.note("drifted", ratio > 1.1 || memRatio > 1.5)
  }

  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    (System.nanoTime() - t0 + (x & 1)) / 1e9
  }

  def memProbe(): Double = {
    val arr = new Array[Long](32 << 20)
    java.util.Arrays.fill(arr, 0x9e3779b97f4a7c15L)
    memProbeOnce(arr)
    math.min(memProbeOnce(arr), memProbeOnce(arr))
  }

  private def memProbeOnce(arr: Array[Long]): Double = {
    val n = Main.Cores
    val sink = new AtomicLong(0L)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        val chunk = arr.length / n
        val lo = t * chunk
        val hi = if (t == n - 1) arr.length else lo + chunk
        var s = 0L
        var pass = 0
        while (pass < 4) {
          var i = lo
          while (i < hi) { s += arr(i); i += 1 }
          pass += 1
        }
        sink.addAndGet(s)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0 + (sink.get() & 1)) / 1e9
  }
}
