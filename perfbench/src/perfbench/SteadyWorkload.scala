package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger


/** The load generator: one thread that publishes topic file `i` at
  * `t0 + i * periodNs`, whether or not the engine keeps up (an open loop).
  * Each file is written under a staging name and renamed into the topic, so
  * the source never sees a partial file.
  */
final class Generator(files: IndexedSeq[Array[String]], topic: File, staging: File,
    periodNs: Long) extends Thread("perfbench-generator") {
  val dueMs = new Array[Long](files.length)
  val publishedMs = new Array[Long](files.length)
  @volatile var t0Ms = 0L

  def name(i: Int): String = f"wire-$i%06d.txt"

  override def run(): Unit = {
    val t0Ns = System.nanoTime()
    t0Ms = System.currentTimeMillis()
    var i = 0
    while (i < files.length) {
      val dueNs = t0Ns + i * periodNs
      var wait = dueNs - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs - System.nanoTime() }
      dueMs(i) = t0Ms + (i * periodNs) / 1000000L
      val tmp = new File(staging, name(i))
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(tmp), StandardCharsets.UTF_8))
      try files(i).foreach { l => w.write(l); w.write('\n') } finally w.close()
      NioFiles.move(tmp.toPath, new File(topic, name(i)).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      publishedMs(i) = System.currentTimeMillis()
      i += 1
    }
  }
}

/** `stream_steady`: an open loop. Both reference jobs —
  * `parseEnrich(fileWireSource)` into `toParquet`, and into
  * `toEsShaped(esMapping)` — run as continuous queries
  * (`Trigger.ProcessingTime(TriggerMs)`) on one topic directory while the
  * generator publishes `FilesPerSec` files of `RowsPerFile` office rows per
  * second. Per-row work is small, so per-batch coordination sets the
  * latency. Before the load, the run times the batch stages
  * ([[BatchStages]]) `StageIterations` times, closed-loop, as
  * `office_pipeline` does.
  *
  * Each topic file is one latency sample per sink, timed from when it was
  * due to the end of the micro-batch that committed it. Set-up warms the
  * engine with a shorter run of the same loop; in each run the first
  * `WarmS` seconds of load, while the new queries settle, are not sampled.
  */
object SteadyWorkload extends Workload {
  val Rooms = 51
  val FilesPerSec = 50
  val RowsPerFile = 200
  val WarmS = 3
  val TriggerMs = 500L
  val WarmUpLoadS = 2
  val DrainTimeoutS = 60
  val StageIterations = 3

  private var files: IndexedSeq[Array[String]] = _
  private var expected: Fingerprint = _

  /** The generator's own encoding of a row in the wire layout
    * (`OfficeSchema.office` field order, comma-separated) — independent of
    * the engine's `CsvWire`, so the parse is checked against it.
    */
  private def wireLine(row: Row): String =
    (0 until row.length).map(i => row.get(i) match {
      case null => ""
      case f: java.lang.Float => java.lang.Float.toString(f)
      case v => v.toString
    }).mkString(",")

  private def fileCount(ctx: Ctx): Int = (WarmS + ctx.seconds) * FilesPerSec
  private def offered: Long = files.length.toLong * RowsPerFile

  def setup(ctx: Ctx): (Double, Double) = {
    val treeGen = BatchStages.setup(ctx)
    val rows = fileCount(ctx) * RowsPerFile
    // each room-minute is complete with probability ~0.9; leave a margin
    val minutes = (rows / (Rooms * 0.85)).toInt + 10
    var offeredRows: IndexedSeq[Row] = null
    val gens = (1 to 3).map { _ =>
      Stats.timed {
        offeredRows = new Office(ctx.seed, Rooms, minutes).expectedRows.take(rows)
        files = offeredRows.map(wireLine).grouped(RowsPerFile).map(_.toArray).toIndexedSeq
      }._2
    }
    require(files.length == fileCount(ctx) && files.forall(_.length == RowsPerFile),
      "not enough office rows for the run")
    expected = Fingerprint.of(Office.frame(ctx.spark, offeredRows))
    // Warm-up: one pass of the batch stages, then the same open loop,
    // shorter; unsampled and unchecked.
    val (_, warm) = Stats.timed {
      BatchStages.warm(ctx)
      load(ctx, "steady-warm", files.take(WarmUpLoadS * FilesPerSec))
    }
    (treeGen + Stats.median(gens), warm)
  }

  /** The batch stages' last replay (about 27 files of 1,000 rows): the
    * run's own topic, 1,200 small files, takes ~16 s to drain on one core,
    * which a traced run cannot spare under its 180 s limit.
    */
  def topic(ctx: Ctx): (String, Fingerprint, Int) =
    (ctx.path("etl-topic"), BatchStages.expected, 1)
  /** What one open-loop run left behind. */
  private final class Run(val gen: Generator, val batches: Map[String, IndexedSeq[Batch]],
      val admitted: Map[String, Map[String, Long]], val out: Map[String, File])

  /** Start both jobs on a fresh topic, publish `schedule` file by file, wait
    * until both have committed every offered row, and stop them.
    */
  private def load(ctx: Ctx, prefix: String, schedule: IndexedSeq[Array[String]]): Run = {
    val spark = ctx.spark
    val topic = ctx.fresh(s"$prefix-topic")
    val staging = ctx.fresh(s"$prefix-staging")
    topic.mkdirs(); staging.mkdirs()
    val log = new ProgressLog(spark)
    val dirs = Sinks.Names.map(s =>
      s -> (ctx.fresh(s"$prefix-$s"), ctx.fresh(s"$prefix-$s-ckpt"))).toMap
    val queries = Sinks.Names.map { s =>
      s -> Sinks.start(spark, s, topic.getAbsolutePath, dirs(s)._1.getAbsolutePath,
        dirs(s)._2.getAbsolutePath, Trigger.ProcessingTime(TriggerMs))
    }.toMap
    val gen = new Generator(schedule, topic, staging, 1000000000L / FilesPerSec)
    val offeredRows = schedule.map(_.length.toLong).sum
    try ctx.tracer.span(s"$prefix.load") {
      gen.start()
      gen.join()
      val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
      while (queries.values.exists(q => q.isActive && log.rowsCommitted(q) < offeredRows) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally queries.values.foreach(_.stop())
    log.detach()
    new Run(gen, queries.map { case (s, q) => s -> log.batches(q) },
      dirs.map { case (s, (_, ckpt)) => s -> Sinks.admittedBatch(ckpt) },
      dirs.map { case (s, (out, _)) => s -> out })
  }

  def measure(ctx: Ctx, traced: Boolean): Seq[(String, Double, String)] = {
    val stages = (1 to StageIterations).map(_ =>
      BatchStages.run(ctx, traced, OfficeWorkload.ReplayRepeats))
    val etlS = Stats.median(stages.map(_._1))
    val replayS = Stats.median(stages.flatMap(_._2))

    val run = load(ctx, "steady", files)
    val gen = run.gen
    val r = ctx.report
    val windowStart = gen.t0Ms + WarmS * 1000L
    val windowEnd = gen.t0Ms + fileCount(ctx) * 1000L / FilesPerSec
    val lastQuarter = windowEnd - (windowEnd - windowStart) / 4
    val sampled = files.indices.filter(i => gen.dueMs(i) >= windowStart)
    val due = files.indices.map(i => (gen.dueMs(i), RowsPerFile.toLong))
    val out = Seq.newBuilder[(String, Double, String)]
    out += (("etl_s", etlS, "s"))
    out += (("replay_s", replayS, "s"))
    var backlog = 0.0
    var docs = 0L
    Sinks.Names.foreach { s =>
      val batches = run.batches(s)
      // A sampled file that no committed batch admitted counts as failed.
      val d = Delivery.of(sampled.map(i => gen.name(i) -> gen.dueMs(i)),
        sampled.length.toLong * RowsPerFile, run.admitted(s), batches)
      r.ops(files.length)
      r.check(d.missing == 0, d.missing, s"$s: ${d.missing} sampled files never committed")
      val held = Sinks.check(ctx.spark, s, run.out(s).getAbsolutePath, expected, 1, r, files.length)
      if (s == "es") docs = held
      out ++= Sinks.latencyMetrics(s, d)
      // Backlog: rows due minus rows committed, at each batch end in the
      // last quarter of the run, just before that batch commits; averaged.
      Delivery.backlog(due, batches, lastQuarter, windowEnd).foreach(b => backlog = math.max(backlog, b))
      if (traced) {
        val inWindow = batches.filter(b => b.startMs >= windowStart && b.endMs <= windowEnd)
        Sinks.reportBatches(r, s, inWindow, inWindow.length.toDouble)
      }
    }
    r.note("gen_late_ms_p99",
      Stats.quantile(files.indices.map(i => (gen.publishedMs(i) - gen.dueMs(i)).toDouble), 0.99))
    if (traced) {
      BatchStages.reportLayers(ctx, etlS, replayS, StageIterations, ctx.path("steady-topic"))
      r.put("backlog_rows", backlog, "rows")
      r.put("pq.bytes_written_mib", Files.bytesUnder(run.out("pq")) / 1048576.0, "MiB")
      r.put("es.docs_written", docs.toDouble, "count")
      r.put("es.dup_ratio", docs.toDouble / offered, "ratio")
    }
    out.result()
  }
}
