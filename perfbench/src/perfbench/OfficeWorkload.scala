package perfbench

import graft.pipeline.{OfficeSchema, Replay}

/** `office_pipeline`: the office pipeline as a closed loop of batch jobs.
  * Each iteration runs, one after another and each checked:
  *
  *  1. `BatchEtl.run`, then `Replay.toTopic` `ReplayRepeats` times (see
  *     [[BatchStages]]);
  *  2. a bulk drain of the set-up backlog (`Epochs` replays of the ETL
  *     output) through `parseEnrich` into `toParquet`, then into
  *     `toEsShaped`, each with the `StreamJobs` default trigger
  *     (`AvailableNow`). The whole backlog is due when a drain starts.
  *     Per-row parsing and sink encoding dominate here; batch coordination
  *     is amortised.
  */
object OfficeWorkload extends Workload {
  val Epochs = 8
  // ~110 backlog files: the file source packs them into one task per core
  val BacklogRowsPerFile = 2000
  val MinIterations = 3
  // a replay takes ~0.2 s; timing three per iteration steadies its median
  val ReplayRepeats = 3

  private def backlog(ctx: Ctx) = ctx.path("backlog-topic")
  private var backlogFiles: Seq[String] = Nil
  private def offered: Long = BatchStages.expected.rows * Epochs

  def setup(ctx: Ctx): (Double, Double) = {
    val gen = BatchStages.setup(ctx)
    // Warm-up: one unchecked pass of every stage; it also builds the backlog.
    val (_, warm) = Stats.timed {
      BatchStages.warm(ctx)
      Replay.epochs(ctx.spark.read.parquet(BatchStages.etlOut(ctx)), OfficeSchema.office,
        backlog(ctx), Epochs, BacklogRowsPerFile)
      backlogFiles = ctx.dir("backlog-topic").list().toSeq.filterNot(_.startsWith("."))
      Sinks.Names.foreach(s => drain(ctx, s))
    }
    (gen, warm)
  }

  def topic(ctx: Ctx): (String, Fingerprint, Int) = (backlog(ctx), BatchStages.expected, Epochs)

  private def drain(ctx: Ctx, sink: String): Drain =
    Sinks.drain(ctx, sink, backlog(ctx), ctx.fresh(s"drain-$sink"), ctx.fresh(s"drain-$sink-ckpt"))

  /** Drain the backlog through one sink and check what it holds; returns the
    * drain and the rows (documents) the sink holds.
    */
  private def checkedDrain(ctx: Ctx, sink: String): (Drain, Long) = {
    val d = drain(ctx, sink)
    ctx.report.ops(1)
    (d, Sinks.check(ctx.spark, sink, ctx.path(s"drain-$sink"), BatchStages.expected,
      Epochs, ctx.report, 1))
  }

  def measure(ctx: Ctx, traced: Boolean): Seq[(String, Double, String)] = {
    val etl, replay = Seq.newBuilder[Double]
    val drains = Sinks.Names.map(_ -> Seq.newBuilder[(Drain, Long)]).toMap
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinIterations || Stats.seconds(t0, System.nanoTime()) < ctx.seconds) {
      ctx.tracer.span("office_pipeline.iteration") {
        val (e, p) = BatchStages.run(ctx, traced, ReplayRepeats)
        etl += e
        replay ++= p
        Sinks.Names.foreach(s => drains(s) += checkedDrain(ctx, s))
      }
      n += 1
    }
    val r = ctx.report
    val delivered = Sinks.Names.map { s =>
      val ds = drains(s).result()
      val per = ds.map { case (d, _) =>
        Delivery.of(backlogFiles.map(_ -> d.startMs), offered, d.admitted, d.batches)
      }
      val missing = per.map(_.missing).sum
      r.check(missing == 0, per.count(_.missing > 0), s"$s: $missing backlog files never committed")
      if (traced)
        Sinks.reportBatches(r, s, ds.flatMap(_._1.batches),
          Stats.median(ds.map(_._1.batches.length.toDouble)))
      s -> Delivery(per.flatMap(_.latencyMs).toIndexedSeq, missing,
        Stats.median(per.map(_.rowsPerS)))
    }.toMap
    val etlS = Stats.median(etl.result())
    val replayS = Stats.median(replay.result())
    if (traced) {
      BatchStages.reportLayers(ctx, etlS, replayS, n, backlog(ctx))
      // The whole backlog is due at each drain's start.
      r.put("backlog_rows", Sinks.Names.flatMap { s =>
        val d = drains(s).result().last._1
        Delivery.backlog(Seq(d.startMs -> offered), d.batches, d.startMs, Long.MaxValue)
      }.reduceOption(_ max _).getOrElse(Double.NaN), "rows")
      r.put("pq.bytes_written_mib", Files.bytesUnder(ctx.dir("drain-pq")) / 1048576.0, "MiB")
      val docs = drains("es").result().last._2
      r.put("es.docs_written", docs.toDouble, "count")
      r.put("es.dup_ratio", docs.toDouble / offered, "ratio")
    }
    Seq(("etl_s", etlS, "s"), ("replay_s", replayS, "s")) ++
      Sinks.Names.flatMap(s => Sinks.latencyMetrics(s, delivered(s)))
  }
}
