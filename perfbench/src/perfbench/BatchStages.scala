package perfbench

import org.apache.spark.sql.DataFrame

import graft.pipeline.{BatchEtl, CsvWire, OfficeSchema, Replay, RoomReader, StreamJobs}

/** Stages 1 and 3 of the office pipeline, which both workloads run in a
  * closed loop on the same seeded room tree (`Rooms` × `Minutes` × 5
  * sensors): `BatchEtl.run` (the default pivot plan) into parquet, then
  * `Replay.toTopic` of that parquet, one or more times. Each call is
  * checked against the generator's own expected rows.
  */
object BatchStages {
  val Rooms = 51
  val Minutes = 600
  val RowsPerFile = 1000

  private var _expected: Fingerprint = _

  /** The ETL's expected output, known after `setup`. */
  def expected: Fingerprint = _expected

  def tree(ctx: Ctx): String = ctx.path("rooms")
  def etlOut(ctx: Ctx): String = ctx.path("etl-out")

  /** Write the room tree three times (the last stays); returns the median
    * generation seconds.
    */
  def setup(ctx: Ctx): Double = {
    var office: Office = null
    val gens = (1 to 3).map { _ =>
      Stats.timed {
        val dir = ctx.fresh("rooms")
        office = new Office(ctx.seed, Rooms, Minutes)
        office.writeTree(dir)
      }._2
    }
    _expected = Fingerprint.of(Office.frame(ctx.spark, office.expectedRows))
    Stats.median(gens)
  }

  /** One unchecked pass of both stages, to warm the engine. */
  def warm(ctx: Ctx): Unit = {
    val out = ctx.fresh("etl-out").getAbsolutePath
    BatchEtl.run(ctx.spark, tree(ctx), out)
    Replay.toTopic(ctx.spark.read.parquet(out), OfficeSchema.office,
      ctx.fresh("etl-topic").getAbsolutePath, RowsPerFile)
  }

  /** Stage 1 once and stage 3 `replays` times, each checked; returns the
    * ETL seconds and each replay's seconds.
    */
  def run(ctx: Ctx, traced: Boolean, replays: Int): (Double, Seq[Double]) = {
    val spark = ctx.spark
    val out = ctx.fresh("etl-out").getAbsolutePath
    val tr = ctx.tracer
    val r = ctx.report
    val (_, etlS) = Stats.timed(tr.span("batchetl.run") {
      if (traced) ctx.phases.within("batchetl")(BatchEtl.run(spark, tree(ctx), out))
      else BatchEtl.run(spark, tree(ctx), out)
    })
    r.ops(1)
    val got = Fingerprint.of(spark.read.parquet(out))
    r.check(got == expected, 1, s"ETL output $got != expected $expected")

    val replayS = (1 to replays).map { _ =>
      val topic = ctx.fresh("etl-topic").getAbsolutePath
      val (files, s) = Stats.timed(tr.span("replay.to_topic") {
        Replay.toTopic(spark.read.parquet(out), OfficeSchema.office, topic, RowsPerFile)
      })
      r.ops(1)
      val replayed = Fingerprint.of(CsvWire.decode(spark.read.text(topic), OfficeSchema.office))
      r.check(files == replayFiles && replayed == expected, 1,
        s"replay wrote $files files ($replayed), expected $replayFiles ($expected)")
      s
    }
    (etlS, replayS)
  }

  private def replayFiles: Int = ((expected.rows + RowsPerFile - 1) / RowsPerFile).toInt

  /** The decomposed calls of stages 1, 3 and 4, each timed once into the
    * noop sink (once keeps a traced run well under 180 s), reported with
    * the task metrics of the traced `BatchEtl.run`s. `parseTopic` is the
    * workload's topic, read as a batch for `parseenrich.batch_s`.
    */
  def reportLayers(ctx: Ctx, etlS: Double, replayS: Double, etlRuns: Int,
      parseTopic: String): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val r = ctx.report
    def noop(name: String)(df: => DataFrame): Double =
      Stats.timed(tr.span(name)(df.write.format("noop").mode("overwrite").save()))._2
    val csvFloor = noop("roomreader.csv_floor") {
      spark.read.option("header", "true").schema(OfficeSchema.sensorCsv)
        .csv(s"${tree(ctx)}/*/*.csv")
    }
    val scan = noop("roomreader.raw_scan")(RoomReader.rawScan(spark, tree(ctx)))
    val pivot = noop("roomreader.pivot_plan")(RoomReader.pivotPlan(spark, tree(ctx)))
    val encode = Stats.timed(tr.span("replay.encode_collect") {
      CsvWire.encode(spark.read.parquet(etlOut(ctx)), OfficeSchema.office).collect()
    })._2
    val parse = noop("parseenrich.batch")(StreamJobs.parseEnrich(spark.read.text(parseTopic)))

    r.put("roomreader.csv_floor_s", csvFloor, "s")
    r.put("roomreader.raw_scan_s", scan, "s")
    r.put("roomreader.pivot_s", pivot - scan, "s")
    r.put("batchetl.write_s", etlS - pivot, "s")
    val m = ctx.phases.of("batchetl")
    r.put("roomreader.shuffle_write_mib", m.shuffleWrite.get / 1048576.0 / etlRuns, "MiB")
    r.put("roomreader.spill_mib", m.spill.get / 1048576.0 / etlRuns, "MiB")
    r.put("roomreader.gc_s", m.gcMs.get / 1000.0 / etlRuns, "s")
    r.put("replay.encode_collect_s", encode, "s")
    r.put("replay.file_write_s", replayS - encode, "s")
    r.put("replay.files", replayFiles.toDouble, "count")
    r.put("parseenrich.batch_s", parse, "s")
  }
}
