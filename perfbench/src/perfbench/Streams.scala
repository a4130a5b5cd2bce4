package perfbench

import java.io.File
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.{OfficeSchema, StreamJobs}

/** One committed micro-batch, from Spark's progress event. It ends at the
  * trigger's start plus its `triggerExecution` time.
  */
final case class Batch(id: Long, startMs: Long, durations: Map[String, Long],
    rows: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  def phase(name: String): Double = durations.getOrElse(name, 0L).toDouble
}

/** Collects every query's progress events through Spark's public listener. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[Batch]]()
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // Progress without addBatch reports an idle trigger, not a batch.
    if (d.contains("addBatch"))
      byQuery.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[Batch]())
        .add(Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
  }

  def batches(q: StreamingQuery): IndexedSeq[Batch] =
    Option(byQuery.get(q.id)).map(_.asScala.toIndexedSeq.sortBy(_.id))
      .getOrElse(IndexedSeq.empty)

  def rowsCommitted(q: StreamingQuery): Long = batches(q).map(_.rows).sum

  def detach(): Unit = spark.streams.removeListener(this)
}

/** One `AvailableNow` run of a reference job over a topic: when it started
  * (epoch ms), its wall seconds, its micro-batches and which batch admitted
  * each topic file.
  */
final case class Drain(startMs: Long, seconds: Double, batches: IndexedSeq[Batch],
    admitted: Map[String, Long])

/** What one sink delivered over a measured span: for each sampled topic
  * file, the milliseconds from when it was due to the end of the micro-batch
  * that committed it; how many sampled files no committed batch admitted;
  * and the sampled rows per second, from the first due time to the last
  * commit.
  */
final case class Delivery(latencyMs: IndexedSeq[Double], missing: Int, rowsPerS: Double)

object Delivery {
  /** `due`: each sampled file's name and due time (epoch ms); `rows`: the
    * rows those files hold; `admitted`: the batch that admitted each file.
    */
  def of(due: Seq[(String, Long)], rows: Long, admitted: Map[String, Long],
      batches: IndexedSeq[Batch]): Delivery = {
    val byId = batches.map(b => b.id -> b).toMap
    val done = due.flatMap { case (f, d) =>
      admitted.get(f).flatMap(byId.get).map(b => (d, b.endMs))
    }
    val spanS = if (done.isEmpty) 0.0 else (done.map(_._2).max - due.map(_._2).min) / 1000.0
    Delivery(done.map { case (d, e) => (e - d).toDouble }.toIndexedSeq,
      due.length - done.length, if (spanS > 0) rows / spanS else 0.0)
  }

  /** Rows due but not yet committed at the end of each batch that ends in
    * `[from, to]`, just before it commits; the mean over those batches.
    * `due` holds each file's due time and rows.
    */
  def backlog(due: Seq[(Long, Long)], batches: IndexedSeq[Batch], from: Long,
      to: Long): Option[Double] = {
    var committed = 0L
    val inFlight = Seq.newBuilder[Double]
    batches.foreach { b =>
      if (b.endMs >= from && b.endMs <= to)
        inFlight += (due.collect { case (d, n) if d <= b.endMs => n }.sum - committed).toDouble
      committed += b.rows
    }
    val xs = inFlight.result()
    if (xs.isEmpty) None else Some(xs.sum / xs.length)
  }
}

/** Starting the two reference jobs and checking what they wrote. */
object Sinks {
  val Names: Seq[String] = Seq("pq", "es")

  /** Drain `topic` through one reference job with the `StreamJobs` default
    * trigger, `AvailableNow`, into `out`.
    */
  def drain(ctx: Ctx, sink: String, topic: String, out: File, ckpt: File): Drain = {
    val log = new ProgressLog(ctx.spark)
    val startMs = System.currentTimeMillis()
    val (q, s) = Stats.timed(ctx.tracer.span(s"drain.$sink") {
      val q = start(ctx.spark, sink, topic, out.getAbsolutePath, ckpt.getAbsolutePath,
        Trigger.AvailableNow())
      q.awaitTermination()
      q
    })
    val admitted = admittedBatch(ckpt)
    // The listener bus is asynchronous: wait for the progress of every
    // batch that admitted a file.
    val deadline = System.nanoTime() + 5000000000L
    while (!admitted.values.toSet.subsetOf(log.batches(q).map(_.id).toSet) &&
        System.nanoTime() < deadline)
      Thread.sleep(10)
    log.detach()
    Drain(startMs, s, log.batches(q), admitted)
  }

  /** The per-batch phase metrics of one sink's micro-batches (medians), its
    * batch count and its rows per batch.
    */
  def reportBatches(r: Report, sink: String, batches: Seq[Batch], count: Double): Unit = {
    def med(f: Batch => Double) =
      if (batches.isEmpty) Double.NaN else Stats.median(batches.map(f))
    r.put(s"$sink.batch_ms_p50", med(_.phase("triggerExecution")), "ms")
    Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
      "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
      "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
      .foreach { case (p, n) => r.put(s"$sink.$n", med(_.phase(p)), "ms") }
    r.put(s"$sink.batches", count, "count")
    r.put(s"$sink.rows_per_batch", med(_.rows.toDouble), "rows")
  }

  /** The end-to-end delivery metrics of one sink. */
  def latencyMetrics(sink: String, d: Delivery): Seq[(String, Double, String)] = {
    def q(p: Double) = if (d.latencyMs.isEmpty) Double.NaN else Stats.quantile(d.latencyMs, p)
    Seq((s"${sink}_latency_p50_ms", q(0.5), "ms"), (s"${sink}_latency_p99_ms", q(0.99), "ms"),
      (s"${sink}_rows_per_s", d.rowsPerS, "rows/s"))
  }

  def start(spark: SparkSession, sink: String, topic: String, out: String,
      ckpt: String, trigger: Trigger): StreamingQuery = {
    val enriched = StreamJobs.parseEnrich(StreamJobs.fileWireSource(spark, topic))
    sink match {
      case "pq" => StreamJobs.toParquet(enriched, out, ckpt, trigger)
      case "es" => StreamJobs.toEsShaped(enriched, out, ckpt, trigger,
        mapping = OfficeSchema.esMapping.toMap)
    }
  }

  /** How the ES-shaped documents read back: `ts_min_bignt` is mapped as a
    * keyword, so it arrives as a JSON string.
    */
  private val esDocs = StructType(OfficeSchema.enriched.fields.map { f =>
    if (f.name == "ts_min_bignt") StructField(f.name, StringType) else f
  })

  def read(spark: SparkSession, sink: String, out: String): DataFrame = sink match {
    case "pq" => spark.read.parquet(out)
    case "es" => spark.read.schema(esDocs).json(out)
      .withColumn("ts_min_bignt", col("ts_min_bignt").cast("long"))
  }

  /** Check one sink's output against the offered rows, `epochs` copies of
    * each `expected` row, in one pass: group the output by row, then compare
    * the distinct rows' fingerprint with `expected` and each row's copy count
    * with `epochs` — exactly `epochs` for the parquet sink (exactly once), at
    * least `epochs` for the ES-shaped sink (at least once). Every row must
    * also carry `if_movement = (pir > 0)`. Failures are charged to `report`
    * as `bad` operations. Returns the rows (documents) the sink holds.
    */
  def check(spark: SparkSession, sink: String, out: String,
      expected: Fingerprint, epochs: Int, report: Report, bad: Long): Long = {
    val office = OfficeSchema.office.fieldNames.map(col).toSeq
    val wrongEnrich = (col("if_movement").isNull ||
      col("if_movement") =!= when(col("pir") > 0, "movement").otherwise("no_movement"))
      .cast("long")
    val byRow = read(spark, sink, out)
      .groupBy(office: _*)
      .agg(count(lit(1)).as("copies"), sum(wrongEnrich).as("wrong"))
    val s = byRow.agg(Fingerprint.aggs.head, Fingerprint.aggs.tail ++
      Seq(sum("copies"), min("copies"), max("copies"), sum("wrong")): _*).head()
    val distinct = Fingerprint.fromRow(s, 0)
    val (total, lo, hi, wrong) =
      if (s.isNullAt(2)) (0L, 0L, 0L, 0L) else (s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5))
    val copiesOk = if (sink == "pq") lo == epochs && hi == epochs else lo >= epochs
    report.check(distinct == expected && copiesOk && wrong == 0, bad,
      s"$sink sink: distinct rows $distinct (expected $expected), copies per row " +
        s"$lo..$hi (expected $epochs), $wrong rows with wrong if_movement")
    total
  }

  /** Which micro-batch admitted each topic file, from the file source's own
    * log in the query's checkpoint (`sources/0`).
    */
  def admittedBatch(ckpt: File): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val logs = Option(new File(ckpt, "sources/0").listFiles()).getOrElse(Array.empty[File])
    logs.filter(f => !f.getName.startsWith(".")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap { l =>
        for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
          yield p.group(1).substring(p.group(1).lastIndexOf('/') + 1) -> b.group(1).toLong
      }.toList
      finally src.close()
    }.toMap
  }
}
