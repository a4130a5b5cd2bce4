package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** In-memory spans around the benchmark's calls into each engine layer:
  * name, start, end and parent, written out once when the run ends. With
  * tracing off `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  private val epochNs = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0 - epochNs, System.nanoTime() - epochNs)
        open = open.tail
      }
    }

  def write(f: File): Unit = if (enabled) {
    val w = new PrintWriter(f, "UTF-8")
    try done.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_us": ${s.startNs / 1000}, "end_us": ${s.endNs / 1000}}""")
    } finally w.close()
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
}

/** Task metrics summed per phase. The phase is a local property set on the
  * thread that submits the jobs; stages inherit it, so a task's metrics land
  * on the phase that submitted its stage even when the listener bus delivers
  * them late.
  */
final class PhaseMetrics(sc: SparkContext) extends SparkListener {
  final class Sums {
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val gcMs = new AtomicLong
  }
  private val Key = "perfbench.phase"
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, Sums]()
  private val events = new AtomicLong

  sc.addSparkListener(this)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    p.foreach(stagePhase.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val phase = stagePhase.get(e.stageId)
    val m = e.taskMetrics
    if (phase != null && m != null) {
      val s = sums.computeIfAbsent(phase, _ => new Sums)
      s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spill.addAndGet(m.diskBytesSpilled)
      s.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Run `body` with its jobs attributed to `phase`. */
  def within[T](phase: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, phase)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Sums for `phase`, after the listener bus has gone quiet. */
  def of(phase: String): Sums = {
    settle()
    sums.computeIfAbsent(phase, _ => new Sums)
  }

  private def settle(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 3000000000L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(150)
    }
  }
}

/** Counts whole-stage and expression codegen fallbacks: Spark logs one
  * warning each time generated code fails to compile and it drops to
  * interpreted execution, and otherwise carries on silently.
  */
object CodegenFallbacks {
  private val n = new AtomicLong

  def count: Long = n.get()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Whole-stage codegen disabled") ||
            msg.contains("falling back to interpreter mode")) n.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }
}
