package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Spans around the benchmark's calls into each engine layer, plus Spark
  * task counts attributed to the span that was open when each job started.
  *
  * Disabled (the untraced run), `span` just runs its body, `force` is the
  * identity and `aside` skips its body, so the untraced run executes exactly
  * the pipeline's own calls. Enabled, spans are kept in memory and folded
  * into per-name figures by [[Tracer.finish]] at the end of each iteration.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private final case class Span(id: Int, name: String, parent: Int,
                                start: Long, var end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var asideNanos = 0L
  private val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val s = Span(id, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Materializes a relation at a span boundary, so the work that produces
    * it lands in the span that asked for it.
    */
  def force(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint() else df

  /** Traced-run-only bookkeeping (counter queries). Its wall time is kept
    * out of the traced iteration time that `trace.overhead` compares.
    */
  def aside(body: => Unit): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      body
      asideNanos += System.nanoTime() - t0
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def begin(): Unit = {
    spans.clear(); counters.clear(); asideNanos = 0L; open = Nil
  }

  /** Folds the iteration's spans and task events into per-name figures:
    * `<name>.self_s`, `.shuffle_write_mb`, `.spill_mb`, `.task_skew`,
    * `.jobs`, plus the counters recorded with [[count]].
    */
  def finish(): IterationTrace = {
    org.apache.spark.perfbenchshim.ListenerBusShim.drain(spark.sparkContext)
    val children = spans.groupBy(_.parent)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      val childNs = children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      add(s"${s.name}.self_s", (s.end - s.start - childNs) / 1e9)
      val t = listener.take(s.id)
      add(s"${s.name}.shuffle_write_mb", t.shuffleBytes / MB)
      add(s"${s.name}.spill_mb", t.spillBytes / MB)
      add(s"${s.name}.jobs", t.jobs.toDouble)
      out(s"${s.name}.task_skew") =
        math.max(out.getOrElse(s"${s.name}.task_skew", 0.0), t.skew)
    }
    out ++= counters
    IterationTrace(out.toMap, asideNanos / 1e9)
  }
}

final case class IterationTrace(metrics: Map[String, Double], asideS: Double)

object Tracer {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  /** A stage's skew counts only when it ran enough tasks for a median to
    * mean something.
    */
  val SkewMinTasks = 4

  final case class SpanTasks(jobs: Int, shuffleBytes: Long, spillBytes: Long,
                             skew: Double)

  private final class SpanListener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val jobs = mutable.HashMap.empty[Int, Int]
    private val shuffle = mutable.HashMap.empty[Int, Long]
    private val spill = mutable.HashMap.empty[Int, Long]
    private val durations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach { s =>
          val id = s.toInt
          jobs(id) = jobs.getOrElse(id, 0) + 1
          e.stageIds.foreach(st => stageSpan(st) = id)
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val m = e.taskMetrics
        if (m != null) {
          shuffle(id) = shuffle.getOrElse(id, 0L) + m.shuffleWriteMetrics.bytesWritten
          spill(id) = spill.getOrElse(id, 0L) + m.diskBytesSpilled
        }
        durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }

    def take(id: Int): SpanTasks = synchronized {
      val stages = stageSpan.collect { case (st, s) if s == id => st }.toSeq
      val skew = stages.flatMap(durations.get).filter(_.size >= SkewMinTasks)
        .map { d =>
          val sorted = d.sorted
          sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
        }
        .foldLeft(0.0)(math.max)
      stages.foreach { st => stageSpan.remove(st); durations.remove(st) }
      SpanTasks(jobs.remove(id).getOrElse(0), shuffle.remove(id).getOrElse(0L),
        spill.remove(id).getOrElse(0L), skew)
    }
  }
}
