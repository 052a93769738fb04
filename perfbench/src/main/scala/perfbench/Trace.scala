package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spark work attributed to one span: jobs started under it, and the
  * task metrics of their stages. */
final class Counters {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = 0L, counters: Counters = new Counters) {
  /** Row counts of the outputs [[Tracer.force]] materialized here. */
  val rows = mutable.ArrayBuffer.empty[Long]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Attributes jobs, stages and task metrics to the span that was open
  * on the driver thread when the job started (a local property set by
  * [[Tracer.span]]). */
final class SpanListener extends SparkListener {
  val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def of(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .foreach { s =>
        val span = s.toInt
        of(span).synchronized { of(span).jobs += 1 }
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (m <- Option(e.taskMetrics); span <- Option(stageSpan.get(e.stageId))) {
      val c = of(span)
      c.synchronized {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

/** Spans around the benchmark's calls into each layer. A disabled tracer
  * runs every body unchanged and forces nothing: that is the untraced
  * run the end-to-end metrics come from. An enabled tracer persists and
  * counts each layer's output at its span boundary ([[force]]), so a
  * span's time is that layer's work and not work deferred to a later
  * action. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1),
        System.nanoTime())
      spans += s
      stack ::= s.id
      spark.sparkContext.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.Key,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Materialize `df` inside the open span (persist + count) and record
    * its row count on the span; identity when disabled. */
  def force(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      stack.headOption.foreach(id => spans(id).rows += n)
      held += p
      p
    }

  /** Free what [[force]] pinned; call once a pass's outputs are used. */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  /** Wait for queued listener events, then copy counters onto spans. */
  def collectCounters(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.foreach { s =>
      Option(listener.bySpan.get(s.id)).foreach { c =>
        s.counters.jobs = c.jobs; s.counters.cpuNs = c.cpuNs
        s.counters.shuffleBytes = c.shuffleBytes
        s.counters.spillBytes = c.spillBytes
        s.counters.outputBytes = c.outputBytes
      }
    }
  }

  /** Span duration minus the time its direct children cover. The driver
    * is one thread, so children are sequential and never overlap. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def stop(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  val Key = "perfbench.span"
}
