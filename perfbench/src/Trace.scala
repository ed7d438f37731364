package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** One timed interval at a layer boundary. `op` groups the spans of one
  * query, dashboard read or micro-batch; `parent` is the span that
  * caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body: the
  * untraced run makes exactly the same calls into the engine, minus the
  * timestamps and the bookkeeping. Spans are written out once, when the
  * run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong

  def apply[T](name: String, op: Long, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        spans.synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

/** Task-level counters of the `exec` layer (shuffle bytes written,
  * spill bytes, tasks), summed from a SparkListener while `armed`. */
final class ExecCounters extends SparkListener {
  @volatile var armed = false
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (armed && e.taskMetrics != null) {
      val m = e.taskMetrics
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.incrementAndGet()
    }
}

/** Process-wide JVM time spent in garbage collection and JIT
  * compilation, in milliseconds (local mode: one JVM runs everything). */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Milliseconds since this JVM started. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
}
