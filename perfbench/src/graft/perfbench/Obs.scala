package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each module.
  * Disabled, `span` is a plain call. */
final class Tracer(var enabled: Boolean) {
  final case class Span(name: String, parent: Int, start: Long, var end: Long)
  val spans = new ArrayBuffer[Span]()
  private var open = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += Span(name, open, System.nanoTime(), 0L)
      val prev = open
      open = id
      try f finally { spans(id).end = System.nanoTime(); open = prev }
    }

  /** name -> (total seconds, self seconds); self = duration minus the part
    * covered by direct child spans. */
  def totals: Map[String, (Double, Double)] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name).map { case (n, ids) =>
      n -> (ids.map(i => spans(i).end - spans(i).start).sum / 1e9,
        ids.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e9)
    }
  }

  def toJson: String = spans.zipWithIndex.map { case (s, i) =>
    s"""{"id":$i,"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

final case class Task(stage: Int, runMs: Long, gcMs: Long, spill: Long,
    shuffleWrite: Long, durationMs: Long)

/** Task and stage counters from a SparkListener the benchmark registers. */
final class StageCounters extends SparkListener {
  private val tasks = new ArrayBuffer[Task]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        e.taskInfo.duration)
    }
  }
  def mark: Int = synchronized(tasks.size)
  def since(mark: Int): Vector[Task] = synchronized(tasks.drop(mark).toVector)
}

/** `heap_peak_mb`: the largest old-generation use seen right after a
  * collection. Sampled after a full GC at the end of set-up and of the
  * measured loop, and, while `listen` is on, after every collection the
  * JVM makes during the loop (a young collection reports the old
  * generation it promoted into, so what an operation holds across a
  * collection shows, along with promoted objects that are already dead). */
object Heap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  private def record(bytes: Long): Unit = peak.accumulateAndGet(bytes, math.max(_, _))

  def sample(): Unit = {
    System.gc()
    record(ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).sum)
  }

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isOld(pool) => u.getUsed
        }.sum)
      }
  }
  private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  def listen(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def unlisten(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Host CPU time from /proc/stat: the share of it the hypervisor stole
  * (given to other guests) over an interval is recorded with each run,
  * because it inflates every wall-clock metric. */
object HostCpu {
  /** (steal, total) jiffies over all CPUs; (0, 0) where unavailable. */
  def sample(): (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 <= from._2) 0.0 else (to._1 - from._1).toDouble / (to._2 - from._2)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile (numpy default) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}
