package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Sample statistics: a timing is reported as its median plus the highest
  * percentile that still has at least ten samples beyond it, with the count.
  */
object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Highest whole percentile p with at least 10 samples above it, if any. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0) >= 10)

  /** One human-readable line: median, tail percentile (when the sample
    * count allows one) and the sample count. `higherIsBetter` picks the
    * tail side: the slow tail of a rate is its low percentile.
    */
  def describe(name: String, unit: String, xs: collection.Seq[Double], higherIsBetter: Boolean): String = {
    val tail = tailPercentile(xs.size) match {
      case Some(p) =>
        val q = if (higherIsBetter) 1 - p / 100.0 else p / 100.0
        f" p$p%d(slow side)=${quantile(xs, q)}%.4f"
      case None => " (too few samples for a tail percentile)"
    }
    f"metric $name%-22s median=${median(xs)}%.4f $unit%s$tail%s n=${xs.size}%d"
  }
}

object Heap {
  /** Heap still in use after a full collection, in MB. Spark's context
    * cleaner frees the blocks of unreachable broadcasts and shuffles on its
    * own thread after a collection finds them, so collections repeat (a
    * moment apart) until the reading settles within 1 MB.
    */
  def retainedMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = prev
    var rounds = 1
    do {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      rounds += 1
    } while (math.abs(cur - prev) >= 1.0 && rounds < 6)
    cur
  }
}

/** Largest heap occupancy right after any collection since this was
  * created, from the collectors' notifications: memory a job holds only
  * while it runs shows here when a collection falls inside it.
  */
final class HeapAfterGc {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  private val maxBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        maxBytes.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def maxMb: Double = maxBytes.get / 1048576.0
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** Bytes this process has read through read system calls so far, on every
  * thread (`rchar` of `/proc/self/io`; 0 where that file does not exist).
  * Hadoop's file-system counters and Spark's task input metrics both miss
  * parquet's vectored reads, which this count includes.
  */
object ProcReads {
  def bytes(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/io")
    if (!java.nio.file.Files.exists(f)) 0L
    else {
      val lines = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
      lines.find(_.startsWith("rchar:")).map(_.drop(6).trim.toLong).getOrElse(0L)
    }
  }
}

/** In-memory trace: spans (name, start, end, parent) and counters recorded
  * by the benchmark around its calls into each layer, written out once the
  * run ends. Disabled (no allocation, no clock reads) unless `enabled`.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Self time of every span name: duration minus time covered by children. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= f"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f}""" + "\n"
    }
    counters.foreach { case (k, v) => sb ++= s"""{"counter":"$k","value":$v}""" + "\n" }
    selfSeconds.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= f"""{"self":"$k","seconds":$v%.6f}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Benchmark-side SparkListener: per-stage task times, shuffle, spill, GC
  * and shuffle-read and output bytes of whatever jobs run while it is
  * registered. (Input bytes come from [[ProcReads]] instead: parquet's
  * vectored reads happen on threads the per-task counters do not see.)
  * Read only after [[org.apache.spark.perfbenchbus.Bus.drain]], so every task event is in.
  */
final class StageListener extends SparkListener {
  final class StageAgg(val stageId: Int) {
    val taskMs = ArrayBuffer.empty[Double]
    var runMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      a.taskMs += e.taskInfo.duration.toDouble
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def reset(): Unit = synchronized(stages.clear())
  def snapshot: Seq[StageAgg] = synchronized(stages.values.toSeq)
}
