package kgbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the engine. They
  * stay in memory and are written out when the run ends. */
final class Tracer {
  import Tracer.Span
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List(-1)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, open.head, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  /** Wall seconds of every span with this name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the part of it its child spans cover. */
  def self(name: String): Double = spans.filter(_.name == name).map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }.sum

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map("id" -> s.id,
    "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Task, stage and job counters per Spark job group. */
final class GroupListener extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, spill, outBytes = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private def agg(g: String): Agg = aggs.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val a = agg(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks += 1
    a.cpuNs += m.executorCpuTime
    a.runMs += m.executorRunTime
    a.gcMs += m.jvmGCTime
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.spill += m.diskBytesSpilled
    a.outBytes += m.outputMetrics.bytesWritten
  }

  /** Summed counters of the groups `pick` selects; call after a drain. */
  def sum(pick: String => Boolean): Agg = {
    val s = new Agg
    aggs.asScala.foreach { case (g, a) if pick(g) =>
      s.jobs += a.jobs; s.stages += a.stages; s.tasks += a.tasks
      s.cpuNs += a.cpuNs; s.runMs += a.runMs; s.gcMs += a.gcMs
      s.shuffleWrite += a.shuffleWrite; s.spill += a.spill
      s.outBytes += a.outBytes
    case _ => }
    s
  }
  def group(g: String): Agg = sum(_ == g)
}

object GroupListener {
  def drain(sc: SparkContext): Unit = org.apache.spark.KgBenchBridge.drainListeners(sc)
  val Mb = 1024.0 * 1024.0
}

/** Largest heap occupancy seen after any collection while armed. */
final class HeapPeak extends NotificationListener {
  @volatile var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  def handleNotification(n: Notification, hb: AnyRef): Unit = if (armed) {
    import com.sun.management.GarbageCollectionNotificationInfo
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  }
  def reset(): Unit = synchronized { peak = 0L }
  /** Peak after-GC occupancy in MiB; the current occupancy when no
    * collection ran while armed. */
  def peakMb: Double = synchronized {
    val p = if (peak > 0) peak else {
      val rt = Runtime.getRuntime; rt.totalMemory - rt.freeMemory
    }
    p / GroupListener.Mb
  }
}

/** CPU clocks. The benchmark's CPU metrics count the JVM's Java threads
  * (the main thread, Spark's task threads and its service threads): the JIT
  * compiler and GC threads are left out. In a cold run compilation was
  * more than half of the process CPU time and the main source of its
  * run-to-run spread, and it is a one-time cost a long job amortizes. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the whole process, in nanoseconds. */
  def processNs: Long = os.getProcessCpuTime

  /** CPU nanoseconds of every live Java thread, by thread id. */
  def mark(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU nanoseconds the Java threads spent since `m`; a thread started
    * since then counts from zero, one that ended since then is lost. */
  def javaSince(m: Map[Long, Long]): Long =
    mark().map { case (id, ns) => ns - m.getOrElse(id, 0L) }.sum
}
