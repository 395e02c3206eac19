package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task time, shuffle write, spill and job count summed over the tasks of
  * one job group. */
final case class Tally(taskMs: Long = 0L, shuffleBytes: Long = 0L,
    spillBytes: Long = 0L, jobs: Int = 0)

/** Attributes every finished task to the job group its job was submitted
  * under (the group names the active span), and keeps a session-wide total
  * that the untraced passes read before and after each pass. */
final class TaskLedger extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Tally].withDefaultValue(Tally())
  private var all = Tally()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    byGroup(g) = byGroup(g).copy(jobs = byGroup(g).jobs + 1)
    all = all.copy(jobs = all.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val add = Tally(m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      val g = stageGroup.getOrElse(e.stageId, "")
      def plus(t: Tally) = Tally(t.taskMs + add.taskMs, t.shuffleBytes + add.shuffleBytes,
        t.spillBytes + add.spillBytes, t.jobs)
      byGroup(g) = plus(byGroup(g))
      all = plus(all)
    }
  }

  def group(g: String): Tally = synchronized(byGroup(g))
  def total: Tally = synchronized(all)
}

/** One layer call as seen from outside: `parent` is the enclosing span's id
  * (-1 at the root) and `run` names the pass the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, endNs: Long)

final case class SpanStat(wallS: Double, tally: Tally) {
  def taskS: Double = tally.taskMs / 1e3
  def shuffleMb: Double = tally.shuffleBytes / 1e6
  def spillMb: Double = tally.spillBytes / 1e6
  def coreUtil(cores: Int): Double = if (wallS > 0) taskS / (wallS * cores) else 0.0
}

/** Span recorder for the traced run. Each span runs its body under its own
  * Spark job group, so the [[TaskLedger]] sums the span's own tasks (jobs
  * of nested spans land in the nested span). Spans stay in memory until
  * [[write]]. */
final class Tracer(sc: SparkContext, ledger: TaskLedger) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  var run = ""

  def span[T](name: String)(body: => T): (T, SpanStat) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val group = s"span-$id"
    stack = (id, name) :: stack
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, run, t0, t1)
      BenchBus.drain(sc)
      (out, SpanStat((t1 - t0) / 1e9, ledger.group(group)))
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(s"span-$pid", pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** all spans as JSON lines, written once when the run ends. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(file.toPath, lines.asJava): Unit
  }
}

/** Post-GC heap occupancy, from the collectors' notifications. A pass's
  * peak is the largest occupancy any collection that ended inside the pass
  * left behind, floored at the occupancy measured just before the pass. */
final class HeapWatch {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val events = new ConcurrentLinkedQueue[(Long, Long)]() // (gc end ms since JVM start, bytes)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        events.add((info.getGcInfo.getEndTime, used))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** collect the garbage left by earlier work and return the live heap. */
  def settle(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def peak(fromMs: Long, toMs: Long, floor: Long): Long =
    events.asScala.collect { case (t, b) if t >= fromMs && t <= toMs => b }
      .foldLeft(floor)(math.max)
}
