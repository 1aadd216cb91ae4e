package kgbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Executor work summed over a set of tasks. Times in seconds. */
final case class TaskTotals(
    taskS: Double = 0, gcS: Double = 0, jobs: Long = 0, tasks: Long = 0,
    tasksFailed: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(taskS + o.taskS, gcS + o.gcS, jobs + o.jobs,
    tasks + o.tasks, tasksFailed + o.tasksFailed, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
  def -(o: TaskTotals): TaskTotals = TaskTotals(taskS - o.taskS, gcS - o.gcS, jobs - o.jobs,
    tasks - o.tasks, tasksFailed - o.tasksFailed, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

/** Sums task metrics per job group, and for the whole session. A job
  * belongs to the group set (`setJobGroup`) in the thread that submitted
  * it; jobs without a group are summed under "". Task time is the
  * task's slot occupancy, launch to finish. */
class TaskListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, TaskTotals]
  private var session = TaskTotals()

  private def add(group: String, t: TaskTotals): Unit = {
    groups(group) = groups.getOrElse(group, TaskTotals()) + t
    session = session + t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.GroupKey)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = group)
    add(group, TaskTotals(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics // null when a task failed before reporting
    add(stageGroup.getOrElse(e.stageId, ""), TaskTotals(
      taskS = e.taskInfo.duration / 1e3,
      gcS = if (m == null) 0 else m.jvmGCTime / 1e3,
      tasks = 1,
      tasksFailed = if (e.reason == Success) 0 else 1,
      shuffleWriteBytes = if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      spillBytes = if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def group(g: String): TaskTotals = synchronized(groups.getOrElse(g, TaskTotals()))
  def groupIds: Set[String] = synchronized(groups.keySet.toSet)
  def total: TaskTotals = synchronized(session)
}

object TaskListener {
  val GroupKey = "spark.jobGroup.id"

  /** Registers a fresh listener on the session's context. */
  def register(sc: SparkContext): TaskListener = {
    val l = new TaskListener
    sc.addSparkListener(l)
    l
  }
}

/** Peak heap in use right after a garbage collection, from the JVM's GC
  * notifications: the heap an op still holds, without its garbage. */
object HeapMonitor {
  private val peak = new AtomicLong(0)
  private val collections = new AtomicLong(0)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Unit = {
    val onGc: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
        collections.incrementAndGet()
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  /** Collects first, so the old generation holds no garbage of earlier
    * work that the op's young collections would count as in use. */
  def reset(): Unit = { installed; collect(); peak.set(0) }

  /** Collects once more, so the peak also covers what is still held
    * now, then returns the peak since [[reset]] in MB. */
  def peakMb(): Double = { collect(); peak.get / 1048576.0 }

  private def collect(): Unit = {
    val seen = collections.get
    System.gc()
    // notifications arrive on a JMX thread, after the collection
    val deadline = System.nanoTime() + 2000000000L
    while (collections.get == seen && System.nanoTime() < deadline) Thread.sleep(2)
  }
}
