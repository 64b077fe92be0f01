package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Passive tally of completed stages for the end-to-end run: total shuffle
  * bytes written and the largest single stage's shuffle write. No spans,
  * no job groups — it only reads the metrics Spark already reports. */
final class StageTally extends SparkListener {
  private var sum = 0L
  private var max = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val b = e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    sum += b
    max = math.max(max, b)
  }

  def reset(): Unit = synchronized { sum = 0L; max = 0L }
  def shuffleBytes: Long = synchronized(sum)
  def maxStageBytes: Long = synchronized(max)
}

/** Largest heap occupancy seen right after a garbage collection since the
  * last reset, from the JVM's GC notifications. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

/** Everything the traced run records about one span's jobs, attributed by
  * the job group the harness sets for the span. */
final class SpanRecorder extends SparkListener {
  final case class Job(group: String, start: Long, var end: Long)
  final case class Task(records: Long, runMs: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stages = mutable.ArrayBuffer[(String, StageInfo)]()
  private val tasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(g, e.time, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += ((stageGroup.getOrElse(e.stageInfo.stageId, ""), e.stageInfo))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val rec = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .+= (Task(rec, m.executorRunTime))
    }
  }

  /** Per-layer numbers of the span whose jobs ran in group `group` during
    * [startMs, endMs]. */
  def summary(group: String, startMs: Long, endMs: Long): SpanStats = synchronized {
    val st = stages.collect { case (g, s) if g == group => s }.toSeq
    val js = jobs.values.filter(_.group == group).toSeq
    val mb = 1024.0 * 1024.0
    def tm(s: StageInfo) = s.taskMetrics
    val heaviest = if (st.isEmpty) None else Some(st.maxBy(tm(_).executorRunTime))
    val share = heaviest.flatMap { s =>
      tasks.get((s.stageId, s.attemptNumber())).filter(_.nonEmpty).map { ts =>
        val rec = ts.map(_.records).sum
        if (rec > 0) ts.map(_.records).max.toDouble / rec
        else {
          val run = ts.map(_.runMs).sum
          if (run > 0) ts.map(_.runMs).max.toDouble / run else 1.0 / ts.size
        }
      }
    }.getOrElse(0.0)
    // union of the jobs' intervals inside the span
    val ivs = js.map(j => (math.max(j.start, startMs), math.min(j.end, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val covered = ivs.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
      if (b <= reach) (acc, reach)
      else (acc + b - math.max(a, reach), b)
    }._1
    SpanStats(
      wallS = (endMs - startMs) / 1000.0,
      cpuS = st.map(tm(_).executorCpuTime).sum / 1e9,
      gcS = st.map(tm(_).jvmGCTime).sum / 1000.0,
      tasks = st.map(_.numTasks.toLong).sum,
      maxTaskShare = share,
      shuffleWriteMb = st.map(tm(_).shuffleWriteMetrics.bytesWritten).sum / mb,
      spillMb = st.map(tm(_).diskBytesSpilled).sum / mb,
      driverGapS = math.max(0L, endMs - startMs - covered) / 1000.0,
      jobs = js.size,
      stages = st.map { s =>
        Map[String, Any]("id" -> s.stageId, "name" -> s.name, "tasks" -> s.numTasks,
          "run_s" -> tm(s).executorRunTime / 1000.0,
          "cpu_s" -> tm(s).executorCpuTime / 1e9,
          "shuffle_write_mb" -> tm(s).shuffleWriteMetrics.bytesWritten / mb,
          "spill_mb" -> tm(s).diskBytesSpilled / mb)
      })
  }
}

final case class SpanStats(wallS: Double, cpuS: Double, gcS: Double, tasks: Long,
    maxTaskShare: Double, shuffleWriteMb: Double, spillMb: Double, driverGapS: Double,
    jobs: Int, stages: Seq[Map[String, Any]])
