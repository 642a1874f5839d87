package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans opened by the benchmark around each call it makes into the
  * program. Times are epoch milliseconds (the clock Spark's listener
  * events carry, so jobs and phases can be placed inside spans) plus a
  * nanosecond duration for latency. */
final class Spans {
  val done = mutable.ArrayBuffer[Map[String, Any]]()
  private var depth = 0

  def apply[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    depth += 1
    try body
    finally {
      depth -= 1
      done += Map("name" -> name, "layer" -> layer, "depth" -> depth, "t0" -> t0,
        "t1" -> System.currentTimeMillis(), "dur_ms" -> (System.nanoTime() - n0) / 1e6)
    }
  }
}

/** Spark-side trace: jobs, stages, task metrics per stage and the
  * QueryExecution phases, plus the time its own callbacks take. A job's
  * operation is read from the [[Recorder.OpProperty]] local property
  * when the submitting thread carried it. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private case class StageAcc(var tasks: Long = 0, var failed: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spillMem: Long = 0, var spillDisk: Long = 0,
      var bytesOut: Long = 0, var recordsIn: Long = 0)

  private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val executions = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Map[String, Any]]())
  private val selfNs = new java.util.concurrent.atomic.AtomicLong()

  /** Runs a callback, adding its time to the trace's own cost. */
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val op = Option(e.properties).map(_.getProperty(Recorder.OpProperty)).orNull
    jobs.put(e.jobId, mutable.Map("id" -> e.jobId, "t0" -> e.time, "op" -> op,
      "stages" -> e.stageIds.toList))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_("t1") = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val acc = stages.computeIfAbsent(e.stageId, _ => StageAcc())
    acc.synchronized {
      acc.tasks += 1
      e.reason match {
        case org.apache.spark.Success | _: org.apache.spark.TaskKilled => ()
        case _ => acc.failed += 1
      }
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spillMem += m.memoryBytesSpilled
        acc.spillDisk += m.diskBytesSpilled
        acc.bytesOut += m.outputMetrics.bytesWritten
        acc.recordsIn += m.inputMetrics.recordsRead
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = timed {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) executions.add(Map(
      "t0" -> ph.values.map(_.startTimeMs).min,
      "planning_ms" -> ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def record: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.map(_.toMap).toList.sortBy(_("id").asInstanceOf[Int]),
    "stages" -> stages.asScala.toList.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "tasks" -> a.tasks, "failed" -> a.failed, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "shuffle_read" -> a.shuffleRead,
        "shuffle_write" -> a.shuffleWrite, "spill_mem" -> a.spillMem,
        "spill_disk" -> a.spillDisk, "bytes_out" -> a.bytesOut, "records_in" -> a.recordsIn)
    },
    "executions" -> executions.asScala.toList,
    "self_ns" -> selfNs.get)
}

object Recorder {
  val OpProperty = "perfbench.op"

  /** Largest heap in use after any collection, over the whole run. */
  @volatile var heapPeak: Long = 0L

  def watchHeap(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
                .map(_.getUsed).sum
              if (used > heapPeak) heapPeak = used
            }
        }, null, null)
      case _ => ()
    }
  }

  def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
