package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Scheduler counters at one instant. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
                        shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}
object Counts { val Zero: Counts = Counts(0, 0, 0, 0, 0) }

/** Counts every job, submitted stage and finished task of the session.
  * Registered only for traced runs, so untraced timings carry no
  * listener. */
final class SchedulerCounters private (spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks, shuffle, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counts = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, shuffle.get, spill.get)
  }
}

object SchedulerCounters {
  def install(spark: SparkSession): SchedulerCounters = {
    val c = new SchedulerCounters(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** JVM and host readings. */
object Host {

  /** Seconds the JVM has spent in garbage collection so far. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double = readStatusKb("VmHWM:") / 1024.0

  private def readStatusKb(field: String): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field)).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Wall seconds since the JVM started. */
  def sinceJvmStartSeconds(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Machine-wide (steal, total) jiffies from /proc/stat's cpu line. */
  def cpuJiffies(): (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f.lift(7).getOrElse(0L), f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Share of machine CPU time stolen by the hypervisor between two
    * [[cpuJiffies]] readings. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val total = b._2 - a._2
    if (total <= 0) 0.0 else (b._1 - a._1).toDouble / total
  }
}
