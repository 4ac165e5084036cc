package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one tag (a span id): the counts the engine
  * layer reports, read from task and stage events.
  */
final class Counters {
  val jobs, stages, tasks = new LongAdder
  val cpuNs, runMs, taskMs = new LongAdder
  val shuffleWrite, shuffleRead, spill = new LongAdder
  val inputRows, inputBytes, outputBytes = new LongAdder

  def add(o: Counters): Counters = {
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, cpuNs -> o.cpuNs,
      runMs -> o.runMs, taskMs -> o.taskMs, shuffleWrite -> o.shuffleWrite,
      shuffleRead -> o.shuffleRead, spill -> o.spill, inputRows -> o.inputRows,
      inputBytes -> o.inputBytes, outputBytes -> o.outputBytes)
      .foreach { case (a, b) => a.add(b.sum) }
    this
  }

  def cpuS: Double = cpuNs.sum / 1e9
  /** Task time not spent running the task body: scheduling,
    * deserialization and result handling.
    */
  def overheadS: Double = (taskMs.sum - runMs.sum) / 1e3
}

/** Listener that files every job, stage and task under the tag the
  * submitting thread carried in the `Meter.TagKey` local property.
  * Threads a library call starts inherit the property, so the parallel
  * table imports are attributed to the span that called them.
  */
final class Meter extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def of(tag: String) = byTag.computeIfAbsent(tag, _ => new Counters)
  private def tagOf(p: java.util.Properties) =
    Option(p).flatMap(x => Option(x.getProperty(Meter.TagKey))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    of(tag).jobs.increment()
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageTag.getOrDefault(e.stageInfo.stageId, "-")).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageTag.getOrDefault(e.stageId, "-"))
    c.tasks.increment()
    c.taskMs.add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.add(m.executorCpuTime)
      c.runMs.add(m.executorRunTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputRows.add(m.inputMetrics.recordsRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  /** Sum of the counters of `tags`, after every queued event is handled. */
  def total(sc: SparkContext, tags: Iterable[String]): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    tags.foldLeft(new Counters)((acc, t) => Option(byTag.get(t)).fold(acc)(acc.add))
  }
}

object Meter {
  val TagKey = "perfbench.span"

  /** Garbage-collection seconds of this JVM so far. */
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Peak resident set of this process, from /proc/self/status. */
  def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)
    catch { case _: java.io.IOException => -1.0 }
}

/** Host CPU accounting over a window, the `/proc/stat` method
  * `graft.Bench` uses: steal is the hypervisor's withheld time, foreign
  * is user time of other processes. Both are reported, never used to
  * drop a run.
  */
final case class HostSample(userJiffies: Long, stealJiffies: Long,
                            selfJiffies: Long, nanos: Long) {
  def stealCores(end: HostSample): Double =
    (end.stealJiffies - stealJiffies) / HostSample.Hz / seconds(end)
  def foreignCores(end: HostSample): Double =
    ((end.userJiffies - userJiffies) - (end.selfJiffies - selfJiffies)) /
      HostSample.Hz / seconds(end)
  private def seconds(end: HostSample) = math.max(1e-3, (end.nanos - nanos) / 1e9)
}

object HostSample {
  private val Hz = 100.0

  def now(): HostSample =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      // Fields after comm: utime is the 14th of /proc/self/stat.
      val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
      val afterComm = self.substring(self.lastIndexOf(')') + 2).split(" ")
      HostSample(cpu(1).toLong + cpu(2).toLong, cpu(8).toLong,
        afterComm(11).toLong, System.nanoTime())
    } catch { case _: Exception => HostSample(0, 0, 0, System.nanoTime()) }
}
