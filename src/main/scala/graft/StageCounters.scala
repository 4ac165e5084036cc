package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Steal-invariant execution-shape counters (jobs, stages, tasks,
  * executor-cpu seconds, shuffle-write bytes) — the instrument for
  * plan-shape regressions when the host's hypervisor steal makes
  * one-shot wall seconds unusable (r14). Executor CPU time is the
  * per-task `executorCpuTime` sum: stolen cores inflate wall, not CPU.
  */
private[graft] final class StageCounters(spark: SparkSession) {
  private val jobs, jobsEnded, stages, tasks, cpuNs, shuffle = new AtomicLong()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); ()
    }
  })

  /** Listener events ride an async bus with no completion barrier
    * (r14 ADVICE #4). A job's stage events precede its job-end event,
    * so started == ended means settled — unless a start event is still
    * in flight, so wait (bounded) for TWO consecutive settled reads.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var settled = 0
    while (settled < 2 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      settled = if (jobs.get() == jobsEnded.get()) settled + 1 else 0
    }
  }

  /** Shuffle-write bytes so far, undrained. */
  def shuffleBytes: Long = shuffle.get()

  /** (jobs, stages, tasks, executor-cpu ns, shuffle-write bytes) so far. */
  def snap(): Seq[Long] =
    Seq(jobs.get(), stages.get(), tasks.get(), cpuNs.get(), shuffle.get())
}
