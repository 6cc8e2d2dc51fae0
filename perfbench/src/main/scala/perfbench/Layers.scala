package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** `scheduler` and `executor` layers: job, stage and task counts and
  * task metrics, read from a SparkListener. */
final class SparkCounters extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("scheduler.jobs", 1)
    jobStart.put(e.jobId, e.time)
    jobStages.put(e.jobId, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach(t => add("scheduler.job_wall_ms", e.time - t))
    Option(jobStages.remove(e.jobId)).foreach(ids =>
      add("scheduler.stages_skipped", ids.count(id => !submitted.contains(id)).toLong))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("executor.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sources.bytes_read", m.inputMetrics.bytesRead)
      add("sources.records_read", m.inputMetrics.recordsRead)
    }
  }

  /** Every counter's current total. */
  def snapshot: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    c.forEach((k, v) => b += k -> v.get)
    b.result()
  }
}

/** `codegen` layer: generated-class compilations and their total
  * compile time, from Spark's CodegenMetrics histogram. */
object Codegen {
  final case class Mark(classes: Long, compileMs: Double) {
    def -(o: Mark): Mark = Mark(classes - o.classes, compileMs - o.compileMs)
  }
  /** The histogram's reservoir holds every sample until it fills
    * (1028 samples), so its sum is exact until then; past that the mean
    * times the count estimates it. */
  def mark(): Mark = {
    val h = PerfbenchBridge.codegenCompileTime
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (snap.size >= n) snap.getValues.sum.toDouble else snap.getMean * n
    Mark(n, sum)
  }
}

/** `catalyst` layer: analysis, optimization and planning phase times of
  * each query execution, counted once per QueryExecution — a cached
  * plan reuses its QueryExecution and pays no Catalyst time again.
  * Every execution is marked as seen, but only those recorded with
  * `count` add to the totals, so a plan compiled before the measured
  * window is not charged to it. */
final class Catalyst {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  private val ms = new ConcurrentHashMap[String, DoubleAdder]()

  def record(df: DataFrame, count: Boolean): Unit = {
    val qe = df.queryExecution
    val fresh = seen.synchronized(seen.add(qe))
    if (fresh && count) qe.tracker.phases.foreach { case (phase, summary) =>
      ms.computeIfAbsent(phase, _ => new DoubleAdder()).add(summary.durationMs.toDouble)
    }
  }
  def get(phase: String): Double = Option(ms.get(phase)).map(_.sum).getOrElse(0.0)
}
