package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success, SparkPerfbenchAccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One benchmark-side span around a layer call. `parent` is the id of
  * the enclosing span on the same thread (0 at top level); `opId` the
  * op the call belongs to (-1 outside any op).
  */
final case class Span(id: Int, parent: Int, name: String, opId: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A named value recorded inside an op that is not a span: planning
  * phase times, head bytes read, live file counts. */
final case class Sample(name: String, opId: Long, value: Double)

/** Records spans and samples when enabled; a pass-through otherwise, so
  * the untraced run makes the same calls in the same order. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val sampleQ = new ConcurrentLinkedQueue[Sample]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val op = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def beginOp(id: Long): Unit = op.set(id)
  def endOp(): Unit = op.set(-1L)
  def currentOp: Long = op.get

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spanQ.add(Span(id, outer.headOption.getOrElse(0), name, op.get, t0, t1))
      }
    }

  def sample(name: String, value: Double): Unit =
    if (enabled) sampleQ.add(Sample(name, op.get, value))

  def spans: Seq[Span] = spanQ.asScala.toSeq
  def samples: Seq[Sample] = sampleQ.asScala.toSeq

  /** Mean value per call over the given ops: `<span name>_s` for spans,
    * the sample name for samples. */
  def meansOver(ops: Set[Long]): Map[String, Double] = {
    val vals = spans.filter(s => ops.contains(s.opId)).map(s => s"${s.name}_s" -> s.seconds) ++
      samples.filter(s => ops.contains(s.opId)).map(s => s.name -> s.value)
    vals.groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).sum / vs.size }
  }
}

object Plans {
  private val phases = Seq(
    "analysis" -> "plans.analysis_s",
    "optimization" -> "plans.optimization_s",
    "planning" -> "plans.planning_s")

  /** Force Catalyst through physical planning (the DeferredScan rule
    * included) before the action runs. The action reuses the same
    * QueryExecution, so forcing adds no work to the untraced run.
    */
  def planned(df: DataFrame, tracer: Tracer): DataFrame = {
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    if (tracer.enabled) {
      val summary = df.queryExecution.tracker.phases
      phases.foreach { case (phase, name) =>
        tracer.sample(name, summary.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0))
      }
    }
    df
  }
}

/** Spark work counters of the traced run, from a listener the benchmark
  * registers itself. Jobs belong to the timed window by submission
  * time; a job is attributed when it carries a `perfbench-op-<id>` tag.
  */
final class SparkCounters extends SparkListener {
  private final case class Job(id: Int, timeMs: Long, opTag: Option[String], stageIds: Seq[Int])
  private final class StageAcc {
    var submittedMs: Long = -1
    var firstLaunchMs: Long = Long.MaxValue
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shRead, shWrite, spill, input, output = 0L
    var failed = 0
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, StageAcc]

  private def acc(stageId: Int): StageAcc = stages.getOrElseUpdate(stageId, new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    jobs += Job(e.jobId, e.time, tags.find(_.startsWith("perfbench-op-")), e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    acc(e.stageInfo.stageId).submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val a = acc(e.stageId)
    a.firstLaunchMs = math.min(a.firstLaunchMs, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(e.stageId)
    a.durationsMs += e.taskInfo.duration
    if (e.reason != Success) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Totals over jobs submitted in [fromMs, toMs], as (name -> value). */
  def totals(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    val inWindow = jobs.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs)
    val st = inWindow.flatMap(_.stageIds).distinct.flatMap(id => stages.get(id))
      .filter(_.submittedMs >= 0)
    def sum(f: StageAcc => Long): Double = st.map(f).sum.toDouble
    val skew = st.filter(_.durationsMs.size >= 2).map { s =>
      val med = Stats.median(s.durationsMs.map(_.toDouble).toSeq)
      s.durationsMs.max / math.max(med, 1.0)
    }
    Map(
      "spark.jobs" -> inWindow.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.durationsMs.size).sum.toDouble,
      "spark.executor_run_s" -> sum(_.runMs) / 1e3,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.shuffle_read_bytes" -> sum(_.shRead),
      "spark.shuffle_write_bytes" -> sum(_.shWrite),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.input_bytes" -> sum(_.input),
      "spark.output_bytes" -> sum(_.output),
      "spark.stage_wait_s" -> st.filter(_.firstLaunchMs != Long.MaxValue)
        .map(s => math.max(0L, s.firstLaunchMs - s.submittedMs)).sum / 1e3,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.failed_tasks" -> st.map(_.failed).sum.toDouble,
      "spark.unattributed_jobs" -> inWindow.count(_.opTag.isEmpty).toDouble
    )
  }

  /** Per-job record for the trace file: (job id, submit ms, op tag). */
  def jobRecords(fromMs: Long, toMs: Long): Seq[(Int, Long, Option[String])] = synchronized {
    jobs.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs).map(j => (j.id, j.timeMs, j.opTag)).toSeq
  }
}

object SparkCounters {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    SparkPerfbenchAccess.waitUntilEmpty(spark.sparkContext)
}
