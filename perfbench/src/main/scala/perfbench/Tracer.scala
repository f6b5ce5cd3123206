package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Everything is observed
  * from outside the engine: spans wrap the benchmark's own calls into the
  * engine's public entry points, Spark jobs are attributed to the span
  * that was innermost when they started (through a local property the
  * driver thread carries), and the layer counters come from a
  * SparkListener, a QueryExecutionListener and Spark's codegen counters.
  *
  * Disabled, `span` is a plain call and no listener is registered, so the
  * untraced passes measure the engine alone.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = new ArrayBuffer[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private var stack: List[Span] = Nil
  @volatile var enabled = false

  // counters, reset per traced pass and summed into `totals`
  private val stageCount = new LongAdder
  private val taskCount = new LongAdder
  private val taskFailures = new LongAdder
  private val taskRunMs = new LongAdder
  private val taskCpuNs = new LongAdder
  private val taskGcMs = new LongAdder
  private val schedDelayMs = new LongAdder
  private val shuffleWrite = new LongAdder
  private val shuffleRead = new LongAdder
  private val spill = new LongAdder
  private val input = new LongAdder
  private val result = new LongAdder
  private val actions = new LongAdder
  private val analysisMs = new LongAdder
  private val optimizationMs = new LongAdder
  private val planningMs = new LongAdder
  private var codegenNs0 = 0L
  private var compiles0 = 0L
  val totals = mutable.TreeMap.empty[String, Double]

  /** Epoch-ms -> nanoTime offset, so job times land on the span clock. */
  private val nanoAtEpoch0 = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, JobRec(e.jobId, parent, toNano(e.time), -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = toNano(e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageCount.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      taskCount.increment()
      e.reason match {
        case org.apache.spark.Success =>
        case _ => taskFailures.increment()
      }
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.add(m.executorRunTime)
        taskCpuNs.add(m.executorCpuTime)
        taskGcMs.add(m.jvmGCTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
        result.add(m.resultSize)
        val info = e.taskInfo
        if (info != null && info.finishTime > 0) {
          val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          schedDelayMs.add(math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetch))
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      actions.increment()
      val p = qe.tracker.phases
      p.get("analysis").foreach(s => analysisMs.add(s.durationMs))
      p.get("optimization").foreach(s => optimizationMs.add(s.durationMs))
      p.get("planning").foreach(s => planningMs.add(s.durationMs))
    }
  }

  private def toNano(epochMs: Long): Long = nanoAtEpoch0 + epochMs * 1000000L

  /** Start tracing: register the listeners and snapshot the codegen counters. */
  def enable(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenNs0 = WholeStageCodegenExec.codeGenTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    enabled = true
  }

  /** Stop tracing: drain the listener bus, fold the counters into
    * `totals` and unregister. */
  def disable(): Unit = {
    enabled = false
    ListenerBridge.waitUntilEmpty(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    def put(k: String, v: Double): Unit = totals(k) = totals.getOrElse(k, 0.0) + v
    val mb = 1024.0 * 1024.0
    put("catalyst.actions", actions.sumThenReset().toDouble)
    put("catalyst.analysis_s", analysisMs.sumThenReset() / 1e3)
    put("catalyst.optimization_s", optimizationMs.sumThenReset() / 1e3)
    put("catalyst.planning_s", planningMs.sumThenReset() / 1e3)
    put("codegen.compile_s", (WholeStageCodegenExec.codeGenTime - codegenNs0) / 1e9)
    put("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
    put("exec.stages", stageCount.sumThenReset().toDouble)
    put("exec.tasks", taskCount.sumThenReset().toDouble)
    put("exec.task_failures", taskFailures.sumThenReset().toDouble)
    put("exec.task_run_s", taskRunMs.sumThenReset() / 1e3)
    put("exec.task_cpu_s", taskCpuNs.sumThenReset() / 1e9)
    put("exec.task_gc_s", taskGcMs.sumThenReset() / 1e3)
    put("exec.sched_delay_s", schedDelayMs.sumThenReset() / 1e3)
    put("exec.shuffle_write_mb", shuffleWrite.sumThenReset() / mb)
    put("exec.shuffle_read_mb", shuffleRead.sumThenReset() / mb)
    put("exec.spill_mb", spill.sumThenReset() / mb)
    put("exec.input_mb", input.sumThenReset() / mb)
    put("exec.result_mb", result.sumThenReset() / mb)
  }

  /** Run `f` inside a span of `layer`; Spark jobs it starts become children. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), layer, name,
        System.nanoTime(), -1L, mutable.TreeMap.empty[String, Double])
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a numeric attribute to the most recently opened span. */
  def attrLast(key: String, value: Double): Unit =
    if (enabled && spans.nonEmpty) spans.last.attrs(key) = spans.last.attrs.getOrElse(key, 0.0) + value
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        start: Long, var end: Long, attrs: mutable.TreeMap[String, Double])

  final case class JobRec(id: Int, parent: Int, start: Long, end: Long)
}
