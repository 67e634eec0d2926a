package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into the program, plus
  * the Spark listeners that count what each operation cost. Everything
  * here is off unless [[Trace.on]] was called, so the untraced run pays
  * one branch per span.
  *
  * A trace is one set-up or one measured step (a weekly drip, a stream
  * round); spans nest by call order on the driver thread.
  */
object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, trace: Int)

  @volatile private var enabled = false
  private val done = ArrayBuffer[Span]()
  private var stack: List[(Int, Int)] = Nil // (span id, trace id)
  private var lastId = 0
  private var lastTrace = 0

  def spans: Seq[Span] = done.toSeq
  def spanMaps: Seq[Map[String, Any]] = spans.map(s => Map("id" -> s.id,
    "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
    "parent" -> s.parent, "trace" -> s.trace))
  def isOn: Boolean = enabled

  /** Time `body` as a span under the innermost open one. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val (parent, trace) = stack.headOption.getOrElse((0, 0))
      stack = (id, trace) :: stack
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, name, start, System.nanoTime(), parent, trace)
        stack = stack.tail
      }
    }

  /** Open a new trace whose root span is `name`. */
  def trace[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastTrace += 1
      val saved = stack
      stack = (0, lastTrace) :: Nil
      try span(name)(body) finally stack = saved
    }

  // ---- Spark-side counters -------------------------------------------

  /** Monotonic totals fed by the listeners below. */
  object Counters {
    val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite,
      spill, resultBytes, planMs = new AtomicLong
    def snapshot(): Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get,
      "shuffle_read_bytes" -> shuffleRead.get,
      "shuffle_write_bytes" -> shuffleWrite.get,
      "spill_bytes" -> spill.get, "result_bytes" -> resultBytes.get,
      "plan_ms" -> planMs.get)
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Counters.jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Counters.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Counters.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        Counters.runMs.addAndGet(m.executorRunTime)
        Counters.cpuNs.addAndGet(m.executorCpuTime)
        Counters.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        Counters.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        Counters.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Counters.resultBytes.addAndGet(m.resultSize)
      }
    }
  }

  /** Analysis + optimization + planning time of every executed plan. */
  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Counters.planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** `StreamingQueryProgress.durationMs` of every micro-batch. */
  val progress = ArrayBuffer[Map[String, Long]]()
  private object StreamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.synchronized { progress += d.toMap }
    }
  }

  def on(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
    enabled = true
  }

  def off(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.listenerManager.unregister(PlanListener)
    spark.streams.removeListener(StreamListener)
    enabled = false
  }

  def drain(spark: SparkSession): Unit = PerfbenchDrain(spark.sparkContext)

  /** Spans without any Spark listener (for the self-test). */
  def spansOnly(): Unit = enabled = true
}

/** Prints the spans of a fixed nesting as JSON, for the self-tests. */
object TraceSelfTest {
  def main(args: Array[String]): Unit = {
    Trace.spansOnly()
    Trace.trace("step") {
      Trace.span("outer") { Trace.span("inner") { Thread.sleep(5) } }
      Trace.span("sibling") { Thread.sleep(2) }
    }
    Trace.trace("step") { Trace.span("outer") { Thread.sleep(1) } }
    println(Harness.json(Trace.spanMaps))
  }
}
