package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One benchmark run: set-up phase timing, the closed timed loop,
  * latency samples, failure accounting and (when tracing) spans plus
  * engine counters.
  *
  * Spans: one root span per step or query, one child span per timed
  * call into a graft layer. Spark jobs join the tree as grandchildren:
  * before each call the harness sets the local property [[SpanProp]],
  * which every job submitted by the call (and by threads it starts)
  * carries, and the listener keys the job's interval and task metrics by
  * it. Spans stay in memory and are written out when the run ends.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracing: Boolean) {
  import Run._

  val setupPhases = mutable.LinkedHashMap[String, Double]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[(String, String)]()
  val counters = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var wallS = 0.0
  /** When set-up ended: the first timed loop's start. */
  var setupEndNs = 0L
  /** CPU seconds the Java threads had run when set-up ended. */
  var setupCpuS = 0.0
  /** Wall and CPU seconds of each run of the repeated part of set-up. */
  val repeatWall, repeatCpu = mutable.ArrayBuffer[Double]()

  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0L
  private var current: Option[Span] = None
  val engine: Option[EngineListener] =
    if (tracing) Some(new EngineListener) else None
  engine.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l.qeListener)
  }
  /** CPU milliseconds of each step of the timed loop, by step name: what
    * the JVM's Java threads (the client thread, Spark's scheduler and task
    * threads) ran during the step. The JIT compiler and GC threads are not
    * Java threads and are left out, as is time the host took a CPU away,
    * which a latency includes.
    */
  val stepCpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }

  /** CPU nanoseconds since `before`; a thread that ended meanwhile is lost. */
  private def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** Time a set-up phase; phases of the same name add up. A failure here
    * propagates: a run whose set-up failed has nothing valid to report.
    */
  def setup[T](phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupPhases(phase) = setupPhases.getOrElse(phase, 0.0) +
      (System.nanoTime() - t0) / 1e9
    r
  }

  /** One run of the part of set-up that runs several times, so that
    * `setup_s` can count it once, at its median.
    */
  def repeat[T](phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = threadCpu()
    val r = setup(phase)(body)
    repeatWall += (System.nanoTime() - t0) / 1e9
    repeatCpu += cpuSince(c0) / 1e9
    r
  }

  def sample(name: String, ms: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms

  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  private def open(layer: String, name: String): Span = {
    nextSpan += 1
    val s = Span(nextSpan, current.map(_.id).getOrElse(0L), layer, name,
      System.nanoTime(), System.currentTimeMillis())
    if (tracing) spans += s
    s
  }

  private def withSpan[T](s: Span)(body: => T): T = {
    val prev = current
    current = Some(s)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    if (tracing) sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      if (tracing) sc.setLocalProperty(SpanProp, prevProp)
      current = prev
    }
  }

  /** A root span: one closed-loop step or one query. */
  def step[T](name: String)(body: => T): T = {
    val c0 = threadCpu()
    try withSpan(open("step", name))(body)
    finally stepCpu.getOrElseUpdate(name, mutable.ArrayBuffer()) += cpuSince(c0) / 1e6
  }

  /** One timed call into a graft layer. Returns the elapsed milliseconds
    * and the result, or None after recording the failure: a failed
    * operation is counted against the attempts and never yields a
    * latency sample.
    */
  def call[T](layer: String, name: String)(body: => T): Option[(Double, T)] = {
    attempted += 1
    val s = open(layer, name)
    try {
      val r = withSpan(s)(body)
      Some(((s.endNs - s.startNs) / 1e6, r))
    } catch {
      case e: Exception =>
        failures += name -> s"${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  /** Record a failed correctness check on a call that itself returned. */
  def fail(name: String, message: String): Unit = failures += name -> message

  /** The closed loop: `step(i)` runs back to back until `seconds` have
    * passed, then the loop ends at a step boundary (the last step runs to
    * completion). `minSteps` steps always run.
    */
  def loop(minSteps: Int, maxSteps: Int)(body: Int => Unit): Int = {
    engine.foreach(_.reset(spark))
    spans.clear()
    stepCpu.clear()
    attempted = 0
    if (setupEndNs == 0L) {
      setupEndNs = System.nanoTime()
      setupCpuS = threadCpu().values.sum / 1e9
    }
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (i < maxSteps && (i < minSteps || System.nanoTime() < deadline)) {
      body(i)
      i += 1
    }
    wallS += (System.nanoTime() - t0) / 1e9
    engine.foreach(_.drain(spark))
    i
  }

  /** Engine counters summed over the spans named `name`, and how many
    * such spans there were (tracing only; empty otherwise).
    */
  def spanTotals(name: String): (Int, Map[String, Double]) = engine match {
    case None => (0, Map.empty)
    case Some(l) =>
      val ids = spans.filter(_.name == name).map(_.id)
      val sums = mutable.HashMap[String, Double]()
      ids.flatMap(l.perSpan.get).foreach(_.foreach { case (k, v) =>
        sums(k) = sums.getOrElse(k, 0.0) + v })
      (ids.size, sums.toMap)
  }
}

object Run {
  val SpanProp = "graft.perfbench.span"

  /** Times are nanoTime for durations plus wall-clock millis, which line
    * spans up with the listener's job intervals.
    */
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long)

  /** Engine counters, keyed by span: jobs (with their intervals), stages,
    * tasks and the task metrics Spark aggregates per stage, plus the
    * planning time of each query execution.
    */
  final class EngineListener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageSpan = mutable.HashMap[Int, Long]()
    val perSpan = mutable.HashMap[Long, mutable.HashMap[String, Double]]()
    val planningMs = mutable.ArrayBuffer[Double]()

    def reset(spark: SparkSession): Unit = {
      drain(spark)
      synchronized { jobs.clear(); perSpan.clear(); planningMs.clear() }
    }

    def drain(spark: SparkSession): Unit =
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    private def add(span: Long, k: String, v: Double): Unit = {
      val m = perSpan.getOrElseUpdate(span, mutable.HashMap())
      m(k) = m.getOrElse(k, 0.0) + v
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = Job(e.jobId, span, e.time, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      add(span, "jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        val span = stageSpan.getOrElse(info.stageId, 0L)
        add(span, "stages", 1)
        add(span, "tasks", info.numTasks)
        Option(info.taskMetrics).foreach { m =>
          add(span, "task_run_ms", m.executorRunTime)
          add(span, "task_cpu_ms", m.executorCpuTime / 1e6)
          add(span, "gc_ms", m.jvmGCTime)
          add(span, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add(span, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
          add(span, "input_b", m.inputMetrics.bytesRead)
          add(span, "input_rows", m.inputMetrics.recordsRead)
          add(span, "output_b", m.outputMetrics.bytesWritten)
        }
      }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        EngineListener.this.synchronized {
          planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
  }

  /** Nearest-rank percentile of `xs` (p in 0..100); NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) Double.NaN
    else v(math.min(v.length - 1, math.max(0,
      math.ceil(p / 100.0 * v.length).toInt - 1)))
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  /** Geometric mean; NaN when empty. */
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
