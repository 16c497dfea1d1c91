package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds so benchmark spans and
  * Spark's listener events (epoch milliseconds) share one clock.
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long) {
  def dur: Long = end - start
}

object Span {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  /** A span's duration minus the part of it its children cover. */
  def selfTime(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.dur - covered
  }
}

/** Spark-side counters of one op call, filled by [[SparkCensus]]. */
final class OpSpark {
  var jobs = 0L
  var tasks = 0L
  var jobSpans = Vector.empty[Span]
  var taskMs = 0.0
  var gcMs = 0.0
  var planMs = 0.0
}

/** Attributes Spark jobs, tasks and query planning to the op span that
  * caused them. Each traced op sets its span id as the Spark job group;
  * jobs carry it in their properties, and tasks and SQL executions are
  * mapped to it through their stage and job ids. The benchmark drains the
  * listener bus at the end of every traced op, so all of an op's events
  * have arrived before its numbers are read.
  */
final class SparkCensus extends SparkListener with QueryExecutionListener {
  private val byOp = mutable.HashMap.empty[Long, OpSpark]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  @volatile var current: Long = -1L // the op span open on the client thread

  def take(op: Long): OpSpark = synchronized(byOp.remove(op).getOrElse(new OpSpark))

  private def of(op: Long): OpSpark = byOp.getOrElseUpdate(op, new OpSpark)

  private def groupOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = groupOf(e.properties)
    if (op >= 0) {
      jobStart(e.jobId) = (op, e.time * 1000000L)
      e.stageIds.foreach(stageOp(_) = op)
      of(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      val o = of(op)
      o.jobSpans :+= Span(e.jobId.toLong, "spark.job", t0,
        math.max(t0, e.time * 1000000L), op)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val o = of(op)
      o.tasks += 1
      o.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach(m => o.gcMs += m.jvmGCTime.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    plan(qe)

  // analysis + optimization + physical planning of one executed query;
  // delivered after the action, before the drain at the end of the op
  private def plan(qe: QueryExecution): Unit = synchronized {
    val op = current
    if (op >= 0) of(op).planMs +=
      qe.tracker.phases.valuesIterator.map(_.durationMs.toDouble).sum
  }
}

/** Per-op-class sums over the traced calls. */
final class OpClassStats {
  var calls = 0L
  var jobs = 0L
  var tasks = 0L
  var buildMs = 0.0
  var jobMs = 0.0
  var driverMs = 0.0
  var taskMs = 0.0
  var gcMs = 0.0
  var planMs = 0.0
}

/** Times every facade call the workloads make. Untraced, it only records
  * latencies. Traced, it also opens a span per call, tags the call's
  * Spark jobs with the span id and collects the census.
  */
final class Recorder(spark: SparkSession, val traced: Boolean, cores: Int) {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val classes = mutable.LinkedHashMap.empty[String, OpClassStats]
  val spans = mutable.ArrayBuffer.empty[Span]
  // (op class, jobs, tasks) per traced call in call order: the
  // determinism audit compares these between two runs of one seed
  val sequence = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var attempted = 0L
  var failed = 0L
  var opWallNs = 0L
  private var nextId = 0L
  private val census = new SparkCensus
  private val sc = spark.sparkContext

  if (traced) {
    sc.addSparkListener(census)
    spark.listenerManager.register(census)
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(census)
    spark.listenerManager.unregister(census)
  }

  /** Run one facade call. `facade` is the call itself (for reads, the lazy
    * DataFrame build); `consume` turns its result into what a client
    * receives, e.g. by `collect()`. Returns the consumed value, or None
    * when the call threw, which counts as a failed op.
    */
  def op[A, R](cls: String)(facade: => A)(consume: A => R): Option[R] = {
    val id = { nextId += 1; nextId }
    if (traced) {
      // events of earlier untraced calls must not land on this span
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      census.current = id
      sc.setJobGroup(id.toString, cls, interruptOnCancel = false)
    }
    val t0 = Span.now()
    var built = t0
    val out = try {
      val a = facade
      built = Span.now()
      Some(consume(a))
    } catch {
      case scala.util.control.NonFatal(e) =>
        check(ok = false, s"$cls threw $e")
        None
    } finally if (traced) sc.clearJobGroup()
    val t2 = Span.now()
    opWallNs += t2 - t0
    attempted += 1
    latencies.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
    if (traced) {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      census.current = -1L
      val s = census.take(id)
      val opSpan = Span(id, cls, t0, t2, 0L)
      spans += opSpan
      spans += Span(-id, "collection.build", t0, built, id)
      spans ++= s.jobSpans
      val st = classes.getOrElseUpdate(cls, new OpClassStats)
      st.calls += 1
      st.jobs += s.jobs
      st.tasks += s.tasks
      st.buildMs += (built - t0) / 1e6
      val jobMs = s.jobSpans.map(_.dur).sum / 1e6
      st.jobMs += jobMs
      st.driverMs += Span.selfTime(opSpan, s.jobSpans) / 1e6
      st.taskMs += s.taskMs
      st.gcMs += s.gcMs
      st.planMs += s.planMs
      sequence += ((cls, s.jobs, s.tasks))
    }
    out
  }

  /** Record the outcome of an output check. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    if (failed <= 5) System.err.println(s"perfbench: check failed: $what")
  }

  def perClass(cls: String): Map[String, Double] = {
    val s = classes.getOrElse(cls, new OpClassStats)
    def per(x: Double) = if (s.calls == 0) 0.0 else x / s.calls
    Map(
      "plan_ms" -> per(s.planMs),
      "jobs" -> per(s.jobs.toDouble),
      "tasks" -> per(s.tasks.toDouble),
      "job_ms" -> per(s.jobMs),
      "driver_ms" -> per(s.driverMs),
      "task_ms" -> per(s.taskMs),
      "slot_util" -> (if (s.jobMs == 0) 0.0 else s.taskMs / (s.jobMs * cores)),
      "gc_ms" -> per(s.gcMs),
      "build_ms" -> per(s.buildMs))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
