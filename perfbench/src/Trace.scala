package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds at nanoTime resolution, on the same base as Spark's
  * listener timestamps (epoch milliseconds).
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** One timed interval at a layer boundary; `parent` 0 = root. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** One workload operation: the unit latency and per-op accounting use. */
final class Op(val id: Int, val kind: String, val name: String, val startUs: Long) {
  var endUs: Long = startUs
  var ok: Boolean = true
  var error: String = ""
  def durS: Double = (endUs - startUs) / 1e6
}

/** Driver-side recorder. Ops are always kept (they carry the latencies);
  * spans only in a traced run. Ops and calls run on the main thread one
  * at a time, so a stack of open spans gives every call its parent.
  */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var stack: List[Int] = Nil
  val selfNs = new AtomicLong() // time spent recording, for the overhead estimate

  def newId(): Int = { val i = nextId; nextId += 1; i }

  /** Run one workload op: sets the `perfbench.op` local property so Spark
    * jobs started from this thread carry the op id. A throwing op is
    * recorded as failed and does not propagate.
    */
  def op(kind: String, name: String)(f: => Unit): Op = {
    val o = new Op(newId(), kind, name, Clock.us)
    ops += o
    sc.setLocalProperty(Recorder.OpProp, o.id.toString)
    stack = o.id :: stack
    try f
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        o.ok = false
        o.error = (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
          .take(300)
    } finally {
      o.endUs = Clock.us
      stack = stack.tail
      sc.setLocalProperty(Recorder.OpProp, null)
      if (traced) spans += Span(o.id, 0, "op", s"${o.kind}:${o.name}", o.startUs, o.endUs)
    }
    o
  }

  /** A timed call into one of the program's public entry points. */
  def call[A](layer: String, name: String)(f: => A): A = {
    if (!traced) return f
    val t0 = System.nanoTime()
    val id = newId()
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s = Clock.us
    selfNs.addAndGet(System.nanoTime() - t0)
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, layer, name, s, Clock.us)
      stack = stack.tail
      selfNs.addAndGet(System.nanoTime() - t1)
    }
  }

  /** Add a span observed after the fact (a job, a micro-batch). */
  def add(parent: Int, layer: String, name: String, s: Long, e: Long): Int = {
    val id = newId()
    spans += Span(id, parent, layer, name, s, e)
    id
  }
}

object Recorder {
  val OpProp = "perfbench.op"
}

/** Counter-only listener of the untraced run: executor task CPU time. */
class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

final class JobRec(val jobId: Int, val startUs: Long, val opProp: Option[Int],
                   val execId: Option[Long], val batchKey: Option[String],
                   val stageIds: Seq[Int]) {
  @volatile var endUs: Long = -1L
}

final class StageRec(val stageId: Int) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val durations = mutable.ArrayBuffer[Long]()
}

/** Traced run's listener: jobs with their op property, per-stage task
  * metrics, SQL execution starts. Counts CPU like [[CpuListener]].
  */
class TraceListener extends CpuListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val sqlStartUs = new ConcurrentHashMap[Long, java.lang.Long]()
  val selfNs = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
      yield s"$q/$b"
    jobs.put(e.jobId, new JobRec(e.jobId, e.time * 1000L,
      prop(Recorder.OpProp).flatMap(_.toIntOption),
      prop("spark.sql.execution.id").flatMap(_.toLongOption), batch,
      e.stageInfos.map(_.stageId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    super.onTaskEnd(e)
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.durations += e.taskInfo.duration
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed(sqlStartUs.put(s.executionId, s.time * 1000L))
    case _ => ()
  }
}

/** Planning-phase time of every Dataset action, from
  * `QueryExecution.tracker` (analysis + optimization + planning).
  */
class PlanListener extends QueryExecutionListener {
  /** (first phase start in epoch us, summed phase ms) per finished action */
  val records = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) records.add((ph.map(_.startTimeMs).min * 1000L, ph.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

/** Instrumentation for one run: the untraced run gets only [[CpuListener]];
  * the traced run gets [[TraceListener]], [[PlanListener]] and spans.
  */
final class Instruments(val spark: SparkSession, val traced: Boolean) {
  val sc: SparkContext = spark.sparkContext
  val rec = new Recorder(traced, sc)
  val listener: CpuListener = if (traced) new TraceListener else new CpuListener
  val plans = new PlanListener
  sc.addSparkListener(listener)
  watch(spark)

  /** Register the planning listener on a session (each session has its own). */
  def watch(s: SparkSession): SparkSession = {
    if (traced) s.listenerManager.register(plans)
    s
  }

  /** Executor CPU seconds seen so far, after the listener bus has drained. */
  def cpuS(): Double = { drain(); listener.cpuNs.get / 1e9 }

  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  def trace: Option[TraceListener] = listener match {
    case t: TraceListener => Some(t)
    case _ => None
  }

  def overheadS: Double =
    (rec.selfNs.get + trace.map(_.selfNs.get).getOrElse(0L)) / 1e9
}

/** Per-op Spark accounting over a set of units (ops or micro-batches). */
object Accounting {
  final case class Interval(key: String, startUs: Long, endUs: Long)

  /** union length of [s, e) intervals clipped to [lo, hi) */
  def unionUs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Jobs attributed to each unit: a job whose `perfbench.op` property names
    * a unit belongs to it; otherwise (JDBC handler threads, stream threads)
    * the unit whose interval contains the job's start.
    */
  def attribute(units: Seq[Interval], jobs: Seq[JobRec],
                keyOf: JobRec => Option[String]): Map[String, Seq[JobRec]] = {
    val byKey = units.map(u => u.key -> u).toMap
    jobs.flatMap { j =>
      keyOf(j).filter(byKey.contains)
        .orElse(units.find(u => j.startUs >= u.startUs && j.startUs <= u.endUs).map(_.key))
        .map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** The `spark.*` per-op metrics over `units`. */
  def sparkMetrics(inst: Instruments, units: Seq[Interval],
                   keyOf: JobRec => Option[String]): Map[String, (Double, String)] = {
    val t = inst.trace.get
    val n = math.max(1, units.size).toDouble
    val jobs = t.jobs.values.asScala.toSeq.filter(_.endUs >= 0)
    val byUnit = attribute(units, jobs, keyOf)
    val mine = byUnit.values.flatten.toSeq
    val stageIds = mine.flatMap(_.stageIds).distinct
    val st = stageIds.flatMap(id => Option(t.stages.get(id)))
    val inJobUs = units.map { u =>
      unionUs(byUnit.getOrElse(u.key, Nil).map(j => (j.startUs, j.endUs)), u.startUs, u.endUs)
    }
    val wallUs = units.map(u => u.endUs - u.startUs).sum
    val inJob = inJobUs.sum
    val cores = inst.sc.defaultParallelism
    val plans = inst.plans.records.asScala.toSeq
    val planMs = units.map { u =>
      val tracked = plans.filter { case (s, _) => s >= u.startUs && s <= u.endUs }
      if (tracked.nonEmpty) tracked.map(_._2.toDouble).sum
      else {
        // JDBC statements have no tracker here: SQL execution start -> first job
        byUnit.getOrElse(u.key, Nil).groupBy(_.execId).collect {
          case (Some(ex), js) if t.sqlStartUs.containsKey(ex) =>
            (js.map(_.startUs).min - t.sqlStartUs.get(ex)) / 1000.0
        }.sum
      }
    }.sum
    val skews = st.filter(_.tasks >= 2).map { s =>
      val d = s.durations.map(_.toDouble).toSeq
      val m = median(d)
      if (m > 0) d.max / m else 1.0
    }
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs_per_op" -> (mine.size / n, "count"),
      "spark.stages_per_op" -> (st.size / n, "count"),
      "spark.tasks_per_op" -> (st.map(_.tasks).sum / n, "count"),
      "spark.plan_ms_per_op" -> (planMs / n, "ms"),
      "spark.in_job_s_per_op" -> (inJob / 1e6 / n, "s"),
      "spark.outside_job_s_per_op" -> ((wallUs - inJob) / 1e6 / n, "s"),
      "spark.core_busy_frac" -> (
        if (inJob > 0) st.map(_.runMs).sum * 1000.0 / (inJob.toDouble * cores) else 0.0, "frac"),
      "spark.shuffle_read_mb_per_op" -> (st.map(_.shuffleRead).sum / mb / n, "MB"),
      "spark.shuffle_write_mb_per_op" -> (st.map(_.shuffleWrite).sum / mb / n, "MB"),
      "spark.spill_mb_per_op" -> (st.map(_.spill).sum / mb / n, "MB"),
      "spark.result_mb_per_op" -> (st.map(_.resultBytes).sum / mb / n, "MB"),
      "spark.gc_s_per_op" -> (st.map(_.gcMs).sum / 1000.0 / n, "s"),
      "spark.task_skew_p90" -> (if (skews.isEmpty) 1.0 else pct(skews, 0.9), "ratio"))
  }

  /** Hang every finished job under the innermost span containing its start;
    * jobs outside every span (set-up, checks) are left out.
    */
  def addJobSpans(inst: Instruments): Unit = inst.trace.foreach { t =>
    val open = inst.rec.spans.toSeq
    t.jobs.values.asScala.toSeq.filter(_.endUs >= 0).sortBy(_.jobId).foreach { j =>
      open.filter(s => j.startUs >= s.startUs && j.startUs <= s.endUs)
        .sortBy(_.durUs).headOption
        .foreach(p => inst.rec.add(p.id, "spark", s"job ${j.jobId}", j.startUs, j.endUs))
    }
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer.
    */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
        (s.durUs - unionUs(c, s.startUs, s.endUs)) / 1e6
      }.sum
    }
  }
}
