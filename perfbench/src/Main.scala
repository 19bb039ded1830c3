package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run reports. `e2e` holds the end-to-end metrics, `layer` the
  * per-layer ones (traced run only), `info` everything else printed for a
  * reader: the workload-specific figures with their sample counts.
  */
final class Result {
  final case class M(value: Double, unit: String, n: Int)
  val e2e = mutable.LinkedHashMap[String, M]()
  val layer = mutable.LinkedHashMap[String, M]()
  val info = mutable.LinkedHashMap[String, M]()
  val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def e(name: String, v: Double, unit: String, n: Int = 1): Unit = e2e(name) = M(v, unit, n)
  def l(name: String, v: Double, unit: String, n: Int = 1): Unit = layer(name) = M(v, unit, n)
  def i(name: String, v: Double, unit: String, n: Int = 1): Unit = info(name) = M(v, unit, n)

  /** Median and the highest listed percentile with >= 10 samples beyond it. */
  def latencies(prefix: String, xs: Seq[Double], unit: String = "s"): Unit = {
    i(s"$prefix.p50", Accounting.median(xs), unit, xs.size)
    Seq(0.99, 0.9, 0.75).find(p => xs.size * (1 - p) >= 10).foreach { p =>
      i(s"$prefix.p${math.round(p * 100)}", Accounting.pct(xs, p), unit, xs.size)
    }
  }

  def problem(msg: String): Unit = { problems += msg; System.err.println(s"[perfbench] $msg") }

  private def js(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(m: mutable.LinkedHashMap[String, M]) = m.map { case (k, v) =>
    s"${js(k)}:{\"value\":${num(v.value)},\"unit\":${js(v.unit)},\"n\":${v.n}}"
  }.mkString("{", ",", "}")

  def json: String =
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"info":${obj(info)},""" +
      s""""problems":${problems.map(js).mkString("[", ",", "]")}}"""
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val inst: Instruments, val sessionS: Double,
                val seed: Long, val seconds: Int, val data: String, val work: Path,
                val expected: Map[String, (Long, Long)], val pin: Boolean,
                val res: Result) {
  val rec: Recorder = inst.rec
  val pinned = mutable.LinkedHashMap[String, (Long, Long)]()

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** A fresh path to the input tables: the program memoizes per data-dir
    * path, so a path it has not seen charges every build to the caller.
    */
  def freshLink(name: String): String = {
    val p = work.resolve(name)
    Files.createSymbolicLink(p, Paths.get(data).toAbsolutePath)
    p.toString
  }

  /** Compare a result fingerprint against its pinned value (or pin it). */
  def verify(key: String, got: Check.Print): Boolean = {
    if (pin) { pinned(key) = (got.rows, got.hash); true }
    else expected.get(key) match {
      case Some((r, h)) if r == got.rows && h == got.hash => true
      case Some((r, h)) =>
        res.problem(s"$key: got rows=${got.rows} hash=${got.hash}, pinned rows=$r hash=$h"); false
      case None => res.problem(s"$key: no pinned value"); false
    }
  }

  /** the program's per-process scratch directories (`graft.Scratch`) */
  def scratchRoots: Seq[Path] = {
    val tag = s"_p${ProcessHandle.current().pid()}_"
    val st = Files.list(Paths.get("/tmp"))
    try st.iterator().asScala.filter(_.getFileName.toString.contains(tag)).toSeq
    finally st.close()
  }

  /** CPU seconds of every thread of this JVM: scheduling, executors, JIT, GC */
  def procCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection, in MB: the post-collection usage
    * of every heap pool, so allocations racing the call do not count.
    */
  def heapMb(): Double = {
    // the second collection frees what reference cleanup after the first released
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** set-up time: session build + median of the repeated set-up step + the
    * one-off remainder (server start, warm-up).
    */
  def setup(steps: Seq[Double], oneOffS: Double = 0.0): Unit = {
    res.e("setup_s", sessionS + Accounting.median(steps) + oneOffS, "s", steps.size)
    res.i("setup.session_s", sessionS, "s")
    res.i("setup.step_s", Accounting.median(steps), "s", steps.size)
    res.i("setup.one_off_s", oneOffS, "s")
  }
}

/** Entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *    --data DIR --work DIR --out FILE [--expected FILE] [--pin FILE]`
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_stream" -> IngestStream.run,
    "dashboard_poll" -> DashboardPoll.run,
    "heavy_queries" -> HeavyQueries.run,
    "log_read_write" -> LogReadWrite.run)

  /** span layers: `op` is the benchmark's own driving code between calls */
  val Layers: Seq[String] = Seq("op", "streaming", "ingest", "serve", "query", "memo", "sources", "spark")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // graft.Bench's session settings
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val expected = a.get("expected").filter(p => Files.exists(Paths.get(p)))
      .map(p => Pins.read(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)))
      .getOrElse(Map.empty)
    val res = new Result
    val inst = new Instruments(spark, traced)
    val ctx = new Ctx(spark, inst, sessionS, a("seed").toLong, a("seconds").toInt, a("data"), work,
      expected, a.contains("pin"), res)
    try run(ctx)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        res.problem(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    res.failed = math.max(res.failed, ctx.rec.ops.count(!_.ok).toLong)
    ctx.rec.ops.filterNot(_.ok).take(5).foreach(o => res.problem(s"op ${o.kind}:${o.name} failed: ${o.error}"))
    if (traced) {
      inst.drain()
      Accounting.addJobSpans(inst)
      val self = Accounting.selfByLayer(ctx.rec.spans.toSeq)
      Layers.foreach(l => res.l(s"self_s.$l", self.getOrElse(l, 0.0), "s"))
      res.l("trace_overhead_self_frac",
        inst.overheadS / math.max(1e-9, ctx.rec.ops.map(_.durS).sum), "frac")
      writeSpans(ctx, work.resolve("spans.jsonl"))
    }
    a.get("pin").foreach { p =>
      Files.write(Paths.get(p), Pins.write(ctx.pinned.toMap).getBytes(StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(a("out")), res.json.getBytes(StandardCharsets.UTF_8))
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }

  private def writeSpans(ctx: Ctx, p: Path): Unit = {
    val sb = new StringBuilder
    ctx.rec.spans.sortBy(_.startUs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name.replace("\"", "'")}","start_us":${s.startUs},"end_us":${s.endUs}}\n"""
    }
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** State of the table logs under some directories: any directory with a
  * `_log/v<N>.txt` manifest is one (layout of `graft.sources.TableLog`).
  */
object TableLogs {
  final case class Log(versions: Int, liveFiles: Int, dvFiles: Int, bytes: Long)

  def under(roots: Seq[Path]): Seq[Log] = roots.flatMap { root =>
    val st = Files.walk(root)
    try st.iterator().asScala.filter(p => p.getFileName.toString == "_log" && Files.isDirectory(p))
      .toSeq.flatMap(log => of(log.getParent))
    finally st.close()
  }

  def of(table: Path): Option[Log] = {
    val ls = Files.list(table.resolve("_log"))
    val vs = try ls.iterator().asScala.map(_.getFileName.toString)
      .collect { case f if f.matches("v\\d+\\.txt") => f.drop(1).dropRight(4).toLong }.toSeq
      finally ls.close()
    if (vs.isEmpty) None
    else {
      val lines = Files.readAllLines(table.resolve("_log").resolve(s"v${vs.max}.txt")).asScala
        .filter(_.nonEmpty)
      val bytes = Files.walk(table).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      Some(Log(vs.size, lines.count(!_.startsWith("#")), lines.count(_.startsWith("#dv:")), bytes))
    }
  }
}

/** Pinned fingerprints: one `key rows hash` line each. */
object Pins {
  def read(s: String): Map[String, (Long, Long)] =
    s.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, r, h) = l.split("\\s+")
      k -> (r.toLong, h.toLong)
    }.toMap
  def write(m: Map[String, (Long, Long)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (r, h)) => s"$k $r $h" }.mkString("", "\n", "\n")
}
