package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{GraftCatalog, TableLog}

/** `log_read_write`: the store role. One seeded, single-threaded script over
  * one table log: trade-shaped appends with a stat column, a deletion-vector
  * delete every few commits, one late OPTIMIZE, and after each commit a
  * range aggregate, a point lookup and a metadata count through the SQL
  * catalog. Every read is checked against the rows the script itself wrote.
  */
object LogReadWrite {
  val Commits = 7
  val RowsPerCommit = 2000
  val DeleteEvery = 3
  val OptimizeAfter = 6
  val Companies = 20

  final case class Trade(id: Long, company: String, tsK: Long, cents: Long, volume: Long, side: String)

  val Schema: StructType = StructType(Seq(
    StructField("trade_id", LongType), StructField("company_id", StringType),
    StructField("ts_k", LongType), StructField("price_cents", LongType),
    StructField("volume", LongType), StructField("side", StringType)))

  def batch(seed: Long, k: Int): Seq[Trade] = {
    val r = new SplittableRandom(seed * 7919L + k)
    (0 until RowsPerCommit).map { i =>
      Trade((k - 1L) * RowsPerCommit + i, f"C${r.nextInt(Companies)}%02d", k * 1000000L + i,
        r.nextLong(100L, 100000L), r.nextLong(1L, 1000L), if (r.nextBoolean()) "buy" else "sell")
    }
  }

  def frame(s: SparkSession, ts: Seq[Trade]): DataFrame =
    s.createDataFrame(ts.map(t => Row(t.id, t.company, t.tsK, t.cents, t.volume, t.side)).asJava, Schema)

  private def du(p: java.nio.file.Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def run(c: Ctx): Unit = {
    val rec = c.rec
    val root = c.dir("log")
    val ss = c.inst.watch(c.spark.newSession())
    ss.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    ss.conf.set("spark.sql.catalog.graft.root", root)
    def one(sql: String): Row = ss.sql(sql).collect().head

    // set-up step: a first append and metadata read on a throwaway table
    val steps = (0 until 3).map { k =>
      c.secs {
        TableLog.commitAppend(frame(ss, batch(c.seed + 1000 + k, 1).take(100)), s"$root/warm$k",
          statCols = Seq("ts_k"))
        one(s"SELECT count(*) FROM graft.warm$k")
      }._2
    }

    val table = s"$root/trades"
    val rng = new SplittableRandom(c.seed)
    val live = mutable.LinkedHashMap[Long, Trade]()
    val readFiles = mutable.ArrayBuffer[Double]()
    def check(what: String, ok: Boolean): Unit = if (!ok) sys.error(s"$what differs from the script")
    def liveFilesNow(): Seq[String] = {
      val v = TableLog.versions(table).last
      Files.readAllLines(Paths.get(table, "_log", s"v$v.txt")).asScala.toSeq.filter(_.nonEmpty)
    }

    val cpu0 = c.inst.cpuS()
    val proc0 = c.procCpuS()
    val (_, scriptS) = c.secs {
      (1 to Commits).foreach { k =>
        val b = batch(c.seed, k)
        rec.op("commit", s"c$k") {
          rec.call("sources", "TableLog.commitAppend")(
            TableLog.commitAppend(frame(ss, b), table, statCols = Seq("ts_k")))
        }
        b.foreach(t => live(t.id) = t)
        if (k % DeleteEvery == 0) {
          val co = f"C${rng.nextInt(Companies)}%02d"
          val vol = rng.nextLong(100L, 600L)
          rec.op("delete", s"d$k") {
            rec.call("sources", "TableLog.deleteWhere")(
              TableLog.deleteWhere(ss, table, s"company_id = '$co' AND volume < $vol"))
          }
          live.filterInPlace { case (_, t) => !(t.company == co && t.volume < vol) }
        }
        if (k == OptimizeAfter)
          rec.op("optimize", s"o$k")(rec.call("sources", "TableLog.optimize")(TableLog.optimize(ss, table)))

        readFiles += liveFilesNow().count(l => !l.startsWith("#") || l.startsWith("#dv:")).toDouble
        val lo = rng.nextLong(1L, k + 1L) * 1000000L + rng.nextLong(0L, RowsPerCommit.toLong)
        val hi = lo + rng.nextLong(1L, 3L * RowsPerCommit)
        rec.op("read", "range") {
          val row = rec.call("sources", "graft.range")(one(
            s"SELECT count(*), coalesce(sum(price_cents), 0) FROM graft.trades WHERE ts_k BETWEEN $lo AND $hi"))
          val want = live.values.filter(t => t.tsK >= lo && t.tsK <= hi)
          check("range aggregate", row.getLong(0) == want.size && row.getLong(1) == want.map(_.cents).sum)
        }
        val id = rng.nextLong(0L, k.toLong * RowsPerCommit)
        rec.op("read", "point") {
          val rows = rec.call("sources", "graft.point")(
            ss.sql(s"SELECT price_cents, volume FROM graft.trades WHERE trade_id = $id").collect())
          val want = live.get(id).map(t => (t.cents, t.volume)).toSeq
          check("point lookup", rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
        }
        rec.op("read", "count") {
          val n = rec.call("sources", "graft.count")(one("SELECT count(*) FROM graft.trades")).getLong(0)
          check("metadata count", n == live.size)
        }
      }
    }
    val proc = c.procCpuS() - proc0
    val cpu = c.inst.cpuS() - cpu0
    val heap = c.heapMb()

    // space amplification: table bytes vs the live rows written once
    val onDisk = du(Paths.get(table))
    val once = c.dir("log_once") + "/t"
    frame(ss, live.values.toSeq).coalesce(1).write.parquet(once)
    val amp = onDisk.toDouble / du(Paths.get(once))

    val ops = rec.ops.toSeq
    val reads = ops.filter(_.kind == "read").map(_.durS)
    val commits = ops.filter(_.kind == "commit").map(_.durS)
    val r = c.res
    c.setup(steps)
    r.e("latency_p50_s", Accounting.median(ops.map(_.durS)), "s", ops.size)
    r.e("work_s", scriptS, "s")
    r.e("exec_cpu_s", cpu, "s")
    r.e("proc_cpu_s", proc, "s")
    r.e("heap_used_end_mb", heap, "MB")
    r.attempted = ops.size
    r.latencies("log_commit_s", commits)
    r.latencies("log_read_s", reads)
    r.i("log_space_amp", amp, "ratio")

    if (c.inst.traced) {
      def p50(kind: String) = Accounting.median(ops.filter(_.kind == kind).map(_.durS))
      r.l("sources.commit_s_p50", p50("commit"), "s", commits.size)
      r.l("sources.delete_s_p50", p50("delete"), "s")
      r.l("sources.optimize_s", p50("optimize"), "s")
      c.inst.drain()
      val plans = c.inst.plans.records.asScala.toSeq
      val readPlan = ops.filter(_.kind == "read").map { o =>
        plans.filter { case (s, _) => s >= o.startUs && s <= o.endUs }.map(_._2 / 1000.0).sum
      }
      r.l("sources.read_plan_s_p50", Accounting.median(readPlan), "s", readPlan.size)
      r.l("sources.read_files_per_read_p50", Accounting.median(readFiles.toSeq), "count")
      val end = TableLogs.of(Paths.get(table)).get
      r.l("sources.tables_end", 1.0, "count")
      r.l("sources.versions_end", end.versions.toDouble, "count")
      r.l("sources.live_files_end", end.liveFiles.toDouble, "count")
      r.l("sources.dv_files_end", end.dvFiles.toDouble, "count")
      r.l("sources.bytes_on_disk_end", end.bytes.toDouble, "B")
      val units = ops.map(o => Accounting.Interval(o.id.toString, o.startUs, o.endUs))
      Accounting.sparkMetrics(c.inst, units, _.opProp.map(_.toString))
        .foreach { case (k, (v, u)) => r.l(k, v, u) }
    }
  }
}
