package perfbench

import scala.jdk.CollectionConverters._

import graft.{Memo, SparkEntry}

/** `heavy_queries`: one cold pass over three costly registered queries
  * through a data path the process has not used (so each query pays its
  * per-path memoized builds, as in one graft.Bench pass), then
  * `Memo.releaseAll()`. The three are the index-build, per-trigger-planning
  * and iterative-loop cases the ROADMAP names first.
  *
  * An untimed warm-up query on another path takes the JVM's first-query
  * cost. The pass runs in graft.Bench's (alphabetical) order rather than a
  * seeded one: with three queries, the order decides which one pays the
  * rest of the JIT warm-up, which moved the per-query median by ~20%
  * between seeds. The seed therefore does not change this workload.
  */
object HeavyQueries {
  val Queries: Seq[String] = Seq("ann_ivfpq_topk", "cdf_stream_agg", "graph_pagerank")
  val WarmUp = "dedup_ppjoin"

  def run(c: Ctx): Unit = {
    val rec = c.rec
    // set-up step: the query registry and a fresh session for the pass
    val (sessions, steps) = (0 until 3).map { _ =>
      c.secs { SparkEntry.queries; c.inst.watch(c.spark.newSession()) }
    }.unzip
    val (_, warmS) = c.secs {
      val ws = c.inst.watch(c.spark.newSession())
      val p = Check.noopWrite(SparkEntry.queries(WarmUp)(ws, c.freshLink("warm")))
      if (!c.verify(s"query.$WarmUp", p)) c.res.failed += 1
      Memo.releaseAll()
    }
    val ss = sessions.last
    val link = c.freshLink("pass0")

    val buildS = scala.collection.mutable.Map[String, Double]()
    val runS = scala.collection.mutable.Map[String, Double]()
    val cpu0 = c.inst.cpuS()
    val proc0 = c.procCpuS()
    val (_, passS) = c.secs {
      Queries.foreach { q =>
        rec.op("query", q) {
          val (df, b) = c.secs(rec.call("query", s"$q.build")(SparkEntry.queries(q)(ss, link)))
          val (p, r) = c.secs(rec.call("query", s"$q.run")(Check.noopWrite(df)))
          buildS(q) = b
          runS(q) = r
          if (!c.verify(s"query.$q", p)) sys.error("result differs from its pinned value")
        }
      }
    }
    val proc = c.procCpuS() - proc0
    val cpu = c.inst.cpuS() - cpu0
    rec.call("memo", "Memo.releaseAll")(Memo.releaseAll())
    val sc = c.spark.sparkContext
    val pinned = sc.getPersistentRDDs.size
    val cachedMb = sc.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)
    val heap = c.heapMb()

    val ops = rec.ops.filter(_.kind == "query").toSeq
    val r = c.res
    c.setup(steps, warmS)
    r.i("setup.warmup_s", warmS, "s")
    r.e("latency_p50_s", Accounting.median(ops.map(_.durS)), "s", ops.size)
    r.e("work_s", passS, "s")
    r.e("exec_cpu_s", cpu, "s")
    r.e("proc_cpu_s", proc, "s")
    r.e("heap_used_end_mb", heap, "MB")
    r.attempted = ops.size
    r.i("query_pass_s", passS, "s")
    ops.foreach(o => r.i(s"query.s.${o.name}", o.durS, "s"))
    r.i("memo.pinned_rdds_after_pass", pinned.toDouble, "count")
    r.i("memo.cached_mb_after_pass", cachedMb, "MB")

    if (c.inst.traced) {
      // the sources layer as the pass left it: every table log its queries
      // committed under the program's per-process scratch
      val logs = TableLogs.under(c.scratchRoots)
      r.l("sources.tables_end", logs.size.toDouble, "count")
      r.l("sources.versions_end", logs.map(_.versions).sum.toDouble, "count")
      r.l("sources.live_files_end", logs.map(_.liveFiles).sum.toDouble, "count")
      r.l("sources.dv_files_end", logs.map(_.dvFiles).sum.toDouble, "count")
      r.l("sources.bytes_on_disk_end", logs.map(_.bytes).sum.toDouble, "B")
      r.l("memo.pinned_rdds_after_pass", pinned.toDouble, "count")
      r.l("memo.cached_mb_after_pass", cachedMb, "MB")
      c.inst.drain()
      val t = c.inst.trace.get
      val jobs = t.jobs.values.asScala.toSeq.filter(_.endUs >= 0)
      ops.foreach { o =>
        val unit = Seq(Accounting.Interval(o.id.toString, o.startUs, o.endUs))
        val mine = Accounting.attribute(unit, jobs, _.opProp.map(_.toString))
          .getOrElse(o.id.toString, Nil)
        val inJob = Accounting.unionUs(mine.map(j => (j.startUs, j.endUs)), o.startUs, o.endUs)
        r.l(s"query.build_s.${o.name}", buildS.getOrElse(o.name, 0.0), "s")
        r.l(s"query.run_s.${o.name}", runS.getOrElse(o.name, 0.0), "s")
        r.l(s"query.outside_job_s.${o.name}", (o.endUs - o.startUs - inJob) / 1e6, "s")
        r.l(s"query.jobs.${o.name}", mine.size.toDouble, "count")
      }
      val units = ops.map(o => Accounting.Interval(o.id.toString, o.startUs, o.endUs))
      Accounting.sparkMetrics(c.inst, units, _.opProp.map(_.toString))
        .foreach { case (k, (v, u)) => r.l(k, v, u) }
    }
  }
}
