package perfbench

import java.sql.DriverManager
import java.util.SplittableRandom

import scala.collection.mutable

import graft.Serve

/** `dashboard_poll`: the Grafana role. One JDBC connection polls the
  * served analysis views, closed loop, in seeded rotations (each view once
  * per rotation), one rotation per [[SecondsPerRotation]] of the run's
  * seconds, after an untimed warm-up rotation. A single timed rotation (~6 s)
  * let short bursts of host noise move the statement median by 30% between
  * runs. Set-up (server start with the first registration of the views, then
  * the warm-up) costs tens of seconds, so it is done once per run.
  */
object DashboardPoll {
  val WarmupRotations = 1
  val SecondsPerRotation = 5

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  def run(c: Ctx): Unit = {
    val s = c.spark
    val rec = c.rec
    val views = Serve.AnalysisViews

    val port = freePort()
    val (server, startS) = c.secs {
      val srv = rec.call("serve", "Serve.start")(Serve.start(s, c.freshLink("served"), port))
      require(Serve.awaitPort(port), s"thrift server did not open port $port")
      srv
    }
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val conn = DriverManager.getConnection(s"jdbc:hive2://localhost:$port/", "anonymous", "")
    val fetchS = mutable.ArrayBuffer[Double]()
    /** one statement: execute, then fetch every row; returns the fetch seconds too */
    def poll(v: String): (Check.Print, Double) = {
      val st = conn.createStatement()
      try {
        val rs = rec.call("serve", "jdbc.execute")(st.executeQuery(s"SELECT * FROM global_temp.q_$v"))
        c.secs(rec.call("serve", "jdbc.fetch")(Check.jdbcRows(rs)))
      } finally st.close()
    }
    try {
      val (_, warmS) = c.secs((1 to WarmupRotations).foreach(_ => views.foreach(poll)))

      val rng = new SplittableRandom(c.seed)
      val cpu0 = c.inst.cpuS()
      val proc0 = c.procCpuS()
      val rotations = mutable.ArrayBuffer[Double]()
      (1 to math.max(1, c.seconds / SecondsPerRotation)).foreach { _ =>
        val order = views.toArray
        for (i <- order.indices.reverse) {
          val j = rng.nextInt(i + 1)
          val t = order(i); order(i) = order(j); order(j) = t
        }
        rotations += c.secs(order.foreach { v =>
          rec.op("stmt", v) {
            val (p, f) = poll(v)
            fetchS += f
            if (!c.verify(s"view.$v", p)) sys.error("result differs from its pinned value")
          }
        })._2
      }
      val proc = c.procCpuS() - proc0
      val cpu = c.inst.cpuS() - cpu0
      val heap = c.heapMb()

      val ops = rec.ops.filter(_.kind == "stmt").toSeq
      val lat = ops.map(_.durS)
      val r = c.res
      c.setup(Seq(startS + warmS))
      r.e("latency_p50_s", Accounting.median(lat), "s", lat.size)
      r.e("work_s", Accounting.median(rotations.toSeq), "s", rotations.size)
      r.e("exec_cpu_s", cpu / rotations.size, "s", rotations.size)
      r.e("proc_cpu_s", proc / rotations.size, "s", rotations.size)
      r.e("heap_used_end_mb", heap, "MB")
      r.attempted = ops.size
      r.latencies("dashboard_s", lat)
      r.i("dashboard.statements", lat.size.toDouble, "count")
      r.i("setup.thrift_start_s", startS, "s")
      r.i("setup.warmup_s", warmS, "s", WarmupRotations * views.size)

      if (c.inst.traced) {
        r.l("serve.register_s", rec.spans.filter(_.name == "Serve.start").map(_.durUs / 1e6).sum, "s")
        views.foreach { v =>
          val xs = ops.filter(_.name == v).map(_.durS)
          r.l(s"serve.stmt_s_p50.$v", Accounting.median(xs), "s", xs.size)
        }
        r.l("serve.fetch_s_p50", Accounting.median(fetchS.toSeq), "s", fetchS.size)
        c.inst.drain()
        val units = ops.map(o => Accounting.Interval(o.id.toString, o.startUs, o.endUs))
        Accounting.sparkMetrics(c.inst, units, _.opProp.map(_.toString))
          .foreach { case (k, (v, u)) => r.l(k, v, u) }
      }
    } finally {
      conn.close()
      server.stop()
    }
  }
}
