package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamIngest

/** `ingest_stream`: the reference consumer. A fixed backlog is replayed
  * through a rate-limited stream (parse and write bound), then a following
  * stream consumes small files written on an open-loop schedule (per-trigger
  * cost bound); each live file's freshness runs from its due time to the
  * end of the micro-batch that committed it.
  */
object IngestStream {
  val ReplayFiles = 8
  val ReplayFramesPerFile = 5000
  val MaxFilesPerTrigger = 4
  val LiveIntervalUs = 200000L
  val LiveFramesPerFile = 20
  val WarmFrames = 100

  private def writeFile(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))

  /** file name -> batch id, from the checkpoint's file-source log */
  private def batchOf(ckpt: String): Map[String, Long] = {
    val d = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(d)) return Map.empty
    val path = "\"path\":\"([^\"]+)\"".r
    val batch = "\"batchId\":(\\d+)".r
    val st = Files.list(d)
    try st.iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => try Files.readAllLines(f).asScala catch { case _: java.io.IOException => Nil })
      .flatMap { l =>
        for (p <- path.findFirstMatchIn(l); b <- batch.findFirstMatchIn(l))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
    finally st.close()
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
  private def startUs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
  private def endUs(p: StreamingQueryProgress): Long =
    startUs(p) + (dur(p, "triggerExecution") * 1e6).toLong

  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Rows landed per table and quarantined per reason vs the generator. */
  private def checkTables(c: Ctx, tables: String, want: Frames.Expect,
                          phase: String): (Boolean, Long) = {
    val s = c.spark
    def count(t: String) =
      if (Files.isDirectory(Paths.get(tables, t))) s.read.parquet(s"$tables/$t").count() else 0L
    val landed = Frames.Tables.map(t => t -> count(t)).toMap
    val quar =
      if (Files.isDirectory(Paths.get(tables, "_quarantine")))
        s.read.parquet(s"$tables/_quarantine").groupBy("reason").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      else Map.empty[String, Long]
    val ok = Frames.Tables.forall(t => landed(t) == want.landed.getOrElse(t, 0L)) &&
      Frames.Reasons.forall(r => quar.getOrElse(r, 0L) == want.quarantined.getOrElse(r, 0L))
    if (!ok) c.res.problem(s"$phase: landed $landed quarantined $quar, " +
      s"expected ${want.landed} ${want.quarantined}")
    (ok, landed.values.sum)
  }

  def run(c: Ctx): Unit = {
    val s = c.spark
    val rec = c.rec
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    // load generation, excluded from set-up
    // the live phase lasts the run's seconds less two for the final drain
    val liveN = math.max(10, (c.seconds - 2) * 1000000 / LiveIntervalUs.toInt)
    val ((replayWant, live), genS) = c.secs {
      val src = c.dir("replay_src")
      val replay = (0 until ReplayFiles).map { i =>
        val (body, want) = Frames.file(c.seed, i, ReplayFramesPerFile)
        writeFile(src, f"f$i%05d.json", body)
        want
      }
      (0 until 3).foreach { k =>
        writeFile(c.dir(s"warm$k/src"), "w.json", Frames.file(c.seed, 90000 + k, WarmFrames)._1)
      }
      (replay.foldLeft(Frames.Empty)(_ + _),
        (0 until liveN).map(i => Frames.file(c.seed, 10000 + i, LiveFramesPerFile)))
    }
    val liveWant = live.map(_._2).foldLeft(Frames.Empty)(_ + _)
    c.res.i("load.gen_s", genS, "s")

    // set-up step: drain one small file through a fresh stream
    val steps = (0 until 3).map { k =>
      c.secs(StreamIngest.start(s, c.dir(s"warm$k/src"), c.dir(s"warm$k/tables"),
        c.dir(s"warm$k/ckpt")).awaitTermination())._2
    }

    // replay: a fixed backlog, rate-limited per trigger
    val replayCkpt = c.dir("replay_ckpt")
    val replayTables = c.dir("replay_tables")
    val cpu0 = c.inst.cpuS()
    val proc0 = c.procCpuS()
    var replayQ: StreamingQuery = null
    val replayOp = rec.op("replay", "backlog") {
      replayQ = rec.call("streaming", "StreamIngest.start") {
        StreamIngest.start(s, c.dir("replay_src"), replayTables, replayCkpt,
          maxFilesPerTrigger = Some(MaxFilesPerTrigger))
      }
      replayQ.awaitTermination()
    }
    val replayProc = c.procCpuS() - proc0
    val replayCpu = c.inst.cpuS() - cpu0

    // live: open-loop writer into a following stream
    val liveSrc = c.dir("live_src")
    val stage = c.dir("live_stage")
    val liveCkpt = c.dir("live_ckpt")
    val liveTables = c.dir("live_tables")
    val followQ = rec.call("streaming", "StreamIngest.start") {
      StreamIngest.start(s, liveSrc, liveTables, liveCkpt, availableNow = false)
    }
    // an untimed first file, so the timed batches run on a warm plan
    val (warmBody, warmWant) = Frames.file(c.seed, 99999, LiveFramesPerFile)
    writeFile(stage, "w.json", warmBody)
    Files.move(Paths.get(stage, "w.json"), Paths.get(liveSrc, "w.json"), StandardCopyOption.ATOMIC_MOVE)
    val ready = System.nanoTime() + 60000000000L
    while (!(batchOf(liveCkpt).contains("w.json") && dataBatches(followQ).nonEmpty) &&
        System.nanoTime() < ready) Thread.sleep(20)
    val names = live.indices.map(i => f"l$i%05d.json")
    live.indices.foreach(i => writeFile(stage, names(i), live(i)._1))
    val dueUs = new Array[Long](liveN)
    val wroteUs = new Array[Long](liveN)
    val t0 = Clock.us + 200000L
    val writer = new Thread(() => {
      (0 until liveN).foreach { i =>
        dueUs(i) = t0 + i * LiveIntervalUs
        val wait = dueUs(i) - Clock.us
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        Files.move(Paths.get(stage, names(i)), Paths.get(liveSrc, names(i)),
          StandardCopyOption.ATOMIC_MOVE)
        wroteUs(i) = Clock.us
      }
    })
    var membership = Map.empty[String, Long]
    val liveOp = rec.op("live", "follow") {
      writer.start()
      writer.join()
      val deadline = System.nanoTime() + 60000000000L
      while ({ membership = batchOf(liveCkpt); !names.forall(membership.contains) } &&
          System.nanoTime() < deadline) Thread.sleep(20)
      // the batch that logged the last file must also have committed
      val last = names.map(membership.getOrElse(_, -1L)).max
      while (!dataBatches(followQ).exists(_.batchId >= last) && System.nanoTime() < deadline)
        Thread.sleep(20)
      require(names.forall(membership.contains), "live files not consumed within 60 s")
    }
    val heap = c.heapMb()
    followQ.stop()

    // freshness: due time -> end of the committing micro-batch
    val liveBatches = dataBatches(followQ).filter(_.batchId > membership.getOrElse("w.json", -1L))
    val endOf = liveBatches.map(p => p.batchId -> endUs(p)).toMap
    val fresh = live.indices.flatMap { i =>
      membership.get(names(i)).flatMap(endOf.get).map(e => (e - dueUs(i)) / 1e6)
    }
    val replayBatches = dataBatches(replayQ)
    val frames = replayWant.frames.toDouble
    val (replayChecked, replayLanded) = checkTables(c, replayTables, replayWant, "replay")
    val (liveChecked, liveLanded) = checkTables(c, liveTables, liveWant + warmWant, "live")
    val replayOk = replayOp.ok && replayChecked
    val liveOk = liveOp.ok && fresh.size == liveN && liveChecked
    if (fresh.size != liveN) c.res.problem(s"live: ${fresh.size}/$liveN files with a freshness")

    val r = c.res
    c.setup(steps)
    r.e("latency_p50_s", Accounting.median(fresh), "s", fresh.size)
    r.e("work_s", replayOp.durS, "s")
    r.e("exec_cpu_s", replayCpu, "s")
    r.e("proc_cpu_s", replayProc, "s")
    r.e("heap_used_end_mb", heap, "MB")
    r.attempted = ReplayFiles + liveN
    r.failed = (if (replayOk) 0 else ReplayFiles) + (if (liveOk) 0 else liveN)
    r.i("ingest_frames_per_s", frames / replayOp.durS, "1/s")
    r.latencies("freshness_s", fresh)
    r.i("ingest.frames_replay", frames, "count")
    r.i("ingest.frames_live", liveWant.frames.toDouble, "count")
    r.i("ingest.kept_frac_expected", (replayWant + liveWant + warmWant).keptFrac, "frac")
    r.i("load.gen_late_s_max", live.indices.map(i => (wroteUs(i) - dueUs(i)) / 1e6).max, "s", liveN)

    if (c.inst.traced) {
      val t = c.inst.trace.get
      // micro-batch spans, each with its addBatch (the foreachBatch demux +
      // quarantine writes: the ingest layer) placed before the offset commit
      val units = (replayBatches.map(p => replayOp -> p) ++ liveBatches.map(p => liveOp -> p))
        .map { case (o, p) =>
          val (bs, be) = (startUs(p), endUs(p))
          val id = rec.add(o.id, "streaming", s"batch ${p.batchId}", bs, be)
          val ae = be - (dur(p, "commitOffsets") * 1e6).toLong
          rec.add(id, "ingest", "foreachBatch", ae - (dur(p, "addBatch") * 1e6).toLong, ae)
          Accounting.Interval(s"${p.id}/${p.batchId}", bs, be)
        }
      def p50(ps: Seq[StreamingQueryProgress], f: StreamingQueryProgress => Double) =
        Accounting.median(ps.map(f))
      r.l("streaming.batches", (replayBatches.size + liveBatches.size).toDouble, "count")
      r.l("streaming.trigger_s_p50", p50(liveBatches, dur(_, "triggerExecution")), "s", liveBatches.size)
      r.l("streaming.add_batch_s_p50", p50(liveBatches, dur(_, "addBatch")), "s", liveBatches.size)
      r.l("streaming.planning_s_p50", p50(liveBatches, dur(_, "queryPlanning")), "s", liveBatches.size)
      r.l("streaming.offsets_s_p50",
        p50(liveBatches, p => dur(p, "latestOffset") + dur(p, "getBatch")), "s", liveBatches.size)
      r.l("streaming.wal_s_p50",
        p50(liveBatches, p => dur(p, "walCommit") + dur(p, "commitOffsets")), "s", liveBatches.size)
      r.l("streaming.replay_trigger_s_p50", p50(replayBatches, dur(_, "triggerExecution")), "s",
        replayBatches.size)
      r.l("streaming.frames_per_batch_p50", p50(liveBatches, _.numInputRows.toDouble), "count")
      r.l("streaming.backlog_files_max", liveBatches.map { p =>
        val bs = startUs(p)
        names.indices.count(i => wroteUs(i) <= bs && membership.get(names(i)).exists(_ >= p.batchId))
      }.maxOption.getOrElse(0).toDouble, "count")
      r.l("load.gen_late_s_max", r.info("load.gen_late_s_max").value, "s")
      c.inst.drain()
      val keys = units.map(_.key).toSet
      val batchJobs = t.jobs.values.asScala.count(_.batchKey.exists(keys))
      r.l("ingest.kept_frac",
        (replayLanded + liveLanded).toDouble / (replayWant + liveWant + warmWant).frames,
        "frac")
      r.l("ingest.jobs_per_batch", batchJobs.toDouble / math.max(1, units.size), "count")
      r.l("ingest.cpu_ms_per_kframe", replayCpu * 1000.0 / (frames / 1000.0), "ms")
      val files = Files.walk(Paths.get(replayTables)).iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".parquet"))
      r.l("ingest.files_written_per_batch", files.size.toDouble / math.max(1, replayBatches.size), "count")
      r.l("ingest.bytes_written_per_frame", files.map(Files.size).sum / frames, "B")
      Accounting.sparkMetrics(c.inst, units, _.batchKey).foreach { case (k, (v, u)) => r.l(k, v, u) }
    }
  }
}
