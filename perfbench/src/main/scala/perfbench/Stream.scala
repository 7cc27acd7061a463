package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.Jobs

/** Seeded producer of reference-shaped `{player, matches[]}` envelopes, one
  * JSON object per line. Each envelope is a new poll of one player with one
  * to four new matches; a seeded share are re-poll duplicates (an earlier
  * envelope sent again) and a seeded share carry match times up to two
  * minutes in the past (out of order, inside the ETL's 10-minute
  * watermark). `player.data_collected_at` is the envelope's creation time. */
final class EnvelopeGen(seed: Long, players: Int = 300, dupShare: Double = 0.05,
    lateShare: Double = 0.10) {
  private val r = new SplittableRandom(seed)
  private val recent = mutable.ArrayBuffer[(String, Seq[(String, String)])]()
  private var matchSeq = 0L
  /** Distinct (match_id, account_id) keys produced so far. */
  val keys = mutable.LinkedHashSet[(String, String)]()
  var envelopes, rows = 0L

  private val modes = Array("solo", "duo", "squad", "solo-fpp", "squad-fpp")
  private val maps = Array("Erangel", "Miramar", "Sanhok", "Vikendi", "Taego")
  private val deaths = Array("byplayer", "suicide", "alive", "logout")
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(java.time.ZoneOffset.UTC)
  private def ts(ms: Long) = fmt.format(java.time.Instant.ofEpochMilli(ms))

  /** One envelope created at `createdMs`; returns the JSON line. */
  def next(createdMs: Long): String = {
    envelopes += 1
    if (recent.nonEmpty && r.nextDouble() < dupShare) {
      val (json, ks) = recent(r.nextInt(recent.size))
      rows += ks.size
      return json
    }
    val p = r.nextInt(players)
    val account = f"account.$p%06d"
    val n = 1 + r.nextInt(4)
    val late = if (r.nextDouble() < lateShare) r.nextInt(120000) else r.nextInt(1000)
    val ms = (0 until n).map { _ =>
      matchSeq += 1
      val id = s"m-$seed-$matchSeq"
      val kills = r.nextInt(12)
      val perf = s"""{"kills":$kills,"assists":${r.nextInt(6)},""" +
        s""""headshot_kills":${r.nextInt(kills + 1)},"longest_kill":${r.nextInt(400)}.5,""" +
        s""""damage_dealt":${r.nextInt(2500)}.25,"time_survived":${60 + r.nextInt(1800)}.0,""" +
        s""""death_type":"${deaths(r.nextInt(deaths.length))}","win_place":${1 + r.nextInt(100)},""" +
        s""""walk_distance":${r.nextInt(5000)}.0,"weapons_acquired":${r.nextInt(10)},""" +
        s""""participant_name":"player_$p"}"""
      val m = s"""{"match_id":"$id","game_mode":"${modes(r.nextInt(modes.length))}",""" +
        s""""map_name":"${maps(r.nextInt(maps.length))}","duration":${900 + r.nextInt(1200)},""" +
        s""""is_custom_match":false,"created_at":"${ts(createdMs - late)}",""" +
        s""""player_performance":$perf}"""
      (id, m)
    }
    val json = s"""{"player":{"player_name":"player_$p","account_id":"$account",""" +
      s""""shard_id":"steam","total_matches_count":${n + r.nextInt(500)},""" +
      s""""match_ids":[${ms.map(m => "\"" + m._1 + "\"").mkString(",")}],""" +
      s""""data_collected_at":"${ts(createdMs)}"},"matches":[${ms.map(_._2).mkString(",")}]}"""
    val ks = ms.map(m => (m._1, account))
    keys ++= ks
    rows += n
    recent += ((json, ks))
    if (recent.size > 500) recent.remove(0)
    json
  }

  /** Write `lines` as one file of the source directory, atomically (the
    * file source skips names starting with a dot). */
  def writeFile(dir: Path, name: String, lines: Seq[String]): Path = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Sink handed to `AnalyticsJob`: materializes each result and records
  * when it was delivered. */
final class Delivery(tracer: Option[Tracer]) {
  val calls = new ConcurrentHashMap[(Long, String), Integer]()
  val doneMs = new ConcurrentHashMap[Long, java.lang.Long]()
  val ms = new ConcurrentHashMap[String, java.util.List[Double]]()
  def sink(name: String, df: DataFrame, epoch: Long): Unit = {
    val sc = df.sparkSession.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val t0 = Tracer.nowUs()
    tracer.foreach(_ => sc.setLocalProperty("spark.jobGroup.id", s"analytics/$epoch/$name"))
    try df.write.format("noop").mode("overwrite").save()
    finally sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    val t1 = Tracer.nowUs()
    tracer.foreach { t =>
      val id = t.idFor(s"analytics/$epoch/$name")
      t.add(Span(id, t.idFor(s"analytics/$epoch"), s"analytics.$name", s"analytics/$epoch/$name",
        t0, t1))
    }
    calls.merge((epoch, name), 1, (a: Integer, b: Integer) => a + b)
    ms.computeIfAbsent(name, _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
      .add((t1 - t0) / 1000.0)
    if (name == "aggregates") doneMs.put(epoch, t1 / 1000L)
  }
}

/** The paper's dataflow: `EtlJob` (parse, flatten, watermarked dedup,
  * parquet sink) and `AnalyticsJob` (foreachBatch ranking / trends /
  * anomalies / aggregates behind the idempotent marker sink) both consume
  * one JSONL file source in one session.
  *
  *  - backfill: a fixed seeded backlog drained with `Trigger.AvailableNow`,
  *    a few large batches (closed loop). `pass_s` is the median drain
  *    time of `backfillRounds` drains.
  *  - live: the benchmark's main thread, an open-loop generator apart from
  *    the query threads, writes one file per 100 ms tick at a fixed
  *    envelope rate while both jobs run micro-batches back to back (a
  *    zero processing-time trigger: each batch takes what arrived while
  *    the one before ran). Latency runs from an envelope's due time to
  *    the commit of the ETL batch that contains it (`latency_p50_ms`), so
  *    it is the rest of the batch running when the envelope arrived plus
  *    the next one: it moves with the per-batch cost. The delivery of the
  *    analytics epoch that contains it is reported per layer (its epochs
  *    are fewer and longer, so it spreads more).
  */
final class StreamWorkload(seed: Long) extends Workload {
  val backlogEnvelopes = 1200
  val backlogFiles = 6
  val backfillRounds = 2
  val liveRatePerS = 100
  val tickMs = 100

  private var root: Path = _
  private var round = 0

  def prepare(spark: SparkSession, work: Path): Unit = {
    root = work.resolve(s"stream-${ProcessHandle.current().pid()}")
    StreamWorkload.deleteTree(root)
  }

  /** Untimed warm-up: a backlog of the timed size through both jobs (a
    * smaller one leaves the first timed drain still compiling). */
  def warmUp(spark: SparkSession): Seq[String] =
    backfill(spark, seed + 1000003L, backlogEnvelopes, backlogFiles, traced = None)
      .problems.map("warm-up " + _)

  /** The backlog is drained `backfillRounds` times (each into fresh
    * checkpoints and sink) and `pass_s` is the median drain time: one
    * drain is a few batches, so a burst of host load moves it. */
  def measure(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    val bs = Seq.fill(backfillRounds)(
      backfill(spark, a.seed, backlogEnvelopes, backlogFiles, traced = None))
    val l = live(spark, a.seed, a.seconds, traced = None)
    bs.foreach(account(_, r))
    account(l, r)
    r.e2e("pass_s") = Stats.median(bs.map(_.wallS))
    r.e2e("latency_p50_ms") = Stats.p50(l.etlLatencyMs)
    r.info(f"backfill: ${bs.head.sinkRows} rows, ${bs.head.etlBatches} ETL batches, in " +
      bs.map(b => f"${b.wallS}%.3f").mkString("", ", ", " s") +
      f" = ${bs.head.sinkRows / r.e2e("pass_s")}%.0f rows/s at the median")
    summarize(l, r)
    StreamWorkload.deleteTree(root)
  }

  /** An untraced backfill (the base of `trace.overhead_ratio`: successive
    * drains still get faster, so the base must be the one just before),
    * then the backfill and live phases again with both listeners
    * registered. */
  def traced(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    val sc = spark.sparkContext
    val untracedS = backfill(spark, a.seed, backlogEnvelopes, backlogFiles, traced = None).wallS
    val tracer = new Tracer
    val el = new ExecListener(tracer)
    val pl = new ProgressListener
    sc.addSparkListener(el)
    spark.streams.addListener(pl)
    val t = Some((tracer, pl))
    val t0 = System.nanoTime()
    val b = backfill(spark, a.seed, backlogEnvelopes, backlogFiles, t)
    val l = live(spark, a.seed, a.seconds, t)
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(el)
    spark.streams.removeListener(pl)
    (b.problems ++ l.problems).foreach(p => r.fail(s"traced $p"))

    val m = r.layer
    ExecListener.report(el.byGroup.values.asScala.toSeq, m, wall, sc.defaultParallelism)
    m("ops.storage_mem_peak_bytes") = el.storagePeak.toDouble
    for ((job, id) <- Seq("etl" -> l.etlId, "analytics" -> l.analyticsId)) {
      val ps = pl.of(id).filter(_.numInputRows > 0)
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      val pre = s"streaming.$job."
      m(pre + "batches") = ps.size
      m(pre + "batch_ms_p50") = Stats.pct(d("triggerExecution"), 0.5)
      m(pre + "batch_ms_p90") = Stats.pct(d("triggerExecution"), 0.9)
      for ((k, n) <- Seq("addBatch" -> "add_batch_ms", "getBatch" -> "get_batch_ms",
          "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
          "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
        m(pre + n) = Stats.median(d(k))
      m(pre + "input_rows") = ps.map(_.numInputRows.toDouble).sum
      val lat = if (job == "etl") l.etlLatencyMs else l.analyticsLatencyMs
      m(pre + "latency_p50_ms") = Stats.p50(lat)
      m(pre + "latency_p90_ms") = Stats.p90(lat)
      for (p <- ps) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val end = start + d0(p, "triggerExecution") * 1000L
        tracer.add(Span(tracer.idFor(s"$job/${p.batchId}"), 0, s"$job.batch",
          s"$job/${p.batchId}", start, end))
      }
    }
    val etl = pl.of(l.etlId).flatMap(_.stateOperators.headOption)
    m("streaming.etl.state_rows") = etl.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    m("streaming.etl.state_mem_bytes") =
      etl.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    m("streaming.etl.state_commit_ms") = Stats.median(etl.map(_.commitTimeMs.toDouble))
    m("streaming.etl.rows_dropped_by_watermark") = (b.droppedByWatermark + l.droppedByWatermark)
      .toDouble
    m("streaming.etl.sink_rows") = (b.sinkRows + l.sinkRows).toDouble
    for (n <- StreamWorkload.subQueries)
      m(s"streaming.analytics.${n}_ms") = Stats.median(l.subQueryMs.getOrElse(n, Nil))
    m("stream.backfill_rows_per_s") = b.sinkRows / b.wallS
    m("gen.envelopes") = l.envelopes.toDouble
    m("gen.rows") = l.genRows.toDouble
    m("gen.late_ms_max") = l.lateMsMax
    m("gen.backlog_mid") = l.backlogMid.toDouble
    m("gen.backlog_end") = l.backlogEnd.toDouble
    m("trace.pass_s") = b.wallS
    m("trace.overhead_ratio") = b.wallS / untracedS
    r.info(f"traced backfill ${b.wallS}%.3f s (untraced just before $untracedS%.3f s), traced live " +
      f"ETL latency p50 ${Stats.pct(l.etlLatencyMs, 0.5)}%.1f ms")
    val file = a.work.resolve("trace").resolve(s"stream_pipeline-seed${a.seed}.json")
    Out.write(file, "{\"spans\": " + tracer.toJson + "}\n")
    r.info(s"spans: $file")
    StreamWorkload.deleteTree(root)
  }

  override def scaleOneCore(restart: () => SparkSession, a: Main.Args, r: Report): Unit = {
    val spark = restart()
    warmUp(spark).foreach(p => r.fail(s"local[1] $p"))
    val b = backfill(spark, a.seed, backlogEnvelopes, backlogFiles, traced = None)
    b.problems.foreach(p => r.fail(s"local[1] $p"))
    r.layer("scale.backfill_rows_per_s_1core") = b.sinkRows / b.wallS
    r.info(f"local[1] backfill ${b.wallS}%.3f s = ${b.sinkRows / b.wallS}%.0f rows/s")
    StreamWorkload.deleteTree(root)
  }

  private def d0(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private def account(p: StreamWorkload.Phase, r: Report): Unit = {
    r.attempted += p.ops
    r.failed += p.failedOps
    p.problems.foreach(r.fail)
  }

  private def summarize(l: StreamWorkload.Phase, r: Report): Unit = {
    def p(xs: Seq[Double]) = {
      val tq = Stats.tailQ(xs.size)
      f"p50 ${Stats.pct(xs, 0.5)}%.1f ms, p${tq * 100}%.0f ${Stats.pct(xs, tq)}%.1f ms"
    }
    r.info(f"live: ${l.envelopes} envelopes (${l.genRows} rows) at $liveRatePerS/s, " +
      f"${l.etlBatches} ETL batches, ${l.analyticsEpochs} analytics epochs, " +
      f"generator late max ${l.lateMsMax}%.1f ms, backlog mid ${l.backlogMid} end ${l.backlogEnd}")
    r.info(s"  ETL commit               ${p(l.etlLatencyMs)} over ${l.etlLatencyMs.size} envelopes")
    r.info(s"  analytics delivery       ${p(l.analyticsLatencyMs)}")
    r.info(s"  both committed           ${p(l.latencyMs)}")
    for (n <- StreamWorkload.subQueries)
      r.info(f"  analytics $n%-10s median ${Stats.median(l.subQueryMs.getOrElse(n, Nil))}%.1f ms")
  }

  private def startJobs(spark: SparkSession, dir: Path, trigger: Trigger,
      maxFiles: Option[Int], delivery: Delivery): (StreamingQuery, StreamingQuery) = {
    def source = {
      val rs = spark.readStream.format("text")
      maxFiles.fold(rs)(n => rs.option("maxFilesPerTrigger", n.toLong)).load(dir.resolve("in").toString)
    }
    val etl = Jobs.EtlJob.start(source, Jobs.EtlConfig(
      outputPath = dir.resolve("etl-out").toString,
      checkpoint = dir.resolve("etl-ckpt").toString, trigger = trigger))
    val analytics = Jobs.AnalyticsJob.start(source, Jobs.AnalyticsConfig(
      checkpoint = dir.resolve("analytics-ckpt").toString,
      markerDir = dir.resolve("markers").toString, trigger = trigger))(delivery.sink)
    (etl, analytics)
  }

  private def backfill(spark: SparkSession, seed: Long, envelopes: Int, files: Int,
      traced: Option[(Tracer, ProgressListener)]): StreamWorkload.Phase = {
    round += 1
    val dir = root.resolve(s"backfill-$round")
    Files.createDirectories(dir.resolve("in"))
    val gen = new EnvelopeGen(seed)
    val t0Ms = 1717200000000L // fixed event-time origin of the backlog
    for (f <- 0 until files) {
      val lines = (0 until envelopes / files).map(i =>
        gen.next(t0Ms + (f * (envelopes / files) + i) * 100L))
      gen.writeFile(dir.resolve("in"), f"part-$f%05d.jsonl", lines)
    }
    val delivery = new Delivery(traced.map(_._1))
    val t0 = System.nanoTime()
    val (etl, analytics) = startJobs(spark, dir, Trigger.AvailableNow(),
      Some(math.max(1, files / 3)), delivery)
    etl.awaitTermination()
    analytics.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    StreamWorkload.check(spark, dir, gen, etl, analytics, delivery, wallS,
      Map.empty, 0L, 0L)
  }

  private def live(spark: SparkSession, seed: Long, seconds: Int,
      traced: Option[(Tracer, ProgressListener)]): StreamWorkload.Phase = {
    round += 1
    val dir = root.resolve(s"live-$round")
    Files.createDirectories(dir.resolve("in"))
    val gen = new EnvelopeGen(seed + 17L)
    val delivery = new Delivery(traced.map(_._1))
    val (etl, analytics) = startJobs(spark, dir, Trigger.ProcessingTime(0L), None,
      delivery)
    val dueMs = mutable.LinkedHashMap[String, (Long, Int)]()
    var lateMax = 0.0
    val perTick = math.max(1, liveRatePerS * tickMs / 1000)
    val ticks = seconds * 1000 / tickMs
    // half a second for both queries to run their first, empty trigger
    val start = System.currentTimeMillis() + 500
    for (i <- 0 until ticks) {
      val due = start + i.toLong * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val t0 = Tracer.nowUs()
      val name = f"tick-$i%06d.jsonl"
      gen.writeFile(dir.resolve("in"), name, (0 until perTick).map(_ => gen.next(due)))
      val t1 = Tracer.nowUs()
      traced.foreach { case (t, _) => t.add(Span(t.newId(), 0, "gen.tick", s"tick/$i", t0, t1)) }
      lateMax = math.max(lateMax, t1 / 1000.0 - due)
      dueMs(name) = (due, perTick)
    }
    val stopMs = System.currentTimeMillis()
    // a failed query rethrows here; check() reports its exception
    for (q <- Seq(etl, analytics)) { scala.util.Try(q.processAllAvailable()); q.stop() }
    val p = StreamWorkload.check(spark, dir, gen, etl, analytics, delivery, 0.0,
      dueMs.toMap, stopMs, start + ticks.toLong * tickMs / 2)
    p.copy(lateMsMax = lateMax, etlId = etl.id.toString, analyticsId = analytics.id.toString)
  }
}

object StreamWorkload {
  val subQueries = Seq("ranking", "trends", "anomalies", "aggregates")

  /** What one phase (backfill or live) produced and what its checks found.
    * An operation is a micro-batch of either job. */
  final case class Phase(wallS: Double, sinkRows: Long, ops: Long, failedOps: Long,
      problems: Seq[String], etlBatches: Int, analyticsEpochs: Int, droppedByWatermark: Long,
      envelopes: Long, genRows: Long, etlLatencyMs: Seq[Double], analyticsLatencyMs: Seq[Double],
      latencyMs: Seq[Double], subQueryMs: Map[String, Seq[Double]], backlogMid: Long,
      backlogEnd: Long, lateMsMax: Double = 0, etlId: String = "", analyticsId: String = "")

  private val pathRe = "\"path\":\"([^\"]+)\"".r
  private val batchRe = "\"batchId\":(\\d+)".r

  /** Source file name -> batch id, from the file source's metadata log in
    * a query checkpoint. */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala.filter(f => !f.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)
      .flatMap { l =>
        for (p <- pathRe.findFirstMatchIn(l); b <- batchRe.findFirstMatchIn(l))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }

  /** Batch id -> commit time (ms), from a query checkpoint's commit log. */
  def commitTimes(ckpt: Path): Map[Long, Long] = {
    val dir = ckpt.resolve("commits")
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit))
      .map(n => n.toLong -> Files.getLastModifiedTime(dir.resolve(n)).toMillis).toMap
  }

  def check(spark: SparkSession, dir: Path, gen: EnvelopeGen, etl: StreamingQuery,
      analytics: StreamingQuery, d: Delivery, wallS: Double,
      dueMs: Map[String, (Long, Int)], stopMs: Long, midMs: Long): Phase = {
    val problems = mutable.ArrayBuffer[String]()
    etl.exception.foreach(e => problems += s"ETL query failed: ${e.getMessage.take(300)}")
    analytics.exception.foreach(e => problems += s"analytics query failed: ${e.getMessage.take(300)}")
    val out = scala.util.Try(spark.read.parquet(dir.resolve("etl-out").toString)
      .select("match_id", "account_id").collect().map(r => (r.getString(0), r.getString(1))))
      .getOrElse(Array.empty[(String, String)])
    val outSet = out.toSet
    if (out.length != outSet.size)
      problems += s"ETL sink holds ${out.length - outSet.size} duplicate (match_id, account_id) rows"
    if (outSet != gen.keys)
      problems += s"ETL sink keys differ from generated keys: ${(gen.keys -- outSet).size} " +
        s"missing, ${(outSet -- gen.keys).size} unexpected"
    val dropped = etl.recentProgress.flatMap(_.stateOperators.headOption)
      .map(_.numRowsDroppedByWatermark).sum
    if (dropped != 0) problems += s"$dropped rows dropped by the watermark"

    val etlFiles = fileBatches(dir.resolve("etl-ckpt"))
    val anaFiles = fileBatches(dir.resolve("analytics-ckpt"))
    val etlCommit = commitTimes(dir.resolve("etl-ckpt"))
    val etlBatches = etlFiles.values.toSet
    val anaEpochs = anaFiles.values.toSet
    var failedOps = 0L
    for (b <- etlBatches if !etlCommit.contains(b)) {
      failedOps += 1; problems += s"ETL batch $b never committed"
    }
    for (e <- anaEpochs) {
      val bad = subQueries.filter(n => Option(d.calls.get((e, n))).map(_.intValue).getOrElse(0) != 1)
      if (bad.nonEmpty) {
        failedOps += 1
        problems += s"analytics epoch $e delivered ${bad.mkString(",")} other than exactly once"
      }
    }
    val extra = d.calls.keySet().asScala.map(_._1).toSet -- anaEpochs
    if (extra.nonEmpty) problems += s"analytics delivered epochs with no input: $extra"

    val etlLat, anaLat, both = mutable.ArrayBuffer[Double]()
    var backlogEnd, backlogMid = 0L
    for ((f, (due, n)) <- dueMs) {
      val e = etlFiles.get(f).flatMap(etlCommit.get)
      val an = anaFiles.get(f).flatMap(b => Option(d.doneMs.get(b)).map(_.longValue))
      for (_ <- 0 until n) {
        e.foreach(t => etlLat += (t - due).toDouble)
        an.foreach(t => anaLat += (t - due).toDouble)
        for (x <- e; y <- an) both += (math.max(x, y) - due).toDouble
      }
      if (due <= stopMs && e.forall(_ > stopMs)) backlogEnd += n
      if (due <= midMs && e.forall(_ > midMs)) backlogMid += n
    }
    if (dueMs.nonEmpty && both.size != dueMs.values.map(_._2).sum)
      problems += s"${dueMs.values.map(_._2).sum - both.size} live envelopes never delivered"
    Phase(wallS, out.length.toLong, etlBatches.size + anaEpochs.size.toLong, failedOps,
      problems.toSeq, etlBatches.size, anaEpochs.size, dropped, gen.envelopes, gen.rows,
      etlLat.toSeq, anaLat.toSeq, both.toSeq,
      d.ms.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap, backlogMid, backlogEnd)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
