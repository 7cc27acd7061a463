package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `run.py` builds the harness and launches
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The last stdout line is the result object; everything before it is a
  * human-readable report. See `perfbench/run.py` for the metric contract.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  /** Per-layer metrics reported by the traced run, with units. A layer that
    * a workload does not exercise reports 0 (for example the streaming
    * metrics of a batch workload). */
  val perLayer: Seq[(String, String)] = {
    val q = Seq("queries.query_p50_ms" -> "ms", "queries.build_s" -> "s",
      "queries.build_self_s" -> "s",
      "queries.build_jobs" -> "count", "queries.plan_exchanges" -> "count",
      "queries.plan_nodes" -> "count", "queries.plan_unpartitioned_windows" -> "count")
    val e = Seq("exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.busy_ratio" -> "ratio", "exec.driver_gap_s" -> "s",
      "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
      "exec.spill_bytes" -> "bytes", "exec.peak_exec_mem_bytes" -> "bytes",
      "exec.input_bytes" -> "bytes", "exec.tasks_failed" -> "count")
    val o = Seq("ops.persisted_rdds_after" -> "count", "ops.storage_mem_peak_bytes" -> "bytes")
    def stream(job: String, extra: Seq[(String, String)]) =
      (Seq("batches" -> "count", "batch_ms_p50" -> "ms", "batch_ms_p90" -> "ms",
        "add_batch_ms" -> "ms", "get_batch_ms" -> "ms", "latest_offset_ms" -> "ms",
        "query_planning_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
        "input_rows" -> "count", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms") ++ extra)
        .map { case (n, u) => s"streaming.$job.$n" -> u }
    val s = stream("etl", Seq("state_rows" -> "count", "state_mem_bytes" -> "bytes",
      "state_commit_ms" -> "ms", "rows_dropped_by_watermark" -> "count",
      "sink_rows" -> "count")) ++
      stream("analytics", Seq("ranking_ms" -> "ms", "trends_ms" -> "ms",
        "anomalies_ms" -> "ms", "aggregates_ms" -> "ms")) ++
      Seq("stream.backfill_rows_per_s" -> "rows/s")
    val g = Seq("gen.envelopes" -> "count", "gen.rows" -> "count", "gen.late_ms_max" -> "ms",
      "gen.backlog_mid" -> "count", "gen.backlog_end" -> "count")
    val h = Seq("host.calib_s" -> "s", "host.loadavg_1m" -> "load",
      "scale.ref_batch_pass_s_1core" -> "s", "scale.backfill_rows_per_s_1core" -> "rows/s",
      "trace.pass_s" -> "s", "trace.overhead_ratio" -> "ratio")
    q ++ e ++ o ++ s ++ g ++ h
  }

  /** `latency_p50_ms` is the median operation latency: a query's build
    * plus execute time on `batch`, an envelope's due time to its ETL commit
    * on `stream_pipeline`. It is the median, not a tail percentile, because
    * a batch pass has 24 queries: the highest percentile with at least ten
    * samples beyond it. The stream's p90 is a per-layer metric. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "latency_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    // One core is left to the driver thread, the stream generator, JIT and
    // GC: with every core running tasks, their scheduling adds noise.
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = a.workload match {
      case "stream_pipeline" => new StreamWorkload(a.seed)
      case other => BatchWorkload.all.find(_.name == other)
        .getOrElse(sys.error(s"unknown workload '$other'"))
    }
    Files.createDirectories(a.work)

    // Set-up: process start until the session is up and the warm-up has
    // run. It is cold (class loading, JIT, code generation) and happens
    // once per process. Writing the batch input tables (first run in a
    // checkout only) is excluded.
    var spark = Session.create(cores, a.work)
    val prepS = time(workload.prepare(spark, a.work))
    workload.warmUp(spark).foreach(report.fail)
    report.e2e("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3 - prepS
    report.info(f"set-up ${report.e2e("setup_s")}%.3f s; input generation $prepS%.3f s (excluded)")

    // Host contention guard, every run (after set-up, untimed): a run
    // whose probe is slow ran on a contended host.
    val loadavg = Host.loadavg1m
    val calibS = time(Session.calibrate(spark))
    report.layer("host.loadavg_1m") = loadavg
    report.layer("host.calib_s") = calibS
    report.info(f"host: loadavg(1m) $loadavg%.2f, local[$cores], calibration probe $calibS%.3f s")

    workload.measure(spark, a, report)
    if (a.trace) {
      workload.traced(spark, a, report)
      workload.scaleOneCore(() => { spark.stop(); spark = Session.create(1, a.work); spark },
        a, report)
    }
    spark.stop()
    report.e2e("peak_rss_mb") = Host.peakRssMb
    print(report, a)
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  private def print(r: Report, a: Args): Unit = {
    val units = (endToEnd ++ perLayer).toMap
    val chosen = if (a.trace) perLayer.map(_._1) else endToEnd.map(_._1)
    val values = if (a.trace) r.layer else r.e2e
    r.lines.foreach(println)
    println(s"== ${a.workload} seed=${a.seed} attempted=${r.attempted} failed=${r.failed} " +
      f"error_ratio=${r.failed.toDouble / math.max(1L, r.attempted)}%.4f correct=${r.correct}")
    for (n <- endToEnd.map(_._1)) println(f"  $n%-40s ${r.e2e.getOrElse(n, 0.0)}%.6f ${units(n)}")
    if (a.trace) for (n <- perLayer.map(_._1))
      println(f"  $n%-40s ${r.layer.getOrElse(n, 0.0)}%.6f ${units(n)}")
    val metrics = chosen.map { n =>
      s"${Json.str(n)}: {\"value\": ${Json.num(values.getOrElse(n, 0.0))}, " +
        s"\"unit\": ${Json.str(units(n))}}"
    }.mkString(", ")
    println(s"""{"correct": ${r.correct}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {$metrics}}""")
  }
}

/** What one run found. */
final class Report {
  var attempted, failed = 0L
  var correct = true
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val lines = mutable.ArrayBuffer[String]()
  def info(s: String): Unit = lines += s
  def fail(s: String): Unit = { correct = false; lines += s"FAIL $s" }
}

/** A benchmark workload. `measure` runs untraced and sets the end-to-end
  * metrics; `traced` repeats the work with the listeners registered and
  * sets the per-layer metrics. */
trait Workload {
  def prepare(spark: SparkSession, work: Path): Unit
  /** Returns the warm-up failures. */
  def warmUp(spark: SparkSession): Seq[String]
  def measure(spark: SparkSession, a: Main.Args, r: Report): Unit
  def traced(spark: SparkSession, a: Main.Args, r: Report): Unit
  /** Single-core baseline, where the workload defines one. */
  def scaleOneCore(restart: () => SparkSession, a: Main.Args, r: Report): Unit = ()
}

object Session {
  def create(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Engine-free host probe: the scan, hash-aggregate and shuffle-join shape
    * of the repo bench's `x00_calibration`, over `spark.range`. */
  def calibrate(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000000L).select(col("id"),
      ((col("id") * 2654435761L) % 1000003L).as("k"), (col("id") % 977L).as("g"))
    val agg = df.groupBy(col("g")).agg(sum(col("k")).as("sk"), count(lit(1)).as("cnt"))
    df.join(agg, "g").select(col("id"), (col("k") + col("sk") % 7L).as("v1"),
      (col("k") * col("cnt")).as("v2")).write.format("noop").mode("overwrite").save()
  }
}

/** Writes a text file inside the work directory. */
object Out {
  def write(path: Path, s: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, s.getBytes(StandardCharsets.UTF_8))
  }
}
