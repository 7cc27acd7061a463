package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query's record in one pass. Times are seconds; a failed query has
  * `error` set and contributes no time. `leftPinned` counts the RDDs that
  * are persisted after the query (before `clearCache`) and were not before
  * it. `result` is the built DataFrame, kept for the output check that
  * follows the pass. */
final case class QueryRun(name: String, buildS: Double, execS: Double,
    error: Option[String], leftPinned: Int,
    shape: Option[PlanShape] = None, result: Option[DataFrame] = None) {
  def totalS: Double = buildS + execS
}

/** A closed-loop batch workload: one client runs the workload's queries
  * from `graft.SparkEntry.queries`, one after another, in a per-pass order
  * drawn from the run seed. Every query is rebuilt from `SparkEntry` on
  * every pass and the cache is cleared after each one; nothing is reused
  * across passes. A query is built by the `SparkEntry` call and run by a
  * `noop` write, as in the repo's own bench. */
final class BatchWorkload(val name: String, val queries: Seq[String],
    scale: BatchData.Scale) extends Workload {

  private var dataDir = ""

  def prepare(spark: SparkSession, work: java.nio.file.Path): Unit =
    dataDir = BatchData.ensure(spark, work.resolve("data"), scale)

  /** Untimed warm-up: every query once on the same tables the timed pass
    * reads, so code generation and JIT compilation (which on smaller
    * tables stays incomplete) are paid before timing. The queries run
    * concurrently, one per core, to keep set-up short. Returns the
    * failures. */
  def warmUp(spark: SparkSession): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      val futures = queries.map { q =>
        pool.submit { () =>
          val t0 = System.nanoTime()
          val err = scala.util.Try(noop(graft.SparkEntry.queries(q)(spark, dataDir))).failed
            .toOption.map(e => s"warm-up $q: ${firstLine(e)}")
          warmS(q) = (System.nanoTime() - t0) / 1e9
          err
        }
      }
      futures.flatMap(_.get())
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
  private val warmS = new java.util.concurrent.ConcurrentHashMap[String, Double]().asScala

  def order(seed: Long, pass: Int, qs: Seq[String] = queries): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(qs)

  /** One pass over all queries.
    * @param keep keep each built DataFrame in its record, for [[fingerprints]]
    * @param tracer record query/build/execute spans and plan shapes */
  def pass(spark: SparkSession, seed: Long, pass: Int, keep: Boolean,
      tracer: Option[Tracer], qs: Seq[String] = queries): Seq[QueryRun] = {
    val sc = spark.sparkContext
    order(seed, pass, qs).map { q =>
      val grp = s"p$pass/$q"
      def timed[T](phase: String, parent: Int)(body: => T): (T, Double) = {
        sc.setJobGroup(s"$grp/$phase", s"$q $phase", interruptOnCancel = false)
        val t0 = System.nanoTime()
        val r = tracer match {
          case Some(t) => t.span(phase, s"$grp/$phase", parent)(_ => body)
          case None => body
        }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      def run(parent: Int): QueryRun = {
        // RDD ids, not a count: the context cleaner may release RDDs of
        // earlier, unreachable DataFrames while this query runs.
        val pinned = sc.getPersistentRDDs.keySet
        def leftPinned = (sc.getPersistentRDDs.keySet -- pinned).size
        try {
          val (df, buildS) = timed("build", parent)(graft.SparkEntry.queries(q)(spark, dataDir))
          val (_, execS) = timed("execute", parent)(noop(df))
          val shape = tracer.map(_ => PlanShape.of(df))
          QueryRun(q, buildS, execS, None, leftPinned, shape, Some(df).filter(_ => keep))
        } catch {
          case e: Throwable => QueryRun(q, 0, 0, Some(firstLine(e)), leftPinned)
        } finally {
          sc.clearJobGroup()
          spark.catalog.clearCache()
        }
      }
      tracer match {
        case Some(t) => t.span("query", grp)(run)
        case None => run(0)
      }
    }
  }

  /** Fingerprints of the results kept by a pass, computed after it (untimed)
    * with one query per core. */
  private def fingerprints(spark: SparkSession, runs: Seq[QueryRun]): Map[String, Fingerprint] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try runs.flatMap(q => q.result.map(df => q.name -> pool.submit(() => Fingerprint.of(df))))
      .map { case (n, f) => n -> f.get() }.toMap
    finally pool.shutdown()
  }

  /** One timed pass over the workload's queries. A pass (about 20 s)
    * already outlasts `--seconds`, so the workload does not use it. Every
    * result is then checked against `expected.tsv` (untimed); a query that
    * fails or mismatches counts as failed and contributes no time, and a
    * pass with a failed query reports no `pass_s`. */
  def measure(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    val expected = Fingerprint.load(a.work.getParent.resolve("expected.tsv"))
    val t0 = System.nanoTime()
    val runs = pass(spark, a.seed, 0, keep = true, None)
    val passS = (System.nanoTime() - t0) / 1e9
    val tc = System.nanoTime()
    val fps = fingerprints(spark, runs)
    spark.catalog.clearCache()
    val checkS = (System.nanoTime() - tc) / 1e9
    val ok = runs.filter { q =>
      r.attempted += 1
      val bad = q.error.map(e => s"${q.name}: $e").orElse(fps.get(q.name).flatMap { got =>
        expected.get(q.name) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"${q.name}: output $got, expected $want")
          case None => Some(s"${q.name}: output $got, no expected fingerprint in expected.tsv")
        }
      })
      bad.foreach { m => r.failed += 1; r.fail(m) }
      bad.isEmpty
    }
    val lat = ok.map(_.totalS * 1000)
    if (runs.forall(_.error.isEmpty)) r.e2e("pass_s") = passS
    r.e2e("latency_p50_ms") = Stats.p50(lat)
    r.info("slowest warm-up queries: " + warmS.toSeq.sortBy(-_._2).take(4)
      .map { case (q, t) => f"$q $t%.1f s" }.mkString(", "))
    r.info(f"$name: one pass $passS%.3f s (output checks $checkS%.1f s untimed); " +
      f"${lat.size} query runs, median ${Stats.median(lat)}%.1f ms")
    for (q <- ok)
      r.info(f"  ${q.name}%-26s build ${q.buildS}%.3f s  execute ${q.execS}%.3f s")
  }

  /** The pass again with the listener registered: per-layer metrics,
    * per-query records and spans (written to `<work>/trace/`). The
    * untraced pass of [[measure]] just before is the base of
    * `trace.overhead_ratio`. */
  def traced(spark: SparkSession, a: Main.Args, r: Report): Unit = {
    val sc = spark.sparkContext
    val untracedS = r.e2e.getOrElse("pass_s", Double.NaN)
    val tracer = new Tracer
    val l = new ExecListener(tracer)
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    val runs = pass(spark, a.seed, 1000, keep = false, Some(tracer))
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(l)
    runs.filter(_.error.nonEmpty).foreach(q => r.fail(s"traced ${q.name}: ${q.error.get}"))

    val self = tracer.selfTimesUs.withDefaultValue(0L)
    def tot(q: QueryRun, phase: String) = l.totals(s"p1000/${q.name}/$phase")
    val shapes = runs.flatMap(_.shape)
    val m = r.layer
    m("queries.query_p50_ms") = Stats.p50(runs.filter(_.error.isEmpty).map(_.totalS * 1000))
    m("queries.build_s") = runs.map(_.buildS).sum
    m("queries.build_self_s") = self("build") / 1e6
    m("queries.build_jobs") = runs.map(tot(_, "build").jobs).sum.toDouble
    m("queries.plan_exchanges") = shapes.map(_.exchanges).sum.toDouble
    m("queries.plan_nodes") = shapes.map(_.nodes).sum.toDouble
    m("queries.plan_unpartitioned_windows") = shapes.map(_.unpartitionedWindows).sum.toDouble
    ExecListener.report(runs.flatMap(q => Seq(tot(q, "build"), tot(q, "execute"))), m, wall,
      sc.defaultParallelism)
    m("exec.exec_s") = runs.map(_.execS).sum
    m("exec.driver_gap_s") = self("execute") / 1e6
    m("ops.persisted_rdds_after") = runs.map(_.leftPinned).sum.toDouble
    m("ops.storage_mem_peak_bytes") = l.storagePeak.toDouble
    m("trace.pass_s") = wall
    m("trace.overhead_ratio") = wall / untracedS

    r.info(f"traced pass $wall%.3f s, untraced pass before it $untracedS%.3f s; " +
      "per query (pinned = RDDs it left persisted):")
    r.info(f"  ${"query"}%-26s ${"build_s"}%8s ${"jobs"}%5s ${"exec_s"}%8s ${"jobs"}%5s " +
      f"${"stages"}%6s ${"tasks"}%6s ${"exch"}%5s ${"nodes"}%5s ${"pinned"}%7s")
    for (q <- runs.sortBy(_.name)) {
      val (b, e) = (tot(q, "build"), tot(q, "execute"))
      val sh = q.shape.getOrElse(PlanShape(0, 0, 0))
      r.info(f"  ${q.name}%-26s ${q.buildS}%8.3f ${b.jobs}%5d ${q.execS}%8.3f ${e.jobs}%5d " +
        f"${b.stages + e.stages}%6d ${b.tasks + e.tasks}%6d ${sh.exchanges}%5d ${sh.nodes}%5d " +
        f"${q.leftPinned}%7d")
    }
    val perQuery = runs.map { q =>
      val (b, e) = (tot(q, "build"), tot(q, "execute"))
      Seq("query" -> Json.str(q.name), "build_s" -> Json.num(q.buildS),
        "execute_s" -> Json.num(q.execS), "build_jobs" -> b.jobs.toString,
        "execute_jobs" -> e.jobs.toString, "stages" -> (b.stages + e.stages).toString,
        "tasks" -> (b.tasks + e.tasks).toString,
        "shuffle_write_bytes" -> (b.shuffleWrite + e.shuffleWrite).toString,
        "left_pinned_rdds" -> q.leftPinned.toString)
        .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    }
    val file = a.work.resolve("trace").resolve(s"$name-seed${a.seed}.json")
    Out.write(file, "{\"queries\": " + perQuery.mkString("[\n", ",\n", "\n]") +
      ",\n\"spans\": " + tracer.toJson + "}\n")
    r.info(s"spans and per-query records: $file")
  }

  /** The reference query surface once more on `local[1]`: the
    * single-core baseline. */
  override def scaleOneCore(restart: () => SparkSession, a: Main.Args, r: Report): Unit = {
    val spark = restart()
    val t0 = System.nanoTime()
    val runs = pass(spark, a.seed, 2000, keep = false, None, BatchWorkload.refQueries)
    val wall = (System.nanoTime() - t0) / 1e9
    runs.filter(_.error.nonEmpty).foreach(q => r.fail(s"local[1] ${q.name}: ${q.error.get}"))
    r.layer("scale.ref_batch_pass_s_1core") = wall
    r.info(f"local[1] pass over the ${runs.size} reference queries $wall%.3f s")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def firstLine(e: Throwable): String =
    Option(e.toString).map(_.linesIterator.next().take(300)).getOrElse("error")
}

object BatchWorkload {
  /** The reference pipeline's own query surface. */
  val refQueries: Seq[String] = Seq(
    "q01_project_filter", "q02_flags_case", "q03_career_stats", "q04_ranking_topk",
    "q05_moving_avg", "q06_trend_alerts", "q07_zscore_anomaly", "q08_hourly_rollup",
    "q09_map_difficulty", "q10_kda", "q11_severity", "q12_dedup_exact", "q13_window_agg",
    "q14_sort_limit", "q15_global_stats", "q16_json_extract", "q17_array_ops",
    "q18_alert_summary", "q31_envelope_flatten", "q32_alert_wire")

  /** One query per job-bound iterative family (graph, BPE, suffix array)
    * and one hash-kernel query (md5 char shingles, LSH band join). */
  val heavyQueries: Seq[String] = Seq(
    "q151_hits", "q110_bpe_train", "q334_global_sa", "q134_char_minhash")

  /** Heavy queries first: the parallel warm-up starts the longest ones
    * first. (Passes run in a seeded order.) */
  val batch = new BatchWorkload("batch", heavyQueries ++ refQueries,
    BatchData.Scale(sf = 0.005, docs = 100, vecs = 100))

  val all: Seq[BatchWorkload] = Seq(batch)
}
