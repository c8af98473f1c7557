package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark driver: one workload, one seed, one process.
  *
  * {{{
  * Main --workload curate|ingest --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * The seeded inputs are already under DIR (`perfbench/gen.py`). A run
  * times set-up — session start plus a warm-up over a slice of the
  * input, plus ingest's base state — `SetUpReps` times, each in a fresh
  * session, reporting the median. Rounds of timed ops follow for about
  * `--seconds` (a count fixed by the workload's nominal round length);
  * every op's output is checked after the last round. With `--trace 1`
  * a traced round (spans, listeners) sits between two untraced ones, so
  * the traced-minus-untraced op time is the tracing overhead; curate then
  * also runs its staged replay once. The second-last stdout line is the
  * full report; the last is the result object.
  */
object Main {
  val SetUpReps = 3

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, work: String = "")

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** Task slots: one CPU of at most four stays free for the driver
    * thread, JIT compilation and GC, which keeps op times steady (on 4
    * CPUs, local[4] spread curate pass times about five times wider). */
  val cpus: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) - 1)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The workload over the inputs in `dir`, sized by the `sizes.json`
    * the generator wrote next to them. */
  def workload(name: String, dir: String): (Workload, Map[String, Long]) = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/$name/sizes.json"))
    val sizes = json.fieldNames().asScala.map(k => k -> json.get(k).asLong()).toMap
    val w = name match {
      case "curate" => new CurateWorkload(dir, sizes("docs"))
      case "ingest" => new IngestWorkload(dir, sizes("base_docs"), sizes("batch_docs"),
        sizes("batches").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    (w, sizes)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def spanReport(spans: Map[String, (Int, Double, Double)]) =
    spans.map { case (n, (c, wl, sf)) => n -> Map("count" -> c, "wall_s" -> wl, "self_s" -> sf) }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work DIR is required")
    // exit explicitly: Spark's non-daemon threads would keep a failed run alive
    val ok = try { run(a); true } catch { case e: Throwable => e.printStackTrace(); false }
    System.exit(if (ok) 0 else 1)
  }

  def run(a: Args): Unit = {
    val steal0 = Host.stealTicks()
    val t0 = System.nanoTime()
    var spark = session(a.work)
    val firstSession = secs(t0)
    val (w, sizes) = workload(a.workload, a.work)

    val setUps = (0 until SetUpReps).map { rep =>
      val t = System.nanoTime()
      if (rep > 0) { stop(spark); spark = session(a.work) }
      w.setUp(spark)
      secs(t) + (if (rep == 0) firstSession else 0.0)
    }

    // A fixed number of whole rounds, --seconds over the workload's
    // nominal round length, so every run times the same op positions
    // however fast the engine is; wall limits stop a slow engine early.
    // With --trace 1 three rounds run: untraced, traced, untraced, so the
    // untraced ops bracket the traced ones against the JIT's warm-up
    // trend; listeners are attached only during the traced round. Outputs
    // are checked after the last round, so the checks' queries neither
    // fall in a listener window nor evict the ops' generated code between
    // rounds.
    val tRounds = System.nanoTime()
    val tracer = new Tracer
    val engine = new EngineProbe
    val plans = new PlanProbe
    val sc = spark.sparkContext
    val untraced, traced = Seq.newBuilder[Op]
    val done = Seq.newBuilder[(Int, Int)] // (round, ops it completed)
    var errors = Seq.empty[String]
    var sameDocs: Option[Boolean] = None
    var (gcMs, stealT, heapPeak, gc0, steal0r) = (0L, 0L, 0.0, 0L, 0L)
    val rounds = if (a.trace) 3 else math.max(1, math.round(a.seconds / w.roundSeconds).toInt)
    var (round, k) = (0, 0)
    def tracing = a.trace && round == 2

    def endRound(): Unit = {
      if (tracing) {
        tracer.enabled = false
        org.apache.spark.GraftBenchBus.drain(sc)
        sc.removeSparkListener(engine)
        spark.listenerManager.unregister(plans)
        gcMs += Host.gcMs() - gc0
        stealT += Host.stealTicks() - steal0r
        heapPeak = math.max(heapPeak, Host.heapPeakMb())
      }
      if (k > 0) done += round -> k
      k = 0
    }
    def more =
      if (k > 0) secs(tRounds) < 3 * a.seconds
      else round < rounds && (round == 0 || secs(tRounds) < 2 * a.seconds)

    while (errors.size < 3 && more) {
      if (k == 0) {
        round += 1
        if (tracing) {
          org.apache.spark.GraftBenchBus.drain(sc)
          sc.addSparkListener(engine)
          spark.listenerManager.register(plans)
          Host.resetHeapPeak()
          gc0 = Host.gcMs(); steal0r = Host.stealTicks()
          tracer.enabled = true
        }
      }
      try {
        val o = w.op(spark, round, k, tracer)
        (if (tracing) traced else untraced) += o
        k += 1
        if (k == w.opsPerRound) endRound()
      } catch {
        case e: Exception => errors :+= s"round $round op $k: $e"; endRound()
      }
    }
    if (k > 0) endRound()
    val completed = done.result()
    val checks = completed.flatMap { case (r, n) => w.check(spark, r, n) }
    val extras = completed.collectFirst { case (2, n) if a.trace => w.tracedExtras(spark, 2, n) }
      .getOrElse(Map.empty[String, Double])

    // Curate's staged replay: the two passes timed apart, with its own
    // spans and no listeners, so it feeds only examples.* and the doc_id
    // comparison with the one-call form's first round.
    val replayTracer = new Tracer
    Some(w).collect { case c: CurateWorkload if a.trace => c }.foreach { c =>
      replayTracer.enabled = true
      try {
        c.replay(spark, round + 1, replayTracer)
        sameDocs = Some(c.sameDocIds(spark, 1, round + 1))
      } catch { case e: Exception => errors :+= s"staged replay: $e" }
      replayTracer.enabled = false
      c.dropRound(round + 1)
    }
    completed.foreach { case (r, _) => w.dropRound(r) }
    val untracedOps = untraced.result()
    val tracedOps = traced.result()
    var report = Map.empty[String, Any]

    if (a.trace) {
      val nT = math.max(tracedOps.size, 1).toDouble
      val windows = tracedOps.map(o => (o.startMs, o.endMs))
      val spans = tracer.summary
      def wall(n: String) = tracer.wall(n) / nT
      val perLayer = Map[String, Double](
        "core.build_s" -> wall("core.build"),
        "sources.write_s" -> wall("sources.write"),
        "sources.output_bytes" -> engine.outputBytes / nT,
        "plans.analysis_s" -> plans.phaseMs("analysis") / 1000.0 / nT,
        "plans.optimization_s" -> plans.phaseMs("optimization") / 1000.0 / nT,
        "plans.planning_s" -> plans.phaseMs("planning") / 1000.0 / nT,
        "plans.queries" -> plans.queries / nT,
        "spark.jobs" -> engine.jobs / nT,
        "spark.stages" -> engine.stages / nT,
        "spark.tasks" -> engine.tasks / nT,
        "spark.driver_gap_s" -> engine.uncoveredMs(windows) / 1000.0 / nT,
        "spark.executor_run_s" -> engine.runMs / 1000.0 / nT,
        "spark.executor_cpu_s" -> engine.cpuNs / 1e9 / nT,
        "spark.shuffle_write_bytes" -> engine.shuffleWrite / nT,
        "spark.shuffle_read_bytes" -> engine.shuffleRead / nT,
        "spark.spill_bytes" -> engine.spill / nT,
        "examples.first_pass_s" -> replayTracer.wall("examples.first_pass"),
        "examples.second_pass_s" -> replayTracer.wall("examples.second_pass"),
        "ops.seen_filter_s" -> wall("ops.seen_filter"),
        "ops.novel_s" -> wall("ops.novel"),
        "ops.index_rows" -> extras.getOrElse("ops.index_rows", 0.0),
        "ops.verify_ratio" -> extras.getOrElse("ops.verify_ratio", 0.0),
        "jvm.gc_s" -> gcMs / 1000.0 / nT,
        "jvm.heap_peak_mb" -> heapPeak,
        "host.steal_ticks" -> stealT.toDouble,
        "host.loadavg_1m" -> Host.loadAvg1m(),
        "trace.overhead_s" -> (median(tracedOps.map(_.seconds)) - median(untracedOps.map(_.seconds))))
      report ++= Map(
        "per_layer" -> perLayer,
        "spans" -> spanReport(spans),
        "replay_spans" -> spanReport(replayTracer.summary),
        "traced_op_s" -> tracedOps.map(_.seconds),
        "ops_true_dup_share" -> extras.getOrElse("ops.true_dup_share", 0.0)) ++
        sameDocs.map(b => "staged_replay_same_doc_ids" -> b)
    }

    val ops = untracedOps ++ tracedOps
    val failedOps = checks.count(_.failures.nonEmpty) + errors.size
    val attempted = ops.size + errors.size
    val failedNames = checks.flatMap(_.failures).groupBy(identity).map { case (k, v) => k -> v.size }
    def ratio(x: Long, y: Long) = if (y == 0) Double.NaN else x.toDouble / y
    val endToEnd = Map[String, Double](
      "setup_s" -> median(setUps),
      "rows_per_s" -> untracedOps.map(_.rows).sum / untracedOps.map(_.seconds).sum,
      "batch_p50_s" -> median(untracedOps.map(_.seconds)),
      "stored_bytes_per_input_byte" -> ratio(untracedOps.map(_.outBytes).sum, untracedOps.map(_.inBytes).sum),
      "drop_recall" -> ratio(checks.map(_.dropped).sum, checks.map(_.dropPlanted).sum),
      "keep_recall" -> ratio(checks.map(_.kept).sum, checks.map(_.keepPlanted).sum))
    val sameDocsOk = report.get("staged_replay_same_doc_ids").forall(_ == true)
    val correct = failedOps == 0 && sameDocsOk && ops.nonEmpty

    val units = Map("setup_s" -> "s", "rows_per_s" -> "1/s", "batch_p50_s" -> "s",
      "stored_bytes_per_input_byte" -> "ratio", "drop_recall" -> "ratio", "keep_recall" -> "ratio")
    val storageMb = Host.storageMemoryMb(spark)
    report ++= Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "sizes" -> sizes,
      "end_to_end" -> endToEnd,
      "fail_ratio" -> failedOps.toDouble / attempted,
      "failed_checks" -> failedNames,
      "errors" -> errors,
      "set_up_s" -> setUps,
      "op_s" -> untracedOps.map(_.seconds),
      "input_bytes_per_op" -> untracedOps.headOption.map(_.inBytes).getOrElse(0L),
      "wall_s" -> Map("first_session" -> firstSession, "rounds_and_checks" -> secs(tRounds),
        "total" -> secs(t0)),
      "host" -> Map(
        "cpus_used" -> cpus,
        "cpus_online" -> Runtime.getRuntime.availableProcessors,
        "steal_ticks_delta" -> (Host.stealTicks() - steal0),
        "loadavg_1m" -> Host.loadAvg1m(),
        "heap_max_mb" -> Host.maxHeapMb,
        "storage_memory_mb" -> storageMb))
    stop(spark)

    val metrics =
      if (a.trace) report("per_layer").asInstanceOf[Map[String, Double]].map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
      else endToEnd.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }
    println(Json(Map("report" -> report)))
    println(Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failedOps,
      "metrics" -> metrics)))
  }
}

object Layers {
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_share")) "ratio"
    else if (name == "host.loadavg_1m") "load"
    else "count"
}
