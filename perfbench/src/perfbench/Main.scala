package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Metric names and units: the same lists as BENCHMARK.json, which
  * perfbench/run.py checks the printed result against.
  */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_share" -> "share", "fresh_s" -> "s", "replay_s" -> "s",
    "op_p50_ms" -> "ms", "op_p95_ms" -> "ms", "within_limit_share" -> "share")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.job_p50_ms" -> "ms", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.core_util" -> "share", "spark.gc_s" -> "s",
    "spark.peak_exec_mem_mb" -> "MB", "spark.unattributed_jobs" -> "count",
    "jvm.heap_peak_mb" -> "MB",
    "etl.sync_operativas_s" -> "s", "etl.sync_seguridad_s" -> "s", "etl.transition_s" -> "s",
    "etl.jobs_per_sync" -> "count", "etl.resync_jobs_per_sync" -> "count", "etl.fresh_ratio" -> "share",
    "warehouse.files" -> "count", "warehouse.bytes" -> "bytes", "warehouse.bytes_written_per_day" -> "bytes",
    "serving.kpis_p50_ms" -> "ms", "serving.ranking_grupos_p50_ms" -> "ms",
    "serving.ranking_sucursales_p50_ms" -> "ms", "serving.historico_p50_ms" -> "ms",
    "serving.alertas_p50_ms" -> "ms", "serving.mapa_p50_ms" -> "ms",
    "serving.detalle_p50_ms" -> "ms", "serving.trend_p50_ms" -> "ms", "serving.areas_p50_ms" -> "ms",
    "serving.jobs_per_request" -> "count", "serving.bytes_read_per_request" -> "bytes",
    "serving.queue_wait_ms" -> "ms", "serving.generator_late_ms" -> "ms",
    "relational.wall_s" -> "s", "relational.executor_cpu_s" -> "s", "relational.core_util" -> "share",
    "relational.jobs" -> "count", "relational.tasks" -> "count",
    "corpus.wall_s" -> "s", "corpus.executor_cpu_s" -> "s", "corpus.core_util" -> "share",
    "corpus.shuffle_bytes" -> "bytes", "corpus.spill_bytes" -> "bytes",
    "pipelines.ingest_jobs_per_batch" -> "count", "pipelines.replay_jobs_per_batch" -> "count",
    "pipelines.replay_job_ratio" -> "share", "pipelines.shuffle_bytes_per_batch" -> "bytes",
    "pipelines.bytes_written_per_batch" -> "bytes", "pipelines.state_rows" -> "count",
    "trace.overhead_pct" -> "%")
}

/** One run's shared state: the session, the tracer, the seed and time
  * budget, and the operation and set-up accounting every workload reports
  * through.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val runDir: Path, val root: Path, val cores: Int) {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0)
  private val failedN = new java.util.concurrent.atomic.AtomicLong(0)
  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()
  val failures = mutable.ArrayBuffer.empty[String]
  val setupStages = mutable.ArrayBuffer.empty[(String, String, Double, Option[String])]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  private var measureFromMs = Long.MaxValue
  private var measureToMs = Long.MinValue
  private var measureNs = 0L
  @volatile private var measuring = false
  /** Warm-up and output checks inside the measured phase: their jobs are
    * left out of the layer roll-ups, so their wall is left out of the
    * windows the roll-ups are divided by.
    */
  private val uncountedNs = new java.util.concurrent.atomic.AtomicLong(0)
  private var gcMs0 = 0L

  /** One workload operation: counted as attempted, and as failed when it
    * throws or its output check returns a message.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(body)
    catch { case NonFatal(e) => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}"); None }
  }

  /** Record a failed check of an attempted operation. */
  def fail(msg: String): Unit = synchronized {
    failedN.incrementAndGet()
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A set-up stage of the program (index, seed or table builds), timed
    * into setup_s; a stage that throws is a failed operation.
    */
  def setup[T](stage: String)(body: => T): Option[T] = stageOf("setup", stage)(body)

  /** A warm-up stage: the same kind of calls as the measured phase, on
    * other inputs, so the measured phase runs compiled code, as in a
    * long-running process. Timed into the manifest, not into setup_s.
    */
  def warmup[T](stage: String)(body: => T): Option[T] = stageOf("warmup", stage)(body)

  /** Seconds of each set-up stage of this run, warm-up stages excluded. */
  def setupSeconds: Seq[Double] = setupStages.collect { case (_, "setup", s, _) => s }.toSeq

  /** An output check inside the measured phase: traced as its own span,
    * its wall kept out of the measured window.
    */
  def check[T](what: String)(body: => T): T = uncounted(tracer.span(what, "check")(body))

  private def uncounted[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally if (measuring) uncountedNs.addAndGet(System.nanoTime() - t0)
  }

  private def stageOf[T](kind: String, stage: String)(body: => T): Option[T] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = if (kind == "warmup") uncounted(tracer.span(stage, kind)(body)) else tracer.span(stage, kind)(body)
      setupStages += ((stage, kind, (System.nanoTime() - t0) / 1e9, None))
      Some(r)
    } catch { case NonFatal(e) =>
      setupStages += ((stage, kind, (System.nanoTime() - t0) / 1e9, Some(e.toString)))
      fail(s"$kind $stage: $e")
      None
    }
  }

  /** The measured phase: end-to-end timings and the per-layer window. */
  def measure[T](body: => T): T = {
    Main.log("measure start")
    Jvm.resetHeapPeak()
    gcMs0 = Jvm.gcMs
    val t0 = System.nanoTime()
    measureFromMs = System.currentTimeMillis()
    measuring = true
    try body
    finally {
      measuring = false
      measureNs += System.nanoTime() - t0
      measureToMs = System.currentTimeMillis()
      Main.log("measure end")
      layer("jvm.heap_peak_mb") = Jvm.heapPeakMb
      layer("spark.gc_s") = (Jvm.gcMs - gcMs0) / 1e3
    }
  }

  def measuredSeconds: Double = measureNs / 1e9

  /** The measured phase without its warm-up and output checks: the window
    * of [[measuredJobs]].
    */
  def countedSeconds: Double = (measureNs - uncountedNs.get()) / 1e9

  /** Jobs of the measured phase, output checks and warm-up excluded. */
  def measuredJobs: Seq[JobStats] = tracer.jobsBetween(measureFromMs, measureToMs)
    .filterNot(_.span.exists(s => tracer.layersOf(s).exists(Set("check", "warmup"))))

  def jobsOfLayer(l: String): Seq[JobStats] =
    measuredJobs.filter(_.span.exists(s => tracer.layersOf(s).contains(l)))

  /** Wall of the spans of layer `l` inside the measured phase. */
  def layerWallS(l: String): Double =
    tracer.allSpans.filter(s => s.layer == l && s.startMs >= measureFromMs && s.endNs > 0)
      .map(s => s.endNs - s.startNs).sum / 1e9

  def fillSparkMetrics(): Unit = {
    val js = measuredJobs
    val wall = countedSeconds
    val run = js.map(_.runMs).sum / 1e3
    layer("spark.jobs") = js.size
    layer("spark.job_p50_ms") = Stats.median(js.map(_.wallMs.toDouble))
    layer("spark.tasks") = js.map(_.tasks).sum
    layer("spark.executor_run_s") = run
    layer("spark.core_util") = if (wall > 0) run / (wall * cores) else 0.0
    layer("spark.peak_exec_mem_mb") = (if (js.isEmpty) 0L else js.map(_.peakMem).max) / 1048576.0
    layer("spark.unattributed_jobs") = js.count(_.span.isEmpty)
    layer("trace.overhead_pct") = if (wall > 0) 100.0 * tracer.costNs.get() / 1e9 / wall else 0.0
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Files and bytes under a directory tree. */
  def tree(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (files.length.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}

object Main {
  private val startNs = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM main start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%7.2f s $msg")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val originNs = System.nanoTime()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(20)
    val trace = arg(args, "--trace").contains("1")
    val runDir = Paths.get(arg(args, "--run-dir").getOrElse("."))
    val resultsDir = Paths.get(arg(args, "--results-dir").getOrElse("."))
    val root = Paths.get(arg(args, "--root").getOrElse("."))
    val cores = Runtime.getRuntime.availableProcessors()
    val indexDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", runDir.resolve("index").toString))
    val indexStartedEmpty = !Files.exists(indexDir) ||
      { val s = Files.list(indexDir); try !s.findAny().isPresent finally s.close() }

    val t0 = System.nanoTime()
    // the session settings Bench uses, with every scratch path inside the
    // run dir; the heap is run.py's, not build.sbt's
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(s"session up; running $workload")
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace), seed, seconds, runDir, root, cores)

    workload match {
      case "cas-day"         => CasDay.run(ctx)
      case "suite"           => Suite.run(ctx)
      case "curation-stream" => CurationStream.run(ctx)
      case other             => sys.error(s"unknown workload $other")
    }
    log("workload done")
    ctx.tracer.drain()
    ctx.fillSparkMetrics()
    ctx.e2e("ok_share") = 1.0 - ctx.failed.toDouble / math.max(1L, ctx.attempted)

    val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    if (trace) ctx.tracer.writeTrace(resultsDir.resolve(s"$stem.trace.jsonl"), originNs)
    val metrics =
      if (trace) Catalog.perLayer.map { case (n, u) => n -> Map("value" -> ctx.layer.getOrElse(n, 0.0), "unit" -> u) }
      else Catalog.endToEnd.map { case (n, u) =>
        n -> Map("value" -> ctx.e2e.getOrElse(n, sys.error(s"$workload did not measure $n")), "unit" -> u)
      }
    writeManifest(ctx, resultsDir.resolve(s"$stem.manifest.json"), workload, trace, sessionS,
      indexDir, indexStartedEmpty)
    spark.stop()
    log("session stopped")
    println(Json.obj(
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> Json.Raw(Json.obj(metrics: _*))))
  }

  private def writeManifest(ctx: Ctx, path: Path, workload: String, trace: Boolean,
                            sessionS: Double, indexDir: Path, indexStartedEmpty: Boolean): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val commit = {
      val head = ctx.root.resolve(".git/HEAD")
      if (!Files.exists(head)) "unknown (not a git checkout)"
      else {
        val ref = Files.readString(head).trim
        if (!ref.startsWith("ref: ")) ref
        else {
          val f = ctx.root.resolve(".git").resolve(ref.stripPrefix("ref: "))
          if (Files.exists(f)) Files.readString(f).trim else ref
        }
      }
    }
    val dials = sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sorted
    val json = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> trace,
      "commit" -> commit, "nproc" -> ctx.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString).filter(_.startsWith("-X")),
      "spark" -> ctx.spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "spark_graft_env" -> Json.Raw(Json.obj(dials: _*)),
      "index_dir" -> indexDir.toString, "index_dir_started_empty" -> indexStartedEmpty,
      "session_s" -> sessionS,
      "setup_stages" -> ctx.setupStages.map { case (n, kind, s, err) =>
        Json.Raw(Json.obj("stage" -> n, "kind" -> kind, "seconds" -> s, "error" -> err)) },
      "measured_s" -> ctx.measuredSeconds, "measured_without_warmup_and_checks_s" -> ctx.countedSeconds,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures,
      "end_to_end" -> Json.Raw(Json.obj(ctx.e2e.toSeq: _*)),
      "per_layer" -> Json.Raw(Json.obj(ctx.layer.toSeq: _*)),
      "notes" -> Json.Raw(Json.obj(ctx.notes.toSeq: _*)))
    Files.writeString(path, json + "\n")
  }
}
