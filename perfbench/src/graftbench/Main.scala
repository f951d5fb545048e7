package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val counters: SparkCounters, val streams: StreamCounters) {
  val gen: String = work.resolve("gen").toString
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Record an output check; a false check fails the operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures.synchronized { failures += what }
    ok
  }

  def failureLog: Seq[String] = failures.synchronized(failures.toList)

  /** Release cached data and memoized artifacts (never inside a timed
    * region). Workloads that start each pass cold call it between passes;
    * `analyst_mix` never does, so its memos stay warm. */
  def clearCaches(): Unit = {
    graft.sources.Materialize.invalidate(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

/** What one measuring window produced. `opMs` holds the latency of every
  * completed untraced operation, `tracedMs` of every traced one; `wallSec`
  * the window's wall time, from its start until its last operation and
  * the clean-up after it ended; `rowsPerSec` the workload's row
  * throughput; `layer` per-layer metrics the workload itself measured. */
final case class Window(opMs: Seq[Double], tracedMs: Seq[Double],
                        attempted: Int, failed: Int, wallSec: Double,
                        rowsPerSec: Double,
                        layer: Map[String, Double])

trait Workload {
  def name: String
  /** Write the seeded inputs under `ctx.gen`. */
  def generate(ctx: Ctx): Unit
  /** One-time builds and warm-up passes, after generation. */
  def warmup(ctx: Ctx): Unit
  /** Measure for `seconds`; `first` numbers the window's first
    * operation. With `trace`, every other operation is traced. */
  def measure(ctx: Ctx, seconds: Double, first: Int, trace: Boolean): Window
  /** Per-layer metric names this workload can report (0 elsewhere). */
  def layerMetrics: Seq[String]
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of `xs`. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Main {
  val workloads: Map[String, Workload] =
    Seq(LakeEtl, AnalystMix, MlCorpus).map(w => w.name -> w).toMap
  /** The workloads BENCHMARK.json lists. `ml_corpus` runs by hand: its
    * warm-up and one pass take about 40 s, more than a run of the listed
    * benchmark can spend. */
  val listed = Seq(AnalystMix, LakeEtl)

  /** Layers of the program (packages under graft/) plus the harness. */
  val layers = Seq("sources", "jobs", "streaming", "operators", "plans",
    "api", "functions", "bench")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val w = workloads.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${w.name}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("rdd-ckpt").toString)
    DagLog.install()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val streams = new StreamCounters
    spark.streams.addListener(streams)
    val ctx = new Ctx(spark, seed, work, counters, streams)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionSec = (System.nanoTime() - t0) / 1e9

    val (_, genMs) = Stats.time(w.generate(ctx))
    val (_, warmMs) = Stats.time(w.warmup(ctx))
    // each workload clears its own caches after its warm-up passes, or
    // keeps them warm on purpose; only garbage is collected here
    System.gc()
    val setupSec = sessionSec + (genMs + warmMs) / 1000
    System.err.println(f"[setup] session $sessionSec%.2f s, generation ${
      genMs / 1000}%.2f s, warm-up ${warmMs / 1000}%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)

    // a traced run alternates traced and untraced operations, so the
    // tracing overhead is measured inside the run, free of warm-up drift
    val gc0 = Proc.gcMs()
    val c0 = counters.snapshot()
    val b0 = streams.all.size
    val (win, windowMs) = Stats.time(w.measure(ctx, seconds, 100, traced))
    val gc = Proc.gcMs() - gc0
    Thread.sleep(50) // let the listener bus deliver the last task ends
    val c = SparkCounters.minus(counters.snapshot(), c0)

    val attempted = win.attempted
    val failed = win.failed
    if (!traced) {
      put("setup_s", setupSec, "s")
      put("op_p50_ms", Stats.median(win.opMs), "ms")
      put("op_p90_ms", Stats.pct(win.opMs, 0.9), "ms")
      put("ops_per_s", win.opMs.size / win.wallSec, "1/s")
      put("rows_per_s", win.rowsPerSec, "rows/s")
      put("peak_rss_mb", Proc.peakRssMb(), "MB")
      put("ok_rate", (attempted - failed).toDouble / math.max(attempted, 1),
        "ratio")
    } else {
      // window totals grow with the operations that fit in the window, so
      // they are reported per operation: engine counters per operation
      // of the window (traced and untraced), span self times per traced
      // operation
      val ops = math.max(attempted, 1).toDouble
      val g = (k: String) => c.getOrElse(k, 0L).toDouble
      val per = (k: String) => g(k) / ops
      val batches = streams.all.drop(b0)
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
      put("sources.input_bytes", per("input_bytes"), "bytes/op")
      put("sources.input_rows", per("input_rows"), "rows/op")
      put("jobs.output_bytes", per("output_bytes"), "bytes/op")
      put("jobs.write_amp",
        if (g("input_bytes") > 0) g("output_bytes") / g("input_bytes") else 0,
        "ratio")
      put("streaming.batches", batches.size / ops, "count/op")
      put("streaming.batch_p50_ms", Stats.median(dur("triggerExecution")), "ms")
      put("streaming.add_batch_ms", Stats.median(dur("addBatch")), "ms")
      put("streaming.wal_commit_ms", Stats.median(dur("walCommit")), "ms")
      put("streaming.query_planning_ms", Stats.median(dur("queryPlanning")),
        "ms")
      put("streaming.latest_offset_ms", Stats.median(dur("latestOffset")), "ms")
      put("streaming.rows_per_batch",
        Stats.median(batches.map(_.rows.toDouble)), "rows")
      // every listed workload's layer metrics, 0 where this workload
      // leaves the layer idle
      (listed :+ w).flatMap(_.layerMetrics).distinct
        .foreach(k => put(k, win.layer.getOrElse(k, 0.0),
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_per_s")) "rows/s"
        else if (k.endsWith("hits") || k.contains("recall")) "ratio"
        else "count"))
      put("spark.jobs", per("jobs"), "count/op")
      put("spark.stages", per("stages"), "count/op")
      put("spark.tasks", per("tasks"), "count/op")
      put("spark.task_run_ms", per("task_run_ms"), "ms/op")
      put("spark.task_cpu_ms", per("task_cpu_ms"), "ms/op")
      put("spark.scheduler_delay_ms", per("scheduler_delay_ms"), "ms/op")
      put("spark.busy_ratio", g("task_run_ms") / (windowMs * cores),
        "ratio")
      put("spark.gc_ms", gc / ops, "ms/op")
      put("spark.shuffle_write_bytes", per("shuffle_write_bytes"), "bytes/op")
      put("spark.shuffle_read_bytes", per("shuffle_read_bytes"), "bytes/op")
      put("spark.spill_bytes", per("spill_bytes"), "bytes/op")
      put("spark.failed_tasks", per("failed_tasks"), "count/op")
      val spans = Trace.all
      val tracedOps = math.max(spans.map(_.pass).distinct.size, 1).toDouble
      val self = Trace.selfMsByLayer(spans)
      layers.foreach(l =>
        put(s"self_ms.$l", self.getOrElse(l, 0.0) / tracedOps, "ms/op"))
      put("trace.spans", spans.size / tracedOps, "count/op")
      put("trace.overhead_ms",
        if (win.tracedMs.isEmpty || win.opMs.isEmpty) 0.0
        else Stats.median(win.tracedMs) - Stats.median(win.opMs), "ms")
      Trace.write(work.getParent.getParent.resolve("traces")
        .resolve(s"${w.name}-$seed.jsonl"))
    }

    ctx.failureLog.take(20).foreach(f => System.err.println(s"[check] $f"))
    // a check that failed during warm-up also makes the run incorrect
    val correct = failed == 0 && attempted > 0 && ctx.failureLog.isEmpty
    val json = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    val line = s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $json}"""
    Files.write(Paths.get(opts("out")), (line + "\n").getBytes("UTF-8"))
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }
}
