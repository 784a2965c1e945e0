package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Metric names and units; BENCHMARK.json lists the same names. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  /** Engine counters summed per op from the listener (see Trace.scala). */
  val engineCounters: Seq[(String, String)] = Seq("analysis_ms" -> "ms",
    "optimizer_ms" -> "ms", "physical_ms" -> "ms", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "input_bytes" -> "bytes",
    "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_mem_bytes" -> "bytes", "spill_disk_bytes" -> "bytes",
    "gc_ms" -> "ms", "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms")

  val perLayer: Seq[(String, String)] =
    engineCounters.map { case (k, u) => s"engine.$k" -> u } ++
      Seq("engine.driver_only_ms" -> "ms") ++
      Seq("plans.rule_ms" -> "ms", "plans.rule_effective" -> "count",
        "sources.files_read" -> "count", "sources.bronze_read_amp" -> "ratio",
        "sources.write_amp" -> "ratio", "sources.files_written" -> "count",
        "sources.table_files" -> "count",
        "ops.merge_rows_in" -> "rows", "ops.merge_rows_out" -> "rows",
        "ops.merge_keep_ratio" -> "ratio") ++
      Seq("streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
        "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
        "streaming.latest_offset_ms" -> "ms", "streaming.input_rows" -> "rows") ++
      Seq("count_locations", "recent", "describe", "row_counts", "last_status",
        "status_rollup").map(t => s"meteo.${t}_ms" -> "ms")
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, tiny: Boolean, work: Path, out: Path,
    wrongExpect: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", a.contains("--tiny"), Paths.get(get("--work")),
      Paths.get(get("--out")), a.contains("--wrong-expect"))
  }
}

/** Runs one workload and prints one JSON result line last.
  *
  * Lines before it start with "# " and carry the run's stamp (seed,
  * input sizes, cores, heap, CPU probe), the tail percentile used, the
  * failure log and, when traced, the self-time table. */
object Main {
  private def say(s: String): Unit = println("# " + s)

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      // bounded listener retention, as in graft.Bench, so driver-side
      // bookkeeping stays constant over a run of many short queries
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.TopK.ensureRegistered(s)
    s
  }

  /** Fixed single-thread integer work; its wall time stamps the host's speed. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after forced collections. Spark's context cleaner
    * frees shuffle and broadcast blocks asynchronously once their
    * owners are collected, so collect a few times with pauses and keep
    * the lowest reading. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Block until every listener has seen every event posted so far. */
  private def drainListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val tStart = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val engine = new EngineListener
    val progress = new ProgressListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(progress)
    }
    val ctx = Ctx(spark, a.seed, a.tiny, a.work, tracer, progress, a.wrongExpect)
    try run(a, ctx, sessionS, engine)
    finally spark.stop()
  }

  private def run(a: Args, ctx: Ctx, sessionS: Double, engine: EngineListener): Unit = {
    val spark = ctx.spark
    val w = Workloads(a.workload, ctx)
    val setupReps = (0 until 3).map { rep =>
      val t = System.nanoTime(); w.setup(rep); (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime(); w.warmup(); val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(setupReps) + warmupS
    ctx.tracer.enabled = a.trace
    w.measure(a.seconds)
    ctx.tracer.enabled = false
    val heapMb = retainedHeapMb()
    w.gates()
    drainListeners(spark)

    val nproc = Runtime.getRuntime.availableProcessors
    val stamp = Map("workload" -> a.workload, "seed" -> a.seed, "tiny" -> a.tiny,
      "trace" -> a.trace, "seconds" -> a.seconds, "nproc" -> nproc,
      "spark_master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cpu_probe_s" -> cpuProbe(), "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "session_s" -> sessionS, "setup_data_s" -> setupReps, "warmup_s" -> warmupS,
      "sizes" -> w.sizes)
    say("stamp " + Json.value(stamp))
    w.ops.errorLog.foreach(e => say("FAILED " + e))

    val samples = w.samples
    val values: Map[String, Double] =
      if (!a.trace) {
        val (work, secs) = w.throughput
        val (tail, beyond, n) = if (samples.isEmpty) (Double.NaN, 0, 0) else Stats.tail(samples)
        say(s"op samples $n, tail p90 with $beyond beyond it, fail_ratio " +
          s"${w.ops.failed.toDouble / math.max(1L, w.ops.attempted)}")
        Map(
          "setup_s" -> setupS,
          "op_p50_ms" -> (if (samples.isEmpty) Double.NaN else Stats.median(samples) * 1000),
          "op_tail_ms" -> tail * 1000,
          "throughput_per_s" -> (if (samples.nonEmpty && secs > 0) work / secs else Double.NaN),
          "retained_heap_mb" -> heapMb)
      } else {
        val r = new TraceReport(ctx.tracer, engine)
        val byId = r.spans.map(s => s.id -> s).toMap
        val roots = w.roots.flatMap(byId.get)
        val rolled = roots.map(r.rolled)
        def perOp(k: String) = Stats.mean(rolled.map(_.getOrElse(k, 0.0)))
        val generic = Map(
          "engine.driver_only_ms" -> Stats.mean(roots.map(r.driverOnlyMs)),
          "sources.files_read" -> perOp("files_read"),
          "plans.rule_ms" -> perOp("rule_ms"),
          "plans.rule_effective" -> perOp("rule_effective")) ++
          Metrics.engineCounters.map { case (k, _) => s"engine.$k" -> perOp(k) }
        val base = s"${a.workload}-seed${a.seed}"
        r.writeSpans(a.out.resolve(s"$base.spans.jsonl"))
        val table = r.selfTable
        Files.write(a.out.resolve(s"$base.self.json"), java.util.List.of(Json.value(
          table.map { case (l, n, c, tot, self) =>
            Map("layer" -> l, "name" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
          })))
        table.foreach { case (l, n, c, tot, self) =>
          say(f"self $l%-9s $n%-24s n=$c%5d total_ms=$tot%10.1f self_ms=$self%10.1f")
        }
        if (samples.nonEmpty)
          say(f"traced op_p50_ms ${Stats.median(samples) * 1000}%.3f")
        // a layer the workload does not touch reads 0
        val all = generic ++ w.layers(r)
        Metrics.perLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
      }
    val metrics = (if (a.trace) Metrics.perLayer else Metrics.endToEnd)
      .map { case (k, u) => (k, u, values(k)) }

    val ok = w.ops.failed == 0 && samples.nonEmpty
    val result = "{" + Seq(
      "\"correct\":" + ok,
      "\"attempted\":" + w.ops.attempted,
      "\"failed\":" + w.ops.failed,
      "\"metrics\":" + metrics.map { case (k, u, v) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u)
      }.mkString("{", ",", "}")).mkString(",") + "}"
    println(result)
  }
}
