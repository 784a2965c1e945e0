package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.meteo.{Dashboard, PayloadNormalizer}
import graft.ops.Upsert

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean,
    work: Path, tracer: Tracer, progress: ProgressListener,
    wrongExpect: Boolean)

/** One benchmark workload. Main calls `setup` (repeated, data only),
  * `warmup`, `measure`, then `gates`, and reads the figures below. */
trait Workload {
  val ops = new Ops
  def sizes: Map[String, Any]
  def setup(rep: Int): Unit
  def warmup(): Unit
  def measure(seconds: Double): Unit
  def gates(): Unit
  /** Latency samples of the workload's op unit, in seconds. */
  def samples: Seq[Double]
  /** (work done, timed seconds) for the throughput figure. */
  def throughput: (Double, Double)
  /** Root spans of the successful ops. */
  def roots: Seq[Long]
  /** Workload-specific per-layer metrics. */
  def layers(r: TraceReport): Map[String, Double]
}

object Workloads {
  def apply(name: String, c: Ctx): Workload = name match {
    case "ingest" => new Ingest(c)
    case "dashboard" => new DashboardReads(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Batches measured at least, however long they take: on a slow host
    * a fixed window alone would leave too few samples for a steady
    * median. */
  val MinOps = 10

  def laneSizes(tiny: Boolean): LaneSizes =
    if (tiny) LaneSizes(12, 6, 24, 6, 0.1, 0.1)
    else LaneSizes(240, 60, 168, 24, 0.04, 0.03)
}

/** Closed loop, one consumer: land a batch of fetch events, wait for its
  * transaction, land the next. */
final class Ingest(c: Ctx) extends Workload {
  import Ingest.Batch
  private val sz = Workloads.laneSizes(c.tiny)
  private var gen: MeteoGen = _
  private var lane: Lane = _
  private val done = mutable.ArrayBuffer.empty[Batch]
  private var tableFiles = 0.0

  def sizes: Map[String, Any] = sz.stamp ++ Map(
    "preseed_fetches" -> sz.locations,
    "preseed_silver_rows" -> sz.locations.toLong * sz.hours,
    "warmup_batches" -> Ingest.WarmupBatches)

  def setup(rep: Int): Unit = {
    if (lane != null) lane.stop()
    gen = new MeteoGen(c.seed, sz)
    lane = new Lane(c.spark, Files.createDirectories(c.work.resolve(s"ingest$rep")), gen)
    // one batch fetching every location pre-seeds silver
    lane.runBatch(sz.locations)
  }

  // the first batches after the pre-seed run slower while the JIT warms
  // up the per-batch path, so they land before the window opens
  def warmup(): Unit = (0 until Ingest.WarmupBatches).foreach(_ => lane.runBatch())

  def measure(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || ops.attempted < Workloads.MinOps) {
      val before = gen.success.size
      val events = lane.stage()
      val bronzeBytes = lane.lastBatchBronzeBytes
      val rows = (gen.success.size - before).toLong * sz.hours
      val expectTx = lane.txCount + 1
      var span = 0L
      ops.run("batch") {
        c.tracer.span("ingest.batch", "streaming", adoptsUntagged = true) {
          span = c.tracer.current
          lane.landAndWait(events)
        }
      } { _ =>
        val n = lane.txCount
        if (n == expectTx) None else Some(s"expected tx count $expectTx, found $n")
      }.foreach { case (id, secs) =>
        done += Batch(span, id, rows, bronzeBytes, secs)
      }
    }
    lane.stop()
  }

  def gates(): Unit = {
    println("# batch_s " + samples.map(x => f"$x%.3f").mkString(" "))
    val spark = c.spark
    import spark.implicits._
    val silver = lane.observations()
    ops.gate("silver equals one-shot upsert of every success payload") {
      val payloads = spark.read.schema("fetch_id STRING, payload STRING")
        .json(lane.bronzeDir.toString)
        .join(gen.success.toSeq.toDF("fetch_id", "version"), "fetch_id")
      val expected = Upsert.latestByKey(PayloadNormalizer.normalize(payloads),
        Lane.keyCols, col("version"))
      val (a, b) = (Lane.tableHash(silver),
        Lane.tableHash(expected) + (if (c.wrongExpect) "-wrong" else ""))
      if (a == b) None else Some(s"silver hash $a != expected $b")
    }
    ops.gate("ledger rows equal success fetches") {
      val n = lane.ledger().count()
      if (n == gen.success.size) None else Some(s"ledger $n != ${gen.success.size}")
    }
    ops.gate("no error or malformed event reaches silver") {
      val n = silver.filter(col("latitude") < -80).count()
      if (n == 0) None else Some(s"$n poison rows in silver")
    }
    tableFiles = (silver.inputFiles.length + lane.ledger().inputFiles.length).toDouble
  }

  def samples: Seq[Double] = done.map(_.secs).toSeq
  def throughput: (Double, Double) = (done.map(_.rows).sum.toDouble, done.map(_.secs).sum)
  def roots: Seq[Long] = done.map(_.span).toSeq

  def layers(r: TraceReport): Map[String, Double] = {
    val byId = r.spans.map(s => s.id -> s).toMap
    val per = done.toSeq.flatMap(b => byId.get(b.span).map(s => (b, r.rolled(s))))
    def m(f: ((Batch, Map[String, Double])) => Double) = Stats.mean(per.map(f))
    val qid = lane.query.id
    val prog = c.progress.all.filter(_.id == qid).map(p => p.batchId -> p).toMap
    val ps = done.toSeq.flatMap(b => prog.get(b.batchId))
    def dur(k: String) = Stats.mean(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def g(x: Map[String, Double], k: String) = x.getOrElse(k, 0.0)
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.input_rows" -> Stats.mean(ps.map(_.numInputRows.toDouble)),
      "sources.bronze_read_amp" -> m { case (b, x) => g(x, "bronze_bytes_read") / b.bronzeBytes },
      "sources.write_amp" -> m { case (b, x) =>
        val newBytes = g(x, "obs_bytes_written") * b.rows / math.max(1.0, g(x, "obs_rows_written"))
        if (newBytes > 0) g(x, "bytes_written") / newBytes else 0.0
      },
      "sources.files_written" -> m { case (_, x) => g(x, "files_written") },
      "sources.table_files" -> tableFiles,
      "ops.merge_rows_in" -> m { case (b, x) => g(x, "obs_rows_read") + b.rows },
      "ops.merge_rows_out" -> m { case (_, x) => g(x, "obs_rows_written") },
      "ops.merge_keep_ratio" -> m { case (b, x) =>
        g(x, "obs_rows_written") / (g(x, "obs_rows_read") + b.rows) })
  }
}

object Ingest {
  val WarmupBatches = 5
  private final case class Batch(span: Long, batchId: Long, rows: Long,
      bronzeBytes: Long, secs: Double)
}

/** Closed loop, two clients: each renders dashboard pages over one fixed
  * transaction snapshot that set-up built with the ingest lane. */
final class DashboardReads(c: Ctx) extends Workload {
  import DashboardReads.Truth
  private val sz = Workloads.laneSizes(c.tiny)
  private val batches = 2
  private val clients = 2
  // page latency spreads more than batch latency, so take more samples
  private val minPages = 16
  private var lane: Lane = _
  private var tx = 0L
  private var truth: Truth = _
  private val pageRoots = new java.util.concurrent.ConcurrentLinkedQueue[Long]
  private var window = 0.0

  val tiles: Seq[String] = Seq("count_locations", "recent", "describe",
    "row_counts", "last_status", "status_rollup")
  private val described = Seq("temperature", "wind_speed", "precipitation")

  def sizes: Map[String, Any] = sz.stamp ++ Map("snapshot_batches" -> batches,
    "clients" -> clients, "recent_limit" -> 5000,
    "warmup_pages" -> DashboardReads.WarmupPages)

  def setup(rep: Int): Unit = {
    val gen = new MeteoGen(c.seed, sz)
    lane = new Lane(c.spark, Files.createDirectories(c.work.resolve(s"dash$rep")), gen)
    // every batch refetches every location
    try (0 until batches).foreach(_ => lane.runBatch(sz.locations)) finally lane.stop()
    tx = graft.sources.TxManifest.latestTx(c.spark, lane.txRoot).get
    val metricIdx = Map("temperature" -> 0, "precipitation" -> 1, "wind_speed" -> 4)
    val acc = described.map(m => m -> Array(Double.MaxValue, Double.MinValue, 0.0)).toMap
    var n = 0L
    gen.truthRows.foreach { case (loc, h, k) =>
      n += 1
      described.foreach { m =>
        val v = gen.value(loc, h, k, metricIdx(m)); val a = acc(m)
        a(0) = math.min(a(0), v); a(1) = math.max(a(1), v); a(2) += v
      }
    }
    val locations = gen.locations.indices.count(gen.fetchesOf(_) > 0).toLong
    truth = Truth(if (c.wrongExpect) locations + 1 else locations, n,
      gen.success.size.toLong, gen.success.last._1,
      acc.map { case (m, a) => m -> (a(0), a(1), a(2) / n) })
  }

  private def tile[T](name: String)(body: => T): T =
    c.tracer.span(name, "meteo")(body)

  private def page(): Map[String, Any] = {
    val obs = lane.observations(Some(tx))
    val ledger = lane.ledger(Some(tx))
    Map(
      "count_locations" -> tile("count_locations")(Dashboard.countLocations(obs)),
      "recent" -> tile("recent")(Dashboard.recent(obs, 5000).collect()),
      "describe" -> tile("describe")(Dashboard.describe(obs, described).collect()),
      "row_counts" -> tile("row_counts")((obs.count(), ledger.count())),
      "last_status" -> tile("last_status")(ledger
        .orderBy(col("finished_at").desc, col("fetch_id").desc).limit(1)
        .select("fetch_id", "status").collect()),
      "status_rollup" -> tile("status_rollup")(Upsert.latestByKey(ledger,
        Seq("fetch_id"), col("finished_at"), Seq(col("batch_id")))
        .groupBy("status").count().collect()))
  }

  private def check(p: Map[String, Any]): Option[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def want(ok: Boolean, what: => String): Unit = if (!ok) bad += what
    want(p("count_locations") == truth.locations, s"locations ${p("count_locations")}")
    val recent = p("recent").asInstanceOf[Array[Row]].map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    want(recent.length == math.min(5000L, truth.rows), s"recent rows ${recent.length}")
    want(recent.headOption.contains(MeteoGen.T0Ms) &&
      recent.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)), "recent order")
    p("describe").asInstanceOf[Array[Row]].foreach { r =>
      val (lo, hi, mean) = truth.stats(r.getString(0))
      want(r.getLong(1) == truth.rows && r.getDouble(4) == lo && r.getDouble(5) == hi &&
        math.abs(r.getDouble(2) - mean) < 2e-6, s"describe $r")
    }
    want(p("row_counts") == ((truth.rows, truth.ledger)), s"row counts ${p("row_counts")}")
    val last = p("last_status").asInstanceOf[Array[Row]]
    want(last.length == 1 && last(0).getString(0) == truth.lastFetch &&
      last(0).getString(1) == "success", s"last status ${last.mkString}")
    val roll = p("status_rollup").asInstanceOf[Array[Row]].map(r => r.getString(0) -> r.getLong(1)).toMap
    want(roll == Map("success" -> truth.ledger), s"rollup $roll")
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** Every client renders pages back to back while `more()` holds. */
  private def runClients(more: () => Boolean)(render: () => Unit): Unit = {
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => while (more()) render(), s"dash-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  // the first dozen pages run up to twice as slow while the JIT compiles
  // the page path, so both clients render them before the window opens;
  // a wrong or throwing page shows up as a failed op in the window
  def warmup(): Unit = {
    val left = new java.util.concurrent.atomic.AtomicInteger(DashboardReads.WarmupPages)
    runClients(() => left.getAndDecrement() > 0) { () =>
      try page() catch { case _: Exception => }
    }
  }

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    runClients(() => System.nanoTime() < deadline || ops.attempted < minPages) { () =>
      var span = 0L
      ops.run("page")(c.tracer.span("dash.page", "meteo") {
        span = c.tracer.current
        page()
      })(check).foreach(_ => pageRoots.add(span))
    }
    window = (System.nanoTime() - t0) / 1e9
  }

  def gates(): Unit = println("# page_s " + samples.map(x => f"$x%.3f").mkString(" "))
  def samples: Seq[Double] = ops.samples
  def throughput: (Double, Double) = (ops.samples.size.toDouble, window)
  def roots: Seq[Long] = pageRoots.asScala.toSeq

  def layers(r: TraceReport): Map[String, Double] = {
    val rootSet = roots.toSet
    val tileSpans = r.spans.filter(s => rootSet.contains(s.parent))
    tiles.map(t => s"meteo.${t}_ms" ->
      Stats.mean(tileSpans.filter(_.name == t).map(_.durMs))).toMap
  }
}

object DashboardReads {
  val WarmupPages = 16
  /** Generator truth; `stats` is (min, max, mean) per described metric. */
  private final case class Truth(locations: Long, rows: Long, ledger: Long,
      lastFetch: String, stats: Map[String, (Double, Double, Double)])
}
