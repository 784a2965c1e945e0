package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.meteo.Sources
import graft.sources.TxManifest
import graft.streaming.{FetchEventStream, JsonLinesSource}

/** Input sizes of the meteo lane. */
final case class LaneSizes(locations: Int, fetchesPerBatch: Int, hours: Int,
    shiftHours: Int, errorShare: Double, malformedShare: Double) {
  def stamp: Map[String, Any] = Map("locations" -> locations,
    "fetches_per_batch" -> fetchesPerBatch, "hours_per_payload" -> hours,
    "refetch_shift_hours" -> shiftHours,
    "overlap_share" -> (hours - shiftHours).toDouble / hours,
    "error_share" -> errorShare, "malformed_share" -> malformedShare)
}

/** Seeded generator of open-meteo payloads and fetch events.
  *
  * Every location is fetched round-robin; fetch k of a location covers
  * hours [k·shift, k·shift + hours), so a refetch overlaps the previous
  * window and most of its rows are upsert conflicts. A metric value is a
  * function of (seed, location, hour, fetch), so the newest fetch of an
  * hour decides the silver value. Error events and schema-invalid lines
  * reference "poison" payloads (latitude below -80) that must never
  * reach silver. */
final class MeteoGen(seed: Long, val sz: LaneSizes) {
  private val rnd = new java.util.SplittableRandom(seed)
  val locations: Array[(Double, Double)] = {
    val seen = mutable.LinkedHashSet.empty[(Int, Int)]
    while (seen.size < sz.locations)
      seen += ((rnd.nextInt(-600, 700), rnd.nextInt(-1800, 1800)))
    seen.toArray.map { case (a, b) => (a / 10.0, b / 10.0) }
  }
  private val fetches = Array.fill(sz.locations)(0)
  private var cursor = 0
  private var seq = 0L
  private var poison = 0
  /** (fetch_id, upsert version) of every success fetch so far. */
  val success = mutable.ArrayBuffer.empty[(String, Long)]

  def fetchesOf(loc: Int): Int = fetches(loc)

  /** Metric value for (location, hour, fetch); one decimal. */
  def value(loc: Int, hour: Int, k: Int, metric: Int): Double = {
    var h = seed * 0x9e3779b97f4a7c15L + loc * 0xbf58476d1ce4e5b9L +
      hour * 0x94d049bb133111ebL + k * 0x2545f4914f6cdd1dL + metric
    h ^= h >>> 31; h *= 0x7fb5d329728ea185L; h ^= h >>> 27
    val u = (h >>> 11).toDouble / (1L << 53)
    val (lo, span) = PayloadShape.ranges(metric)
    math.round((lo + span * u) * 10) / 10.0
  }

  private def hourStamp(hour: Int): String =
    java.time.Instant.ofEpochMilli(MeteoGen.T0Ms + hour * 3600000L).toString.take(16)

  private def payload(lat: Double, lon: Double, loc: Int, k: Int,
      startHour: Int): String = {
    val b = new StringBuilder
    b ++= s"""{"latitude":$lat,"longitude":$lon,"generationtime_ms":0.05,"hourly":{"time":["""
    var h = 0
    while (h < sz.hours) {
      if (h > 0) b += ','
      b += '"' ++= hourStamp(startHour + h) += '"'; h += 1
    }
    b += ']'
    PayloadShape.metrics.indices.foreach { m =>
      b ++= ",\"" ++= PayloadShape.metrics(m) ++= "\":["
      var i = 0
      while (i < sz.hours) {
        if (i > 0) b += ','
        b ++= value(loc, startHour + i, k, m).toString; i += 1
      }
      b += ']'
    }
    b ++= "}}"
    b.toString
  }

  private def event(id: String, status: String, source: String,
      lat: Double, lon: Double, ms: Long): String =
    s"""{"fetch_id":"$id","source":"$source","status":"$status",""" +
      s""""path":"bronze/$id.json","params":{"latitude":"$lat","longitude":"$lon"},""" +
      s""""finished_at":$ms}"""

  /** One batch of `n` fetches: bronze payload lines and fetch-event lines. */
  def batch(tag: String, n: Int): (Seq[String], Seq[String]) = {
    val bronze = mutable.ArrayBuffer.empty[String]
    val events = mutable.ArrayBuffer.empty[String]
    def bronzeLine(id: String, p: String) =
      s"""{"fetch_id":"$id","payload":${Json.str(p)}}"""
    def poisonPayload(id: String): Unit = {
      poison += 1
      bronze += bronzeLine(id, payload(-89.9, (poison % 3600 - 1800) / 10.0,
        -1, 0, 0))
    }
    (0 until n).foreach { i =>
      seq += 1
      val ms = MeteoGen.T0Ms + seq * 1000L
      val id = s"$tag-$i"
      if (rnd.nextDouble() < sz.errorShare) {
        poisonPayload(id)
        events += event(id, "error", Sources.meteo.url, -89.9, 0.0, ms)
      } else {
        val loc = cursor; cursor = (cursor + 1) % sz.locations
        val k = fetches(loc); fetches(loc) += 1
        val (lat, lon) = locations(loc)
        val p = payload(lat, lon, loc, k, k * sz.shiftHours)
        bronze += bronzeLine(id, p)
        success += ((id, ms / 1000L))
        events += event(id, "success", Sources.meteo.url, lat, lon, ms)
      }
      if (rnd.nextDouble() < sz.malformedShare) {
        val bad = s"$tag-bad$i"
        poisonPayload(bad)
        events += (if (rnd.nextBoolean()) s"""{"fetch_id":"$bad","status":"succ"""
          else s"""{"fetch_id":"$bad","status":"success","finished_at":$ms}""")
      }
    }
    (bronze.toSeq, events.toSeq)
  }

  /** Final silver value per (location, hour): the newest fetch wins. */
  def truthRows: Iterator[(Int, Int, Int)] =
    (0 until sz.locations).iterator.filter(fetches(_) > 0).flatMap { loc =>
      val last = fetches(loc) - 1
      (0 until last * sz.shiftHours + sz.hours).iterator.map { h =>
        val k = math.min(last, h / sz.shiftHours)
        (loc, h, k)
      }
    }
}

object MeteoGen {
  /** Hour 0 of every payload: 2026-01-01T00:00Z. */
  val T0Ms: Long = 1767225600000L
}

object PayloadShape {
  val metrics: Seq[String] = graft.meteo.PayloadNormalizer.metricMap.map(_._1)
  /** (low, span) per metric, in payload order. */
  val ranges: Seq[(Double, Double)] = metrics.map {
    case "temperature_2m" => (-20.0, 55.0)
    case "precipitation" => (0.0, 12.0)
    case "soil_temperature_18cm" => (-5.0, 35.0)
    case "soil_moisture_9_to_27cm" => (0.0, 0.6)
    case "wind_speed_10m" => (0.0, 60.0)
    case "wind_direction_10m" => (0.0, 360.0)
    case _ => (0.0, 100.0)
  }
}

/** The ingest lane as a user runs it: fetch events land in a directory
  * watched by `FetchEventStream.normalizeToSilverTx` over a
  * `JsonLinesSource`; each landed batch is one trigger that publishes
  * observations and ledger as one transaction. */
final class Lane(spark: SparkSession, val root: Path, gen: MeteoGen) {
  val bronzeDir: Path = Files.createDirectories(root.resolve("bronze"))
  val eventsDir: Path = Files.createDirectories(root.resolve("events"))
  val txRoot: String = root.resolve("lake").toString
  private val ckpt = root.resolve("ckpt").toString
  private var landed = 0
  var lastBatchBronzeBytes = 0L

  val query: StreamingQuery = FetchEventStream.normalizeToSilverTx(
    FetchEventStream.validEvents(JsonLinesSource(eventsDir.toString).events(spark)),
    bronzeDir.toString, txRoot, ckpt)

  /** Files become visible to Spark only through an atomic rename from a
    * hidden name, so a reader never sees a partial file. */
  private def publish(dir: Path, name: String, lines: Seq[String]): Long = {
    val tmp = dir.resolve("." + name + ".tmp")
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  /** Write the payloads of a batch of `n` fetches to bronze (before its
    * events exist). */
  def stage(n: Int = gen.sz.fetchesPerBatch): Seq[String] = {
    val (bronze, events) = gen.batch(f"b$landed%05d-${root.getFileName}", n)
    lastBatchBronzeBytes = publish(bronzeDir, f"b$landed%05d.json", bronze)
    events
  }

  /** Land the events and wait until the trigger that consumes them has
    * published its transaction. Returns the streaming batch id. */
  def landAndWait(events: Seq[String]): Long = {
    publish(eventsDir, f"e$landed%05d.json", events)
    landed += 1
    query.processAllAvailable()
    Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
  }

  def runBatch(n: Int = gen.sz.fetchesPerBatch): Long = landAndWait(stage(n))

  def txCount: Int = TxManifest.txVersions(spark, txRoot).size

  def stop(): Unit = query.stop()

  def observations(tx: Option[Long] = None): DataFrame =
    TxManifest.read(spark, txRoot, "observations", tx)

  def ledger(tx: Option[Long] = None): DataFrame =
    TxManifest.read(spark, txRoot, "fetch_ledger", tx)
}

object Lane {
  val keyCols: Seq[String] = Seq("latitude", "longitude", "timestamp")

  /** Order-insensitive content hash computed inside Spark: sum (as
    * decimal, no overflow) and xor of a 64-bit row hash, plus the count. */
  def tableHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}-${r.get(1)}-${r.get(2)}"
  }
}
