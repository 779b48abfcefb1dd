package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.ZoneOffset.UTC
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generated CSV: its lines (header first), how many data lines are
  * clean (no null or unparseable cell), and how many distinct clean lines.
  */
final case class Csv(lines: Seq[String], cleanRows: Int = 0, cleanDistinct: Int = 0) {
  def rows: Int = lines.size - 1
  def write(file: Path): Long = {
    Files.createDirectories(file.getParent)
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(file, bytes)
    bytes.length.toLong
  }
}

/** Seeded generator for the reference's feed CSVs (FIXTURES.md §A) and for
  * the curated rows of the lake-churn tables.
  *
  * Every value derives from a `SplittableRandom` keyed on (seed, feed,
  * chunk), so one seed gives byte-identical files whatever order the
  * chunks are generated in. Feed dirt follows FIXTURES.md: about 5 % of
  * rows carry one empty (null) cell, about 2 % one unparseable timestamp
  * or number, and about 5 % are delivered twice as an exact duplicate.
  */
final class FeedGen(seed: Long) {
  import FeedGen._

  private def rng(feed: Int, chunk: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x5DEECE66DL, feed.toLong), chunk))

  /** Cells of one raw row plus which of them are typed (may be made
    * unparseable). Returns the emitted lines (1 or 2 for a duplicate) and
    * whether the row is clean.
    */
  private def dirty(r: SplittableRandom, cells: Array[String],
      typed: Array[Int]): (Seq[String], Boolean) = {
    val d = r.nextDouble()
    val clean = d >= 0.07
    if (d < 0.05) cells(r.nextInt(cells.length)) = ""
    else if (d < 0.07) {
      val i = typed(r.nextInt(typed.length))
      cells(i) = if (cells(i).contains(':')) "not-a-date" else "garbage"
    }
    val line = cells.mkString(",")
    (if (r.nextDouble() < 0.05) Seq(line, line) else Seq(line), clean)
  }

  private def csv(header: String, rows: Iterator[(Seq[String], Boolean)]): Csv = {
    val lines = ArrayBuffer(header)
    var clean, distinct = 0
    rows.foreach { case (ls, ok) =>
      lines ++= ls
      if (ok) { clean += ls.size; distinct += 1 }
    }
    Csv(lines.toSeq, clean, distinct)
  }

  /** a3: fuel mix, 5-min readings from `start` (epoch s). */
  def fuelMix(start: Long, n: Int): Csv = {
    val r = rng(1, start)
    csv(FuelMixHeader, Iterator.range(0, n).map { i =>
      val cells = utc(start + i * 300L) +: FuelRanges.map { case (lo, span) =>
        money(lo + r.nextInt(span))
      }
      dirty(r, cells.toArray, Array.range(0, 9))
    })
  }

  /** a1: hourly load with 1-h intervals from `start`. */
  def load(start: Long, hours: Int): Csv = {
    val r = rng(2, start)
    csv(LoadHeader, Iterator.range(0, hours).map { i =>
      val t = start + i * 3600L
      dirty(r, Array(utc(t), utc(t), utc(t + 3600), money(3000000 + r.nextInt(4500000))),
        Array(0, 1, 2, 3))
    })
  }

  /** a2: one forecast publication at `publish`, `horizon` hourly rows. */
  def forecast(publish: Long, horizon: Int): Csv = {
    val r = rng(3, publish)
    csv(ForecastHeader, Iterator.range(0, horizon).map { i =>
      val t = publish + i * 3600L
      val zones = Array.fill(4)(500000 + r.nextInt(2000000).toLong)
      dirty(r, (Array(utc(t), utc(t), utc(t + 3600), utc(publish)) ++
        zones.map(money) :+ money(zones.sum)), Array.range(0, 9))
    })
  }

  /** a4: settlement point prices for 15-min intervals from `start`, one
    * row per zone per interval.
    */
  def spp(start: Long, intervals: Int): Csv = {
    val r = rng(4, start)
    csv(SppHeader, Iterator.range(0, intervals * 4).map { i =>
      val s = start + (i / 4) * 900L
      dirty(r, Array(Zones(i % 4), "LZ", "RTM", money(r.nextInt(13000) - 1000L),
        offset(s + 900), offset(s), offset(s + 900)), Array(3, 4, 5, 6))
    })
  }

  /** a5: live weather, one reading per zone per 15-min interval; every 8th
    * interval's reading lands exactly on the interval start (the
    * inclusive-bound edge case of the interval join).
    */
  def weather(start: Long, intervals: Int): Csv = {
    val r = rng(5, start)
    csv(WeatherHeader, Iterator.range(0, intervals * 4).map { i =>
      val slot = start / 900 + i / 4
      val at = slot * 900 + (if (slot % 8 == 0) 0 else 1 + r.nextInt(899))
      dirty(r, (Zones(i % 4) +: WeatherRanges.map { case (lo, span) =>
        money(lo + r.nextInt(span))
      } :+ offset(at)).toArray, Array.range(1, 8))
    })
  }

  /** a6: hourly historical weather for one zone (already snake_case). */
  def historicalWeather(zone: Int, start: Long, hours: Int): Csv = {
    val r = rng(6 + zone, start)
    csv(HistWeatherHeader, Iterator.range(0, hours).map { i =>
      val cells = Array(Zones(zone), s"${29 + zone}.${pad(r.nextInt(10000), 4)}",
        s"-${95 + zone}.${pad(r.nextInt(10000), 4)}", utc(start + i * 3600L)) ++
        Array.fill(15)(money(r.nextInt(10000)))
      dirty(r, cells, Array.range(1, 19))
    })
  }

  // ---- curated rows for the lake-churn tables (no dirt) ----

  /** fm⋈load merge rows keyed by `id` = 5-min slot since the epoch. */
  def fmLoadRows(ids: Iterator[Long], salt: Long): Csv = {
    val r = rng(20, salt)
    Csv(FmLoadHeader +: ids.map { id =>
      val t = id * 300
      val h = t - t % 3600
      (id.toString +: utc(t) +: FuelRanges.map { case (lo, span) =>
        money(lo + r.nextInt(span)) } ++:
        Seq(utc(h), utc(h + 3600), money(3000000 + r.nextInt(4500000))))
        .mkString(",")
    }.toSeq)
  }

  /** spp⋈weather merge rows keyed by `id` = 15-min slot × 4 + zone. */
  def sppWeatherRows(ids: Iterator[Long], salt: Long): Csv = {
    val r = rng(21, salt)
    Csv(SppWeatherHeader +: ids.map { id =>
      val s = (id / 4) * 900
      (Zones((id % 4).toInt) +: WeatherRanges.init.map { case (lo, span) =>
        money(lo + r.nextInt(span)) } ++:
        Seq(money(r.nextInt(4000)), utc(s + 1 + r.nextInt(899)),
          money(r.nextInt(13000) - 1000L), utc(s + 900), utc(s), utc(s + 900),
          id.toString)).mkString(",")
    }.toSeq)
  }

  /** `k` distinct members of `live` chosen by (salt); order of `live`
    * matters, so callers keep it deterministic.
    */
  def pick(live: collection.IndexedSeq[Long], k: Int, salt: Long): Seq[Long] = {
    val r = rng(22, salt)
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (chosen.size < math.min(k, live.size)) chosen += live(r.nextInt(live.size))
    chosen.toSeq
  }
}

object FeedGen {
  /** 2024-01-01 00:00:00 UTC, the feeds' time origin. */
  val T0 = 1704067200L
  val Zones: IndexedSeq[String] = IndexedSeq("LZ_HOUSTON", "LZ_WEST", "LZ_SOUTH", "LZ_NORTH")

  val FuelMixHeader = "Time,Coal and Lignite,Hydro,Nuclear,Power Storage,Solar,Wind,Natural Gas,Other"
  val LoadHeader = "Time,Interval Start,Interval End,Load"
  val ForecastHeader =
    "Time,Interval Start,Interval End,Publish Time,North,South,West,Houston,System Total"
  val SppHeader = "Location,Location Type,Market,SPP,Time,Interval Start,Interval End"
  val WeatherHeader = "Location,Temperature,Temp_min,Temp_max,Pressure,Humidity,Wind Speed,Date"
  val HistWeatherHeader = ("zone,latitude,longitude,date,temperature_2m,relative_humidity_2m," +
    "dew_point_2m,precipitation,rain,snowfall,cloud_cover,cloud_cover_low,cloud_cover_mid," +
    "cloud_cover_high,wind_speed_10m,wind_speed_100m,wind_direction_10m," +
    "wind_direction_100m,wind_gusts_10m")
  val FmLoadHeader = "id,time,coal_and_lignite,hydro,nuclear,power_storage,solar,wind," +
    "natural_gas,other,interval_start,interval_end,load"
  val SppWeatherHeader = "Location,Temperature,Temp_min,Temp_max,Pressure,Humidity," +
    "Wind_Speed,Weather_Timestamp,SPP,Price_Time,Price_Interval_Start,Price_Interval_End,id"

  /** (low, span) in cents for the eight fuel-mix MW columns. */
  private val FuelRanges = Seq((800000L, 400000), (10000L, 30000), (500000L, 20000),
    (0L, 50000), (0L, 800000), (200000L, 1800000), (800000L, 2500000), (5000L, 10000))
  /** (low, span) in cents: temperature, min, max, pressure, humidity, wind. */
  private val WeatherRanges = Seq((4000L, 6000), (3000L, 5000), (5000L, 6000),
    (99000L, 4000), (2000L, 8000), (0L, 4000))

  private val Wall = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def utc(sec: Long): String = LocalDateTime.ofEpochSecond(sec, 0, UTC).format(Wall)
  /** The SPP/weather feeds' form: UTC-5 wall clock plus the explicit offset. */
  def offset(sec: Long): String =
    LocalDateTime.ofEpochSecond(sec - 5 * 3600, 0, UTC).format(Wall) + "-05:00"

  /** Cents → "123.45" without locale-dependent formatting. */
  def money(cents: Long): String = {
    val a = math.abs(cents)
    val s = s"${a / 100}.${pad(a % 100, 2)}"
    if (cents < 0) "-" + s else s
  }

  private def pad(n: Long, width: Int): String = {
    val s = n.toString
    "0" * (width - s.length) + s
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
