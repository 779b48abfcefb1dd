package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.jobs.Jobs
import graft.schemas.Schemas

/** `elt_ticks`: the reference's steady state. Each tick lands one 12-h
  * scheduler period of small per-ingest CSVs into per-job landing folders
  * (untimed), then runs the four ELT jobs over them into lakes that grow
  * from tick to tick. The inputs are tiny, so per-call fixed cost —
  * Spark job count, file listing, archive renames, the post-append lake
  * re-count — dominates.
  */
final class EltTicks(ctx: Ctx) extends Workload {
  import EltTicks._
  import ctx.{gen, rec}

  def roundSeries = "tick"
  private val root = ctx.work.resolve("run")
  private var landedRows = 0L
  private var landedBytes = 0L
  private val landedNames = mutable.Map.empty[String, mutable.Buffer[String]]
  private val deltas = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def generate(): Unit = ()

  /** Land tick `t`'s files under `dir`; returns (rows, bytes, expected
    * clean rows of the load and forecast feeds).
    */
  private def land(dir: Path, t: Int): (Long, Long, Int, Int) = {
    val start = FeedGen.T0 + t * 43200L
    var rows, bytes = 0L
    var cleanLoad, cleanForecast = 0
    def put(feed: String, name: String, c: Csv): Unit = {
      bytes += c.write(dir.resolve("land").resolve(feed).resolve(name))
      rows += c.rows
      if (dir == root) landedNames.getOrElseUpdate(feed, mutable.Buffer.empty) += name
    }
    for (h <- 0 until 12) {
      val hs = start + h * 3600L
      val load = gen.load(hs, 1)
      val forecast = gen.forecast(hs, 12)
      put("load_latest", s"load_${t}_$h.csv", load)
      put("load_forecast", s"forecast_${t}_$h.csv", forecast)
      put("fm_merge_fm", s"fm_${t}_$h.csv", gen.fuelMix(hs, 12))
      put("fm_merge_load", s"load_${t}_$h.csv", load)
      cleanLoad += load.cleanRows
      cleanForecast += forecast.cleanRows
    }
    for (q <- 0 until 48) {
      val qs = start + q * 900L
      put("spp_merge_spp", s"spp_${t}_$q.csv", gen.spp(qs, 1))
      put("spp_merge_weather", s"weather_${t}_$q.csv", gen.weather(qs, 1))
    }
    (rows, bytes, cleanLoad, cleanForecast)
  }

  /** The four job calls of one tick; returns each lake's Result. */
  private def tick(spark: SparkSession, dir: Path): Map[String, Option[Long]] = {
    def p(kind: String, feed: String) = dir.resolve(kind).resolve(feed).toString
    def lake(n: String) = dir.resolve("lake").resolve(n).toString
    Map(
      "load" -> rec.op("jobs.load_latest")(Jobs.singleFolderElt(spark,
        p("land", "load_latest"), p("archive", "load_latest"), lake("load"),
        Schemas.castsOf(Schemas.load))).flatten,
      "forecast" -> rec.op("jobs.load_forecast")(Jobs.singleFolderElt(spark,
        p("land", "load_forecast"), p("archive", "load_forecast"), lake("forecast"),
        Schemas.castsOf(Schemas.loadForecast))).flatten,
      "fm_load" -> rec.op("jobs.fm_load_merge")(Jobs.fmLoadMerge(spark,
        p("land", "fm_merge_fm"), p("land", "fm_merge_load"),
        p("archive", "fm_merge_fm"), p("archive", "fm_merge_load"), lake("fm_load"))).flatten,
      "spp_weather" -> rec.op("jobs.spp_weather_merge")(Jobs.sppWeatherMerge(spark,
        p("land", "spp_merge_spp"), p("land", "spp_merge_weather"),
        p("archive", "spp_merge_spp"), p("archive", "spp_merge_weather"),
        lake("spp_weather"))).flatten)
  }

  def warmUp(spark: SparkSession, dir: Path): String = {
    land(dir, 0)
    tick(spark, dir)
    Lakes.map(n => Main.digest(spark.read.parquet(dir.resolve("lake").resolve(n).toString)))
      .mkString(";")
  }

  def measure(spark: SparkSession, tracer: Option[Tracer], deadline: Long): Unit = {
    val last = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var t = 0
    while (Tracer.more(tracer, t, deadline)) {
      val (rows, bytes, cleanLoad, cleanForecast) = land(root, t)
      rec.round = t
      var results = Map.empty[String, Option[Long]]
      Tracer.round(tracer, rec, t)(rec.group("tick", "tick") { results = tick(spark, root) })
      landedRows += rows
      landedBytes += bytes
      results.foreach { case (n, r) => r.foreach { total =>
        deltas(n) += total - last(n)
        if (n == "load") rec.check(s"tick $t: load lake grew by the clean rows landed",
          total - last(n) == cleanLoad)
        if (n == "forecast") rec.check(s"tick $t: forecast lake grew by the clean rows landed",
          total - last(n) == cleanForecast)
        last(n) = total
      } }
      t += 1
    }
    verify(spark)
  }

  /** Every landed file archived exactly once, the landing folders empty,
    * and each lake's row count equal to the sum of its jobs' Result deltas.
    */
  private def verify(spark: SparkSession): Unit = {
    var landed, archived = 0
    for ((feed, names) <- landedNames) {
      archived += Main.checkArchived(rec, root, feed, names.toSeq, feed)
      landed += names.size
    }
    rec.add("jobs.archive_ratio", archived.toDouble / math.max(1, landed))
    for (n <- Lakes) {
      val count = spark.read.parquet(root.resolve("lake").resolve(n).toString).count()
      rec.check(s"lake $n: $count rows == sum of Result deltas ${deltas(n)}", count == deltas(n))
    }
  }

  def endToEnd(): Map[String, Double] = {
    Map("round_cpu_s" -> Stats.median(rec.samples.getOrElse("tick.cpu", Nil)),
      "stored_bytes_ratio" -> Main.du(root.resolve("lake")).toDouble / landedBytes)
  }

  def report(): Seq[String] = {
    val ticks = rec.samples.getOrElse("tick", Nil)
    val e = endToEnd()
    Seq(f"tick_p50_s = ${Stats.median(ticks)}%.4f s (n=${ticks.size})",
      Stats.tail(ticks).fold(s"tick_tail_s = undefined s (n=${ticks.size} < 21)") { case (v, p) =>
        f"tick_tail_s = $v%.4f s (p$p%.0f, n=${ticks.size})" },
      f"tick_cpu_s = ${e("round_cpu_s")}%.4f s (median, n=${ticks.size})",
      f"landed_rows_per_s = ${landedRows / ticks.filter(!_.isInfinite).sum}%.1f rows/s (n=${ticks.size} ticks)",
      f"stored_bytes_ratio = ${e("stored_bytes_ratio")}%.4f B/B (n=1)")
  }
}

object EltTicks {
  val Lakes = Seq("load", "forecast", "fm_load", "spp_weather")
}
