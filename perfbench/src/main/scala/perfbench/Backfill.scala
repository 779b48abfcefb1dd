package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.jobs.Jobs
import graft.schemas.Schemas

/** `backfill`: the reference's one-shot history load, one large CSV per
  * feed, run through the job set into fresh lakes on every pass. The same
  * `jobs` layer as `elt_ticks` with the opposite balance: CSV parsing,
  * casts, the as-of and interval joins, dedup and parquet encoding
  * dominate, per-call overhead does not.
  *
  * The history load is followed by a re-delivery of its last tenth, which
  * `dedupAgainstLake` must turn into zero new rows.
  */
final class Backfill(ctx: Ctx) extends Workload {
  import Backfill._
  import ctx.{gen, rec}

  def roundSeries = "pass"
  private val inputs = ctx.work.resolve("inputs")
  /** input set → feed → files landed per pass (name, rows). */
  private val landed = mutable.Map.empty[String, mutable.Map[String, Seq[(String, Int)]]]
  private val expectedLoad = mutable.Map.empty[String, Int]
  private var passRows = 0L
  private var passBytes = 0L
  private var storedBytes = 0L

  private def write(set: String, days: Int): Unit = {
    val files = landed.getOrElseUpdate(set, mutable.Map.empty)
    def put(feed: String, name: String, c: Csv): Unit = {
      c.write(inputs.resolve(set).resolve(feed).resolve(name))
      files(feed) = files.getOrElse(feed, Nil) :+ (name -> c.rows)
    }
    val load = gen.load(FeedGen.T0, days * 24)
    put("hist_load", "load_history.csv", load)
    put("redeliver", "load_redelivered.csv", Csv(load.lines.head +: load.lines.drop(1)
      .takeRight(load.rows / 10)))
    put("fm", "fuel_mix.csv", gen.fuelMix(FeedGen.T0, days * 288))
    put("fm_load", "load.csv", load)
    put("spp", "spp.csv", gen.spp(FeedGen.T0, days * 96))
    put("weather", "weather.csv", gen.weather(FeedGen.T0, days * 96))
    for (z <- FeedGen.Zones.indices)
      put("hist_weather", s"zone_${FeedGen.Zones(z)}.csv",
        gen.historicalWeather(z, FeedGen.T0, days * 24))
    expectedLoad(set) = load.cleanDistinct
  }

  def generate(): Unit = {
    write("warm", WarmDays)
    write("run", Days)
  }

  /** Hard-link the set's inputs into `dir/land`, run the job set once and
    * check it; returns the digest of the lakes it wrote.
    */
  private def pass(spark: SparkSession, set: String, dir: Path, timed: Boolean): String = {
    var rows, bytes = 0L
    for ((feed, files) <- landed(set); (name, n) <- files) {
      val src = inputs.resolve(set).resolve(feed).resolve(name)
      val dst = dir.resolve("land").resolve(feed).resolve(name)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, src)
      rows += n
      bytes += Files.size(src)
    }
    def p(kind: String, feed: String) = dir.resolve(kind).resolve(feed).toString
    def lake(n: String) = dir.resolve("lake").resolve(n).toString
    val loadCasts = Schemas.castsOf(Schemas.load)
    val results = mutable.Map.empty[String, Option[Long]]
    def run(): Unit = {
      results("load") = rec.op("jobs.load_historical")(Jobs.singleFolderElt(spark,
        p("land", "hist_load"), p("archive", "hist_load"), lake("load"), loadCasts,
        dedup = true, dedupAgainstLake = true)).flatten
      results("load_redelivered") = rec.op("jobs.load_historical")(Jobs.singleFolderElt(spark,
        p("land", "redeliver"), p("archive", "redeliver"), lake("load"), loadCasts,
        dedup = true, dedupAgainstLake = true)).flatten
      results("fm_load") = rec.op("jobs.fm_load_merge")(Jobs.fmLoadMerge(spark,
        p("land", "fm"), p("land", "fm_load"), p("archive", "fm"), p("archive", "fm_load"),
        lake("fm_load"))).flatten
      results("spp_weather") = rec.op("jobs.spp_weather_merge")(Jobs.sppWeatherMerge(spark,
        p("land", "spp"), p("land", "weather"), p("archive", "spp"), p("archive", "weather"),
        lake("spp_weather"))).flatten
      results("hist_weather") = rec.op("jobs.hist_weather_union")(
        Jobs.historicalWeatherUnion(spark, p("land", "hist_weather"), lake("hist_weather"))).flatten
    }
    if (timed) rec.group("pass", "pass")(run()) else run()
    if (timed) {
      passRows += rows
      passBytes += bytes
      storedBytes += Main.du(dir.resolve("lake"))
    }

    // the union job reads its folder in place; every other feed is archived
    var archived, toArchive = 0
    for ((feed, files) <- landed(set) if feed != "hist_weather") {
      archived += Main.checkArchived(rec, dir, feed, files.map(_._1), s"$set $feed")
      toArchive += files.size
    }
    if (timed) rec.add("jobs.archive_ratio", archived.toDouble / toArchive)
    val counts = Lakes.map(n => n -> spark.read.parquet(lake(n)).count()).toMap
    val loadDelta = for (a <- results("load"); b <- results("load_redelivered")) yield b - a
    rec.check(s"$set: re-delivered load adds no rows (delta $loadDelta)", loadDelta.contains(0L))
    rec.check(s"$set: load lake holds the distinct clean rows (${counts("load")} == ${expectedLoad(set)})",
      counts("load") == expectedLoad(set))
    for (n <- Lakes if n != "load")
      rec.check(s"$set lake $n: ${counts(n)} rows == Result ${results(n)}", results(n).contains(counts(n)))
    rec.check(s"$set: load lake == Result", results("load_redelivered").contains(counts("load")))
    Lakes.map(n => Main.digest(spark.read.parquet(lake(n)))).mkString(";")
  }

  def warmUp(spark: SparkSession, dir: Path): String = pass(spark, "warm", dir, timed = false)

  def measure(spark: SparkSession, tracer: Option[Tracer], deadline: Long): Unit = {
    val digests = mutable.Set.empty[String]
    var n = 0
    while (Tracer.more(tracer, n, deadline)) {
      rec.round = n
      val dir = ctx.work.resolve(s"pass$n")
      digests += Tracer.round(tracer, rec, n)(pass(spark, "run", dir, timed = true))
      Main.deleteTree(dir)
      n += 1
    }
    rec.check(s"output digests identical across $n passes", digests.size == 1)
  }

  def endToEnd(): Map[String, Double] = {
    Map("round_cpu_s" -> Stats.median(rec.samples.getOrElse("pass.cpu", Nil)),
      "stored_bytes_ratio" -> storedBytes.toDouble / passBytes)
  }

  def report(): Seq[String] = {
    val passes = rec.samples.getOrElse("pass", Nil)
    val e = endToEnd()
    Seq(f"backfill_rows_per_s = ${passRows / passes.filter(!_.isInfinite).sum}%.1f rows/s " +
        s"(n=${passes.size} passes of ${passRows / math.max(1, passes.size)} landed rows, $Days days)",
      f"pass_p50_s = ${Stats.median(passes)}%.4f s (n=${passes.size})",
      f"pass_cpu_s = ${e("round_cpu_s")}%.4f s (median, n=${passes.size})",
      f"stored_bytes_ratio = ${e("stored_bytes_ratio")}%.4f B/B (n=${passes.size})")
  }
}

object Backfill {
  /** History span in days. The reference's window is 6 months (182 days);
    * per-day feed ratios are the reference's: 288 fuel-mix, 24 load, 384
    * SPP, 384 weather and 4 × 24 historical-weather rows.
    */
  val Days = 120
  val WarmDays = 3
  val Lakes = Seq("load", "fm_load", "spp_weather", "hist_weather")
}
