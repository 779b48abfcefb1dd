package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Analytics
import graft.sources.VersionedTable
import graft.streaming.VersionedSink

/** `lake_churn`: writes beside reads on `VersionedTable`. Two CDF-enabled
  * tables — the fm⋈load and spp⋈weather merge outputs — are seeded with
  * three months of rows; every cycle appends a 12-h slice to each, restates
  * about 1 % of keys by upsert and retracts about 0.5 % by deleteByKeys,
  * runs the four reference dashboard queries (A4–A7) over
  * `VersionedTable.read`, and catches a CDF mirror of spp⋈weather up with
  * one AvailableNow run. Every [[LakeChurn.CompactEvery]]-th cycle, the
  * first included, also compacts both tables, so its foreground cost
  * shows in the commit times.
  */
final class LakeChurn(ctx: Ctx) extends Workload {
  import LakeChurn._
  import ctx.{gen, rec}

  def roundSeries = "cycle"
  private val inputs = ctx.work.resolve("inputs")
  private val run = new TableSet("run", SeedDays)
  private val warm = new TableSet("warm", WarmSeedDays)
  private var warmCycle: Map[(String, String), (Path, Int)] = Map.empty
  /** Bytes of the cycles' input files, and bytes the cycles added to the tables. */
  private var landedBytes = 0L
  private var bytesBefore = 0L
  private var bytesAdded = 0L
  private var rowsChanged = 0L
  /** Per cycle: data files and delete layers in the snapshot the dashboards read. */
  private val liveFiles, deleteLayers = ArrayBuffer.empty[Double]
  private var expected: Map[String, DataFrame] = Map.empty

  /** Live keys of one table in insertion order, so the generator's picks
    * are deterministic.
    */
  private final class Keys(base: Long, seedRows: Int) {
    val live = ArrayBuffer.range(base, base + seedRows)
    var next = base + seedRows
  }

  /** The generated inputs of one set of tables: seed files and, per
    * cycle, an append slice, an upsert set and a delete-key set per table.
    */
  private final class TableSet(label: String, seedDays: Int) {
    val keys = Map(Fm -> new Keys(FmBase, seedDays * 288), Sw -> new Keys(SwBase, seedDays * 384))
    private def rows(t: String, ids: Iterator[Long], salt: Long): Csv =
      if (t == Fm) gen.fmLoadRows(ids, salt) else gen.sppWeatherRows(ids, salt)
    private def put(name: String, c: Csv): (Path, Int) = {
      val p = inputs.resolve(label).resolve(name)
      c.write(p)
      (p, c.rows)
    }

    def seed(): Map[String, Path] = Tables.map { t =>
      t -> put(s"seed_$t.csv", rows(t, keys(t).live.iterator, -1L))._1
    }.toMap

    def cycle(c: Int): Map[(String, String), (Path, Int)] = Tables.flatMap { t =>
      val k = keys(t)
      val perCycle = if (t == Fm) 144 else 192
      val fresh = Iterator.range(0, perCycle).map(k.next + _).toSeq
      k.next += perCycle
      k.live ++= fresh
      val ups = gen.pick(k.live, k.live.size / 100, 4L * c)
      val dels = gen.pick(k.live, k.live.size / 200, 4L * c + 1).toSet
      k.live.filterInPlace(!dels(_))
      Seq((t, "append") -> put(s"c$c/${t}_append.csv", rows(t, fresh.iterator, 4L * c + 2)),
        (t, "upsert") -> put(s"c$c/${t}_upsert.csv", rows(t, ups.iterator, 4L * c + 3)),
        (t, "delete") -> put(s"c$c/${t}_delete.csv", Csv("id" +: dels.toSeq.sorted.map(_.toString))))
    }.toMap
  }

  private def csv(spark: SparkSession, schema: StructType, p: Path): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(p.toString)

  private def create(spark: SparkSession, seed: Map[String, Path], dir: Path): Unit =
    for (t <- Tables) {
      VersionedTable.append(spark, csv(spark, Schemas(t), seed(t)), dir.resolve(t).toString)
      VersionedTable.alterProperties(spark, dir.resolve(t).toString,
        Map(VersionedTable.CdcProperty -> "true"))
    }

  private def mirror(spark: SparkSession, dir: Path): Unit = {
    val q = VersionedSink.startReplicateCDF(spark, dir.resolve(Sw).toString,
      dir.resolve("mirror").toString, "mirror", "id", dir.resolve("mirror_ckpt").toString)
    q.awaitTermination()
  }

  /** The four dashboard queries over a (fm⋈load, spp⋈weather) pair. */
  private val dashboards: Seq[(String, (() => DataFrame, () => DataFrame) => DataFrame)] = Seq(
    "analytics.monthly_avg" -> ((fm, _) => Analytics.monthlyAvg(fm(), "time", "load")),
    "analytics.hourly_avg" -> ((fm, _) => Analytics.hourlyAvg(fm(), "time", "load")),
    "analytics.pct_distribution" -> ((fm, _) => Analytics.percentageDistribution(fm(), FuelCols)),
    "analytics.multikey_avg" -> ((_, sw) => Analytics.multiKeyAvg(sw(), Seq("Location"), "SPP")))

  /** One cycle's calls on `writeTo`; returns the dashboard results. */
  private def cycle(spark: SparkSession, dir: Path, files: Map[(String, String), (Path, Int)],
      writeTo: Seq[String], compact: Boolean, timed: Boolean): Seq[Option[Seq[Row]]] = {
    def series(s: String) = if (timed) s else null
    for (t <- writeTo) {
      val table = dir.resolve(t).toString
      rec.op("vt.append", series("commit"))(VersionedTable.append(spark,
        csv(spark, Schemas(t), files((t, "append"))._1), table))
      rec.op("vt.upsert", series("commit"))(VersionedTable.upsert(spark,
        csv(spark, Schemas(t), files((t, "upsert"))._1), table, "id"))
      rec.op("vt.delete_by_keys", series("commit"))(VersionedTable.deleteByKeys(spark, table,
        csv(spark, IdSchema, files((t, "delete"))._1)))
    }
    def read(t: String): () => DataFrame =
      () => rec.span("vt.read")(VersionedTable.read(spark, dir.resolve(t).toString))
    val results = dashboards.map { case (name, q) =>
      rec.op(name, series("read"))(q(read(Fm), read(Sw)).collect().toSeq)
    }
    rec.op("stream.mirror", series("mirror"))(mirror(spark, dir))
    if (compact) for (t <- writeTo)
      rec.op("vt.compact", series("commit"))(VersionedTable.compact(spark,
        dir.resolve(t).toString, ctx.nproc))
    results
  }

  def generate(): Unit = {
    warm.seed()
    warmCycle = warm.cycle(0)
    run.seed()
  }

  /** Every call of a cycle once, on small tables; the writes go to one
    * table only, since both run the same code.
    */
  def warmUp(spark: SparkSession, dir: Path): String = {
    create(spark, Tables.map(t => t -> inputs.resolve("warm").resolve(s"seed_$t.csv")).toMap, dir)
    cycle(spark, dir, warmCycle, Seq(Sw), compact = true, timed = false)
    (Tables :+ "mirror").map(t => Main.digest(VersionedTable.read(spark, dir.resolve(t).toString)))
      .mkString(";")
  }

  private val root = ctx.work.resolve("run")

  override def prepare(spark: SparkSession): Unit = {
    val seed = Tables.map(t => t -> inputs.resolve("run").resolve(s"seed_$t.csv")).toMap
    create(spark, seed, root)
    mirror(spark, root)
    expected = Tables.map(t => t -> csv(spark, Schemas(t), seed(t)).localCheckpoint()).toMap
  }

  def measure(spark: SparkSession, tracer: Option[Tracer], deadline: Long): Unit = {
    bytesBefore = Tables.map(t => Main.du(root.resolve(t))).sum
    var c = 0
    while (Tracer.more(tracer, c, deadline)) {
      val files = run.cycle(c)
      rowsChanged += files.values.map(_._2).sum
      landedBytes += files.values.map(f => Files.size(f._1)).sum
      rec.round = c
      var results = Seq.empty[Option[Seq[Row]]]
      Tracer.round(tracer, rec, c)(rec.group("cycle", "cycle") {
        results = cycle(spark, root, files, Tables, compact = c % CompactEvery == 0, timed = true)
      })
      verify(spark, c, files, results)
      // the snapshot the dashboards read: the one before the compaction
      val seen = Tables.map(t => manifest(root.resolve(t), back = 1))
      liveFiles += seen.map(_.count(!_.startsWith("#"))).sum
      deleteLayers += seen.map(_.count(_.startsWith("#del"))).sum
      c += 1
    }
    rec.add("vt.live_files", Stats.median(liveFiles))
    rec.add("vt.delete_layers", Stats.median(deleteLayers))
    bytesAdded = Tables.map(t => Main.du(root.resolve(t))).sum - bytesBefore
    rec.add("vt.bytes_added_per_row_changed", bytesAdded.toDouble / math.max(1L, rowsChanged))
  }

  /** Lines of the table's commit manifest `back` versions before the latest. */
  private def manifest(table: Path, back: Int): Seq[String] = {
    val s = Files.list(table.resolve("_commits"))
    val versions = try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    Files.readAllLines(versions(versions.size - 1 - back)).asScala.toSeq
  }

  /** After every cycle: the dashboards equal the same queries over the
    * expected state derived in plain Spark from the generator's files
    * (union the appends, replace the upserted keys, anti-join the
    * deletes), and the mirror's row hash equals the source's.
    */
  private def verify(spark: SparkSession, c: Int, files: Map[(String, String), (Path, Int)],
      results: Seq[Option[Seq[Row]]]): Unit = {
    val old = expected
    expected = Tables.map { t =>
      val ups = csv(spark, Schemas(t), files((t, "upsert"))._1)
      val dels = csv(spark, IdSchema, files((t, "delete"))._1)
      t -> old(t).unionByName(csv(spark, Schemas(t), files((t, "append"))._1))
        .join(ups.select("id"), Seq("id"), "left_anti").unionByName(ups)
        .join(dels, Seq("id"), "left_anti").localCheckpoint()
    }.toMap
    old.values.foreach(_.unpersist())
    for (((name, q), got) <- dashboards.zip(results)) {
      val want = q(() => expected(Fm), () => expected(Sw)).collect().toSeq
      rec.check(s"cycle $c: $name equals the expected state's", got.contains(want))
    }
    val src = Main.digest(VersionedTable.read(spark, root.resolve(Sw).toString))
    val dst = Main.digest(VersionedTable.read(spark, root.resolve("mirror").toString))
    rec.check(s"cycle $c: mirror row hash $dst equals source $src", src == dst)
    rec.check(s"cycle $c: $Sw row hash equals the expected state's", src == Main.digest(expected(Sw)))
    rec.check(s"cycle $c: $Fm row hash equals the expected state's",
      Main.digest(VersionedTable.read(spark, root.resolve(Fm).toString)) == Main.digest(expected(Fm)))
  }

  private def samples(s: String) = rec.samples.getOrElse(s, Nil)

  def endToEnd(): Map[String, Double] = {
    Map("round_cpu_s" -> Stats.median(samples("cycle.cpu")),
      "stored_bytes_ratio" -> bytesAdded.toDouble / landedBytes)
  }

  def report(): Seq[String] = {
    def line(name: String, s: collection.Seq[Double]) = Seq(
      f"${name}_p50_s = ${Stats.median(s)}%.4f s (n=${s.size})",
      Stats.tail(s).fold(s"${name}_tail_s = undefined s (n=${s.size} < 21)") { case (v, p) =>
        f"${name}_tail_s = $v%.4f s (p$p%.0f, n=${s.size})" })
    val e = endToEnd()
    line("commit", samples("commit")) ++ line("read", samples("read")) ++
      Seq(f"mirror_p50_s = ${Stats.median(samples("mirror"))}%.4f s (n=${samples("mirror").size})",
        f"cycle_p50_s = ${Stats.median(samples("cycle"))}%.4f s (n=${samples("cycle").size})",
        f"cycle_cpu_s = ${e("round_cpu_s")}%.4f s (median, n=${samples("cycle").size})",
        f"changed_rows_per_s = ${rowsChanged / samples("cycle").filter(!_.isInfinite).sum}%.1f rows/s " +
          s"(n=${samples("cycle").size} cycles)",
        f"stored_bytes_ratio = ${e("stored_bytes_ratio")}%.4f B/B (n=1, bytes the cycles " +
          s"added to the tables ÷ bytes of their input files)",
        f"commit_s_per_row = ${samples("commit").filter(!_.isInfinite).sum / math.max(1L, rowsChanged)}%.6f s/row " +
          s"(n=${samples("commit").size} commits)")
  }
}

object LakeChurn {
  val Fm = "fm_load"
  val Sw = "spp_weather"
  val Tables = Seq(Fm, Sw)
  /** Three months of seed rows: half the reference's six-month window,
    * which keeps a whole run near a minute on four cores.
    */
  val SeedDays = 91
  val WarmSeedDays = 3
  /** Compaction runs in every cycle: a run fits only one or two cycles,
    * and unequal cycles would make the median depend on how many fit.
    */
  val CompactEvery = 1
  /** First ids: 5-min slots and (15-min slot × 4 + zone) since the epoch. */
  val FmBase = FeedGen.T0 / 300
  val SwBase = FeedGen.T0 / 900 * 4

  val FuelCols = Seq("coal_and_lignite", "hydro", "nuclear", "power_storage", "solar",
    "wind", "natural_gas", "other")
  private val dec = DecimalType(10, 2)
  val Schemas: Map[String, StructType] = Map(
    Fm -> StructType(Seq(StructField("id", LongType), StructField("time", TimestampType)) ++
      FuelCols.map(StructField(_, dec)) ++ Seq(StructField("interval_start", TimestampType),
      StructField("interval_end", TimestampType), StructField("load", dec))),
    Sw -> StructType(Seq(StructField("Location", StringType)) ++
      Seq("Temperature", "Temp_min", "Temp_max", "Pressure", "Humidity", "Wind_Speed")
        .map(StructField(_, FloatType)) ++ Seq(StructField("Weather_Timestamp", TimestampType),
      StructField("SPP", FloatType), StructField("Price_Time", TimestampType),
      StructField("Price_Interval_Start", TimestampType),
      StructField("Price_Interval_End", TimestampType), StructField("id", LongType))))
  val IdSchema = StructType(Seq(StructField("id", LongType)))
}
