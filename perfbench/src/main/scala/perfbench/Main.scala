package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** What every workload shares: its scratch root, generator, recorder and
  * the session's parallelism.
  */
final case class Ctx(work: Path, gen: FeedGen, rec: Recorder, nproc: Int)

/** A workload: inputs from the seeded generator (untimed), a warm-up of its
  * code path (part of set-up), then a closed loop of rounds — ticks,
  * passes or cycles — until the deadline, checking outputs as it goes.
  */
trait Workload {
  /** Write this run's inputs; no Spark session exists yet. */
  def generate(): Unit
  /** Run the code path once on the warm-up inputs into fresh lakes under
    * `root`; returns an order-insensitive digest of what was written.
    */
  def warmUp(spark: SparkSession, root: Path): String
  /** Untimed preparation between set-up and the first timed op. */
  def prepare(spark: SparkSession): Unit = ()
  /** Closed loop of rounds until `deadline` (System.nanoTime). */
  def measure(spark: SparkSession, tracer: Option[Tracer], deadline: Long): Unit
  /** The gated end-to-end values: round_cpu_s and stored_bytes_ratio. */
  def endToEnd(): Map[String, Double]
  /** Human-readable lines: the workload's own metric names, units and n. */
  def report(): Seq[String]
  /** The round series ("tick", "pass" or "cycle"). */
  def roundSeries: String
}

object Main {
  /** Set-up is repeated this often per run and its median reported. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    val trace = opts.get("trace").contains("1")
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(".bench_build", "work",
      s"$workload-$seed-${ProcessHandle.current().pid()}").toAbsolutePath
    var spark: SparkSession = null
    val rec = new Recorder(workload, () => spark.sparkContext)
    val ctx = Ctx(work, new FeedGen(seed), rec, nproc)
    val wl: Workload = workload match {
      case "elt_ticks" => new EltTicks(ctx)
      case "backfill" => new Backfill(ctx)
      case "lake_churn" => new LakeChurn(ctx)
      case other =>
        System.err.println(s"unknown workload '$other' (elt_ticks, backfill, lake_churn)")
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $name")
    val ok = try {
      Files.createDirectories(work)
      wl.generate()
      phase("inputs generated")
      val setups = ArrayBuffer.empty[Double]
      val digests = ArrayBuffer.empty[String]
      for (rep <- 0 until SetupReps) {
        if (spark != null) stop(spark)
        val s0 = System.nanoTime()
        spark = session(work, nproc)
        digests += wl.warmUp(spark, work.resolve(s"warm$rep"))
        setups += (System.nanoTime() - s0) / 1e9
        phase(s"set-up ${rep + 1} done")
      }
      rec.check(s"warm-up digests identical across ${SetupReps} set-ups " +
        s"(${digests.distinct.mkString(" | ")})", digests.distinct.size == 1)
      wl.prepare(spark)
      phase("prepared")
      val tracer = if (trace) Some(new Tracer(spark)) else None
      rec.log.clear() // the traced-vs-untraced comparison is over timed rounds only
      wl.measure(spark, tracer, System.nanoTime() + (seconds * 1e9).toLong)
      phase("measured and checked")
      rec.log.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, xs) =>
        System.err.println(f"[perfbench] op $name: median ${Stats.median(xs.map(_._3))}%.4f s, " +
          s"n=${xs.size}, all ${xs.map(x => f"${x._3}%.3f").mkString(" ")}")
      }
      val setupS = Stats.median(setups)
      val metrics = tracer match {
        case Some(t) =>
          Spans.write(rec, work.getParent.getParent.resolve("traces")
            .resolve(s"$workload-seed$seed.spans.jsonl"))
          Layers.metrics(rec, t, wl.roundSeries, nproc)
        case None => wl.endToEnd() + ("setup_s" -> setupS)
      }
      stop(spark)
      spark = null
      phase("session stopped")
      val out = System.out
      out.println(f"[perfbench] $workload seed=$seed setup_s = $setupS%.4f s " +
        s"(median of ${setups.size}: ${setups.map(x => f"$x%.3f").mkString(", ")})")
      wl.report().foreach(l => out.println(s"[perfbench] $workload $l"))
      out.println(f"[perfbench] $workload failed_frac = ${rec.failed.toDouble / math.max(1, rec.attempted)}%.4f " +
        s"ratio (failed ${rec.failed} of ${rec.attempted} ops)")
      rec.errors.take(5).foreach(e => out.println(s"[perfbench] error: $e"))
      out.println(s"[perfbench] $workload checks: ${rec.checks.count(_._2)} of ${rec.checks.size} passed")
      out.println(Json.result(rec.correct, rec.attempted, rec.failed, metrics,
        if (trace) Layers.units else EndToEndUnits))
      rec.correct && rec.failed == 0
    } finally {
      if (spark != null) stop(spark)
      deleteTree(work)
      phase("work tree deleted")
    }
    sys.exit(if (ok) 0 else 1)
  }

  val EndToEndUnits: Map[String, String] = Map("setup_s" -> "s", "round_cpu_s" -> "s",
    "stored_bytes_ratio" -> "B/B")

  def session(work: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Order-insensitive digest of a frame: row count and the wrapping sum
    * of a per-row hash over its columns in name order.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** Bytes of every regular file under `dir`. */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Checks that the landed `names` left `dir/land/<feed>` and each sits
    * in `dir/archive/<feed>` exactly once; returns how many are archived.
    */
  def checkArchived(rec: Recorder, dir: Path, feed: String, names: Seq[String],
      label: String): Int = {
    val archived = files(dir.resolve("archive").resolve(feed))
    rec.check(s"$label: landing folder empty", files(dir.resolve("land").resolve(feed)).isEmpty)
    rec.check(s"$label: every landed file archived exactly once", archived == names.sorted)
    archived.size
  }

  def files(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.filter(Files.isRegularFile(_)).map[String](_.getFileName.toString)
        .toArray.toSeq.map(_.toString).sorted
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** The one-line JSON result: the last line of standard output. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) Double.MaxValue.toString else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, Double], units: Map[String, String]): String = {
    val ms = units.keys.toSeq.sorted.map { k =>
      s""""$k": {"value": ${num(metrics.getOrElse(k, 0.0))}, "unit": "${units(k)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
