package perfbench

import scala.collection.mutable

/** The traced run's per-layer metrics. Every name is printed on every
  * workload; a layer the workload does not call reads 0 (its sample count
  * is in the report lines).
  *
  * Per-round figures ("per tick/pass/cycle") divide a total over the traced
  * rounds by their number, so a run that fits more rounds into its seconds
  * does not read as more work per round.
  */
object Layers {
  val JobSpans = Seq("jobs.load_latest", "jobs.load_forecast", "jobs.load_historical",
    "jobs.fm_load_merge", "jobs.spp_weather_merge", "jobs.hist_weather_union")
  val VtSpans = Seq("vt.append", "vt.upsert", "vt.delete_by_keys", "vt.compact", "vt.read")
  val Dashboards = Seq("analytics.monthly_avg", "analytics.hourly_avg",
    "analytics.pct_distribution", "analytics.multikey_avg")
  val Rounds = Seq("tick", "pass", "cycle")
  /** Graft source files whose calls submit Spark jobs in these workloads,
    * then the benchmark's own files (the dashboards' collect) and jobs with
    * no Scala call site. Operators such as AsOfJoin, IntervalJoin and
    * Normalize only build plans; their work runs in the jobs of the write
    * or action that executes the plan.
    */
  val CallSites = Seq("Jobs", "LakeReader", "LakeWriter", "VersionedTable", "VersionedSink",
    "GraftTableSource", "bench", "other")

  private val spanNames = JobSpans ++ VtSpans ++ Dashboards :+ "stream.mirror"

  val units: Map[String, String] = (
    spanNames.flatMap(n => Seq(s"$n.call_s" -> "s", s"$n.spark_jobs" -> "count",
      s"$n.driver_only_frac" -> "ratio")) ++
    Dashboards.map(n => s"$n.self_s" -> "s") ++
    Rounds.map(r => s"bench.$r.self_s" -> "s") ++
    Seq("spark.jobs" -> "count", "spark.tasks_per_job" -> "count", "spark.task_s" -> "s",
      "spark.cpu_util" -> "ratio", "spark.catalyst_s" -> "s", "spark.shuffle_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.gc_s" -> "s") ++
    CallSites.map(f => s"callsite.$f.job_s" -> "s") ++
    Seq("callsite.unattributed_frac" -> "ratio", "jobs.archive_ratio" -> "ratio",
      "vt.live_files" -> "count", "vt.delete_layers" -> "count",
      "vt.bytes_added_per_row_changed" -> "B/row", "stream.mirror.batches" -> "count",
      "stream.mirror.trigger_s" -> "s", "stream.mirror.add_batch_s" -> "s",
      "stream.mirror.rows_in" -> "count", "trace.overhead_s" -> "s",
      "trace.spans" -> "count")).toMap

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Tracing cost per traced round: for every op kind that ran in both
    * traced and untraced rounds, its calls per traced round times the
    * difference of its traced and untraced median call times. Comparing
    * like kinds keeps an op that only fell in traced rounds (a compaction)
    * from reading as tracing cost.
    */
  def overhead(rec: Recorder, tracedRounds: Int): Option[Double] = {
    val (traced, plain) = rec.log.partition(_._2)
    val kinds = traced.map(_._1).toSet intersect plain.map(_._1).toSet
    def med(xs: Iterable[(String, Boolean, Double)], k: String) =
      Stats.median(xs.filter(_._1 == k).map(_._3))
    if (kinds.isEmpty || tracedRounds == 0) None
    else Some(kinds.toSeq.map { k =>
      traced.count(_._1 == k).toDouble / tracedRounds * (med(traced, k) - med(plain, k))
    }.sum)
  }

  def metrics(rec: Recorder, t: Tracer, roundSeries: String, nproc: Int): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val spans = rec.spans.toSeq
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val jobs = t.synchronized(t.jobs.values.toSeq)
    val jobsBySpan = jobs.groupBy(_.span)
    def jobsUnder(id: Long) = subtree(id).flatMap(jobsBySpan.getOrElse(_, Nil))

    for (n <- spanNames) {
      val calls = spans.filter(_.name == n)
      if (calls.nonEmpty) {
        out(s"$n.call_s") = Stats.median(calls.map(_.seconds))
        out(s"$n.spark_jobs") = calls.map(c => jobsUnder(c.id).size).sum.toDouble / calls.size
        val wall = calls.map(c => c.endMs - c.startMs).sum
        val busy = calls.map(c => covered(jobsUnder(c.id).map(j => (j.startMs, j.endMs)),
          c.startMs, c.endMs)).sum
        out(s"$n.driver_only_frac") = if (wall > 0) 1.0 - busy.toDouble / wall else 0.0
      }
    }
    // self time: a span's duration minus what its child spans cover
    def selfS(n: String) = {
      val calls = spans.filter(_.name == n)
      if (calls.nonEmpty) Some(Stats.median(calls.map { c =>
        c.seconds - covered(children.getOrElse(c.id, Nil).map(k => (k.startNs, k.endNs)),
          c.startNs, c.endNs) / 1e9
      })) else None
    }
    Dashboards.foreach(n => selfS(n).foreach(out(s"$n.self_s") = _))
    Rounds.foreach(r => selfS(r).foreach(out(s"bench.$r.self_s") = _))

    val rounds = spans.filter(_.name == roundSeries)
    val nr = math.max(1, rounds.size).toDouble
    val roundWallS = rounds.map(_.seconds).sum
    val traced = jobs.filter(_.span != 0)
    val taskS = traced.map(_.taskMs).sum / 1e3
    out("spark.jobs") = traced.size / nr
    out("spark.tasks_per_job") = if (traced.isEmpty) 0.0 else traced.map(_.tasks).sum.toDouble / traced.size
    out("spark.task_s") = taskS / nr
    out("spark.cpu_util") = if (roundWallS > 0) taskS / (roundWallS * nproc) else 0.0
    out("spark.catalyst_s") = t.catalystMs / 1e3 / nr
    out("spark.shuffle_bytes") = traced.map(_.shuffleBytes).sum / nr
    out("spark.spill_bytes") = traced.map(_.spillBytes).sum / nr
    out("spark.gc_s") = traced.map(_.gcMs).sum / 1e3 / nr
    val byFile = traced.groupBy(j => if (CallSites.contains(j.file)) j.file else "other")
    CallSites.foreach { f =>
      out(s"callsite.$f.job_s") = byFile.getOrElse(f, Nil).map(j => j.endMs - j.startMs).sum / 1e3 / nr
    }
    val jobMs = traced.map(j => j.endMs - j.startMs).sum
    val unattributed = traced.filter(j => j.file == "other" || j.file == "bench")
      .map(j => j.endMs - j.startMs).sum
    out("callsite.unattributed_frac") = if (jobMs > 0) unattributed.toDouble / jobMs else 0.0
    val mirrors = spans.count(_.name == "stream.mirror")
    if (mirrors > 0) {
      out("stream.mirror.batches") = t.batches.toDouble / mirrors
      out("stream.mirror.trigger_s") = t.triggerMs / 1e3 / mirrors
      out("stream.mirror.add_batch_s") = t.addBatchMs / 1e3 / mirrors
      out("stream.mirror.rows_in") = t.rowsIn.toDouble / mirrors
    }
    overhead(rec, rounds.size).foreach(out("trace.overhead_s") = _)
    out("trace.spans") = spans.size
    rec.counters.foreach { case (k, v) => out(k) = v }
    out.toMap
  }
}
