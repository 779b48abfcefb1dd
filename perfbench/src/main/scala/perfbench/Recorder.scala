package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One span the benchmark opened around one of its own calls into a layer. */
final case class Span(id: Long, name: String, parent: Long, workload: String,
    round: Int, startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything one invocation records: per-op latency samples, attempted and
  * failed op counts, correctness checks and (in a traced invocation) spans.
  *
  * There is one client thread in a closed loop, so spans nest strictly and
  * the innermost open span is the one whose id rides on the Spark local
  * property [[Recorder.SpanProperty]]: every Spark job a call triggers, on
  * this thread or on a thread Spark starts for it, carries that id.
  */
final class Recorder(val workload: String, sc: () => SparkContext) {
  import Recorder._

  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[(String, Boolean)]
  val spans = ArrayBuffer.empty[Span]
  /** (op name, traced, seconds) of every successful op. */
  val log = ArrayBuffer.empty[(String, Boolean, Double)]

  /** Set while a traced round runs; spans are recorded only then. */
  var tracing = false
  /** Current tick, pass or cycle number, stamped on every span. */
  var round = 0
  private var nextId = 1L
  private var open = List.empty[Long]

  private def sample(series: String, v: Double): Unit =
    samples.getOrElseUpdate(series, ArrayBuffer.empty) += v

  def add(counter: String, v: Double): Unit =
    counters(counter) = counters.getOrElse(counter, 0.0) + v

  def check(name: String, ok: Boolean): Unit = {
    checks += name -> ok
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name")
  }

  /** Run `body` inside a span named `name` (recorded only when tracing). */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    val ctx = sc()
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    open = id :: open
    ctx.setLocalProperty(SpanProperty, id.toString)
    try body
    finally {
      open = open.tail
      ctx.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, workload, round, ms,
        System.currentTimeMillis(), ns, System.nanoTime())
    }
  }

  /** One attempted operation: a span around the call, its wall time into
    * `series` (if given). A throw counts as a failed op whose latency is
    * past every limit (+∞); it returns None and the run goes on.
    */
  def op[T](name: String, series: String = null)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Some(span(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          errors += s"$name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
          System.err.println(s"[perfbench] op $name failed: $e")
          None
      }
    val s = (System.nanoTime() - t0) / 1e9
    if (out.isDefined) log += ((name, tracing, s))
    if (series != null) sample(series, if (out.isDefined) s else Double.PositiveInfinity)
    out
  }

  /** Time a group of ops (a tick, pass or cycle) as one sample of wall
    * time in `series` and one of process CPU time in `series.cpu`.
    */
  def group(name: String, series: String)(body: => Unit): Unit = {
    val failedBefore = failed
    val (t0, c0) = (System.nanoTime(), cpuNs())
    span(name)(body)
    val ok = failed == failedBefore
    sample(series, if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
    sample(s"$series.cpu", if (ok) (cpuNs() - c0) / 1e9 else Double.PositiveInfinity)
  }

  /** CPU time of every thread of this process: the Spark driver, its task
    * threads, GC and the JIT.
    */
  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2)
}

object Recorder {
  val SpanProperty = "perfbench.span"
}

/** Order statistics used by every report: medians, and the tail as the
  * highest percentile with at least ten samples beyond it.
  */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (value, percentile) of the sample with exactly ten samples above it;
    * None when that would not lie above the median (fewer than 21 samples).
    */
  def tail(xs: Iterable[Double]): Option[(Double, Double)] = {
    val s = xs.toIndexedSeq.sorted
    if (s.size < 21) None
    else Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size))
  }
}

/** Writes a traced run's spans as JSON lines once the run has ended. */
object Spans {
  def write(rec: Recorder, file: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val lines = rec.spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "workload": "${s.workload}", """ +
        s""""round": ${s.round}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}}"""
    }
    java.nio.file.Files.write(file, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] ${rec.spans.size} spans written to $file")
  }
}
