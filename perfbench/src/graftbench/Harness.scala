package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, round: Int, name: String, startNs: Long,
                      endNs: Long, cpuNs: Long, counts: Option[Counts], ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = cpuNs / 1e9
}

/** What every workload shares: the session, the clock, the span
  * recorder, the operation tally and the metric sink.
  *
  * Spans are kept for every call so the timings are the same code path
  * in both runs; listener counts are taken only when tracing, and only
  * the traced run writes the spans out.
  */
final class Harness(val spark: SparkSession, val trace: Boolean, val runId: String) {
  val telemetry: Option[Telemetry] = if (trace) Some(new Telemetry(spark)) else None
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  /** The round being run; 0 while setting up. */
  var round = 0
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val c0 = telemetry.map(_.snapshot())
    stack.push(id)
    val cpu0 = Harness.processCpuNs()
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      r
    } finally {
      val t1 = System.nanoTime()
      val cpu1 = Harness.processCpuNs()
      stack.pop()
      val d = for (a <- c0; t <- telemetry) yield t.snapshot() - a
      spans += Span(id, parent, round, name, t0, t1, cpu1 - cpu0, d, ok)
    }
  }

  /** A counted operation: a span that adds to `attempted`, and to
    * `failed` when it throws (returning None). During set-up it is a plain
    * span: not counted, and a failure fails the run.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    if (round < 1) return Some(span(name)(body))
    attempted += 1
    try Some(span(name)(body))
    catch {
      case e: Exception =>
        failed += 1
        info.getOrElseUpdate("failures", mutable.LinkedHashMap[String, String]())
          .asInstanceOf[mutable.LinkedHashMap[String, String]]
          .getOrElseUpdate(name, firstLine(e))
        None
    }
  }

  private def firstLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Successful spans named `name` from the timed rounds. */
  def spansNamed(name: String): Seq[Span] =
    spans.filter(s => s.name == name && s.ok && s.round >= 1).toSeq

  /** Successful spans named `name`, wherever they ran. */
  def spansAnyRound(name: String): Seq[Span] = spans.filter(s => s.name == name && s.ok).toSeq

  /** Median wall and CPU seconds of the spans named `name` in the timed
    * rounds, as `<prefix>_s` and `<prefix>_cpu_s`.
    */
  def putTimes(prefix: String, name: String): Unit = {
    put(s"${prefix}_s", median(spansNamed(name).map(_.seconds)))
    put(s"${prefix}_cpu_s", median(spansNamed(name).map(_.cpuSeconds)))
  }

  /** The same for whole rounds: the sum over each round's spans with
    * these names, failed ones too.
    */
  def putRoundTimes(prefix: String, names: Seq[String], rounds: Int): Unit = {
    def of(r: Int) = spans.filter(s => s.round == r && names.contains(s.name))
    put(s"${prefix}_s", median((1 to rounds).map(of(_).map(_.seconds).sum)))
    put(s"${prefix}_cpu_s", median((1 to rounds).map(of(_).map(_.cpuSeconds).sum)))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median seconds of the spans named `name` in the timed rounds. */
  def medianSeconds(name: String): Double = median(spansNamed(name).map(_.seconds))

  def medianCount(name: String)(f: Counts => Double): Double =
    median(spansNamed(name).flatMap(_.counts).map(f))

  def put(name: String, v: Double): Unit = metrics(name) = v

  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""round":${s.round},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""cpu_ns":${s.cpuNs},"ok":${s.ok}""")
      s.counts.foreach { c =>
        sb.append(s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
          s""""files_read":${c.filesRead},"stream_rows":${c.streamRows},""" +
          s""""task_cpu_ns":${c.cpuNs}""")
      }
      sb.append("}")
    }
    sb.append("\n]\n")
    Harness.writeFile(path, sb.toString)
  }
}

object Harness {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads: unlike wall time it does not
    * grow while the machine's other tenants hold the cores.
    */
  def processCpuNs(): Long = os.getProcessCpuTime
  def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(s) finally w.close()
  }

  /** (files, bytes) under a directory tree; hidden .crc files excluded. */
  def dirStats(path: String): (Long, Long) = {
    val l = listing(path)
    (l.size.toLong, l.values.sum)
  }

  /** Files under a tree as path -> size, for new-file diffs. */
  def listing(path: String): Map[String, Long] = {
    val m = mutable.HashMap[String, Long]()
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else if (!f.getName.endsWith(".crc")) m(f.getPath) = f.length
    go(new File(path))
    m.toMap
  }

  /** (count, bytes) of files present in `after` and not in `before`. */
  def newFiles(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (k, _) => !before.contains(k) }
    (fresh.size.toLong, fresh.values.sum)
  }

  def json(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => "\"" + esc(k) + "\":" + jsonValue(v) }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => "\"" + esc(s) + "\""
    case m: collection.Map[_, _] => json(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
