package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: set-up, then whole rounds of the same operations, from
  * round 1, until the measuring time is spent (at least one round), then
  * the metrics. Round 1 is the first run of the flow in a fresh JVM.
  */
trait Workload {
  /** Rounds the generated inputs provide, warm-up included. */
  def roundsAvailable: Int
  def setup(h: Harness): Unit
  def round(h: Harness, r: Int): Unit
  def finish(h: Harness): Unit
  def close(): Unit = ()
}

/** Entry point of the benchmark JVM:
  * `graftbench.Main --workload W --seconds S --trace 0|1 --run DIR --cores N`.
  * Inputs are read from `DIR/input`; outputs, `result.json` and (traced)
  * `spans.json` are written under `DIR`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val run = a("run")
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(a("cores").toInt)
    val startS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(spark, trace, a.getOrElse("run-id", "run"))
    h.put("session.start_s", startS)
    val w: Workload = a("workload") match {
      case "social_graph" => new SocialGraph(run)
      case "crawl_curation" => new CrawlCuration(run)
      case "text_admission" => new TextAdmission(run)
      case "vector_admission" => new VectorAdmission(run)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      w.setup(h)
      h.info("first_op_epoch_ms") = System.currentTimeMillis()
      val m0 = System.nanoTime()
      val deadline = m0 + (seconds * 1e9).toLong
      var r = 1
      while (r < w.roundsAvailable && (r == 1 || System.nanoTime() < deadline)) {
        h.round = r
        w.round(h, r)
        r += 1
      }
      h.info("rounds") = r - 1
      h.info("measure_s") = (System.nanoTime() - m0) / 1e9
      h.round = -1
      w.finish(h)
      h.info("peak_rss_kb") = peakRssKb()
      if (trace) h.writeSpans(s"$run/spans.json")
      h.telemetry.foreach(_.close())
      Harness.writeFile(s"$run/result.json", Harness.json(scala.collection.Map(
        "attempted" -> h.attempted, "failed" -> h.failed,
        "metrics" -> h.metrics, "info" -> h.info)) + "\n")
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }

  def read(spark: SparkSession, run: String, name: String): DataFrame =
    spark.read.parquet(s"$run/input/$name.parquet")
}

/** Native kernel throughput, measured in traced runs on the workload's
  * own rows: CPU time per row and bytes allocated per row of one
  * aggregate over a cached frame, minus a scan-only baseline.
  */
object Kernels {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  val KernelRows = 20000L

  private def allocated(): Long =
    mx.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0).sum

  def measure(h: Harness, frame: DataFrame, baseline: org.apache.spark.sql.Column,
              kernels: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    val tel = h.telemetry.get
    // replicated to KernelRows so per-task overhead is a small share
    val n = math.max(frame.count(), 1L)
    val copies = math.max(1L, (KernelRows + n - 1) / n)
    val df = frame.crossJoin(h.spark.range(copies).select(col("id").as("__copy")))
      .drop("__copy").repartition(h.spark.sparkContext.defaultParallelism).cache()
    val rows = df.count().toDouble
    def cost(c: org.apache.spark.sql.Column): (Double, Double) = {
      val runs = (1 to 2).map { _ =>
        val a0 = allocated()
        val c0 = tel.snapshot()
        df.agg(c).collect()
        val d = tel.snapshot() - c0
        (d.cpuNs.toDouble, (allocated() - a0).toDouble)
      }
      (h.median(runs.map(_._1)), h.median(runs.map(_._2)))
    }
    val (baseNs, baseAlloc) = cost(baseline)
    kernels.foreach { case (name, c) =>
      val (ns, alloc) = h.span(s"functions.$name")(cost(c))
      h.put(s"functions.$name.ns_per_row", math.max(ns - baseNs, 0.0) / rows)
      h.put(s"functions.$name.alloc_bytes_per_row", math.max(alloc - baseAlloc, 0.0) / rows)
    }
    df.unpersist(blocking = true)
  }

  /** The text kernels, each reduced to a scalar so it cannot be pruned. */
  def text(h: Harness, texts: DataFrame): Unit = {
    import graft.functions.Exprs
    val f = texts.select(col("text"), split(col("text"), " ").as("toks"))
      .withColumn("sh", Exprs.shingles(col("toks"), 3))
    measure(h, f, max(length(col("text"))), Seq(
      "shingles" -> max(size(Exprs.shingles(col("toks"), 3))),
      "minhash_sig" -> max(size(Exprs.minhashSig(col("sh"), 8))),
      "simhash64" -> max(length(Exprs.simhash64(col("sh")))),
      "fix_mojibake" -> max(length(Exprs.fixMojibake(col("text")))),
      "text_normalize" -> max(length(Exprs.nfc(col("text")))),
      "md5_bucket_mod" -> sum(Exprs.md5Bucket(col("text"), "s", 64))))
  }

  /** The integer dot product the ANN kernels score with. */
  def vectors(h: Harness, quantized: DataFrame): Unit =
    measure(h, quantized.select(col("qv")), max(size(col("qv"))), Seq(
      "dot_long" -> sum(graft.functions.Exprs.dotLong(col("qv"), col("qv")))))
}
