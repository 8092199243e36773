package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftCache
import graft.operators.{DedupIndex, Dsir, EvalRegistry}
import graft.streaming.EventStream

/** The curation admission loop over a seed `DedupIndex`: closed loop, one
  * micro-batch in flight. Each round admits one generated batch, runs the
  * compaction cadence, retracts pages the previous round admitted, and
  * serves a read-only probe batch from the committed index.
  */
final class TextAdmission(run: String) extends Workload {
  private val indexPath = s"$run/warehouse/dedup_index"
  private val regPath = s"$run/warehouse/eval_registry"
  private val corpusPath = s"$run/out/corpus"
  private val logPath = s"$run/out/funnel_log"
  private var batches: Map[Int, Seq[(Long, String)]] = Map.empty
  private var takedowns: Map[Int, Seq[Long]] = Map.empty
  private var probes: DataFrame = _
  private var in: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val commitFiles = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val cachedPeakMb = mutable.ArrayBuffer[Double]()
  def roundsAvailable: Int = batches.size + 1

  def setup(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    batches = Main.read(spark, run, "batches").select("round", "doc_id", "html")
      .as[(Long, Long, String)].collect().groupBy(_._1.toInt)
      .map { case (r, xs) => r -> xs.map(x => (x._2, x._3)).toSeq }
    takedowns = Main.read(spark, run, "takedowns").as[(Long, Long)].collect()
      .groupBy(_._1.toInt).map { case (r, xs) => r -> xs.map(_._2).toSeq }
    probes = Main.read(spark, run, "probes")
    val seed = Main.read(spark, run, "seed")
    h.span("DedupIndex.build")(DedupIndex.build(seed, indexPath))
    EvalRegistry.register(Main.read(spark, run, "evals"), regPath)
    val lr = Dsir.lrTable(seed.withColumn("source",
      when(col("doc_id") % 10 === 0, lit(Dsir.TargetSource)).otherwise(lit("pool"))))
    implicit val ctx: SQLContext = spark.sqlContext
    in = MemoryStream[(Long, String)]
    query = EventStream.streamingCurationAdmission(in.toDF().toDF("doc_id", "html"),
      indexPath, lr, Long.MinValue, corpusPath, s"$run/checkpoint", compactEvery = 0,
      registryPath = Some(regPath), funnelLogPath = Some(logPath))
    h.info("store_bytes") = Harness.dirStats(indexPath)._2
  }

  private def admit(h: Harness, r: Int): Unit = {
    val before = if (h.trace) Harness.listing(indexPath) else Map.empty[String, Long]
    val corpusBefore = if (h.trace) Harness.listing(corpusPath) else Map.empty[String, Long]
    h.telemetry.foreach(_.resetCachedPeak())
    h.span("streaming.admit") {
      in.addData(batches(r))
      query.processAllAvailable()
    }
    if (h.trace) {
      val (n, b) = Harness.newFiles(before, Harness.listing(indexPath))
      commitFiles += ((n, b, Harness.newFiles(corpusBefore, Harness.listing(corpusPath))._2))
      cachedPeakMb += h.telemetry.get.cachedPeakBytes / 1e6
    }
  }

  /** Serve the fixed probes plus this round's takedown probes; the
    * verdicts go to out/serves for the checks.
    */
  private def serve(h: Harness, r: Int): Unit =
    GraftCache.releaseCreatedDuring(h.spark) {
      h.span("DedupIndex.serve") {
        DedupIndex.serve(probes.filter(col("round") === -1 || col("round") === r)
          .select("doc_id", "text"), indexPath)
          .withColumn("round", lit(r))
          .write.mode(SaveMode.Append).parquet(s"$run/out/serves")
      }
    }

  def round(h: Harness, r: Int): Unit = {
    val spark = h.spark
    h.op("flow")(admit(h, r))
    h.op("maintain")(h.span("DedupIndex.maintain")(DedupIndex.maintain(spark, indexPath)))
    h.op("takedown")(h.span("DedupIndex.retract") {
      DedupIndex.retract(spark, indexPath, takedowns(r))
    })
    h.op("serve")(serve(h, r))
  }

  def finish(h: Harness): Unit = {
    query.stop()
    val rounds = h.info("rounds").asInstanceOf[Int]
    h.putTimes("flow", "flow")
    h.putRoundTimes("round", Seq("flow", "maintain", "takedown", "serve"), rounds)
    h.put("store_mb", h.info("store_bytes").asInstanceOf[Long] / 1e6)
    if (h.trace) traced(h)
  }

  private def traced(h: Harness): Unit = {
    val spark = h.spark
    Admission.streamingMetrics(h, batchRows = batches(1).size.toDouble)
    Admission.commitMetrics(h, commitFiles.toSeq, indexPath)
    h.put("GraftCache.peak_cached_mb", h.median(cachedPeakMb.toSeq))
    h.put("DedupIndex.build.s", h.spansAnyRound("DedupIndex.build").map(_.seconds).sum)
    h.put("DedupIndex.serve.s", h.medianSeconds("DedupIndex.serve"))
    h.put("DedupIndex.maintain.s", h.medianSeconds("DedupIndex.maintain"))
    h.put("DedupIndex.retract.s", h.medianSeconds("DedupIndex.retract"))
    h.put("DedupIndex.serve.files_read_per_serve",
      h.medianCount("DedupIndex.serve")(_.filesRead.toDouble))
    // extend, timed on a copy of the committed index so the loop's own
    // index is untouched: two batches of admitted-batch size, seed
    // texts under fresh ids
    val copy = s"$run/warehouse/dedup_index_copy"
    Admission.copyTree(indexPath, copy)
    val docs = Main.read(spark, run, "seed").select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0) + 90000000L, r.getString(1))).toSeq
    import spark.implicits._
    docs.grouped(Admission.ExtendBatch).take(2).zipWithIndex.foreach { case (part, i) =>
      GraftCache.releaseCreatedDuring(spark) {
        h.span("DedupIndex.extend")(
          DedupIndex.extend(part.toDF("doc_id", "text"), copy, buildV = 1000L + i))
      }
    }
    h.put("DedupIndex.extend.s", h.median(h.spansAnyRound("DedupIndex.extend").map(_.seconds)))
    Kernels.text(h, Main.read(spark, run, "seed").select("text"))
  }
}
