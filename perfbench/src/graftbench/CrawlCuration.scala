package graftbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{EvalRegistry, Html}
import graft.pipeline.CurationPipeline
import graft.sources.Warc

/** `CurationPipeline.curate` from WARC blobs to the curated corpus on
  * disk, with a committed eval registry passed in. Each round curates the
  * same crawl drop and writes `curated` as parquet (the caller's action).
  */
final class CrawlCuration(run: String) extends Workload {
  val roundsAvailable: Int = 1000
  private val curatedPath = s"$run/out/curated"
  private val regPath = s"$run/warehouse/eval_registry"
  private var blobs: DataFrame = _
  private var nBlobs = 0L
  private var targetIds: Set[Long] = Set.empty
  private var registry: DataFrame = _
  private var funnel: Array[(String, Long, Double)] = Array.empty
  private val funnels = scala.collection.mutable.ArrayBuffer[Array[(String, Long, Double)]]()
  private val cachedPeakMb = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(h: Harness): Unit = {
    val spark = h.spark
    blobs = Main.read(spark, run, "warc")
    nBlobs = blobs.count()
    targetIds = Main.read(spark, run, "target_ids").collect().map(_.getLong(0)).toSet
    EvalRegistry.register(Main.read(spark, run, "evals"), regPath)
    registry = EvalRegistry.load(spark, regPath)
  }

  def round(h: Harness, r: Int): Unit = {
    h.telemetry.foreach(_.resetCachedPeak())
    h.op("flow") {
      val curated = h.span("pipeline.curate") {
        val (c, f) = CurationPipeline.curate(blobs, targetIds, Some(registry))
        funnel = f.collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        c
      }
      h.span("pipeline.curate.write") {
        curated.write.mode(SaveMode.Overwrite).parquet(curatedPath)
      }
    }
    funnels += funnel
    h.telemetry.foreach(t => cachedPeakMb += t.cachedPeakBytes / 1e6)
  }

  def finish(h: Harness): Unit = {
    h.putTimes("flow", "flow")
    h.putTimes("round", "flow")
    h.put("store_mb", Harness.dirStats(curatedPath)._2 / 1e6)
    Harness.writeFile(s"$run/out/funnel.json", funnel.map { case (s, n, _) =>
      s"""{"stage":"$s","rows":$n}""" }.mkString("[", ",", "]\n"))
    if (h.trace) {
      funnel.map(_._1).foreach { stage =>
        h.put(s"pipeline.curate.$stage.s",
          h.median(funnels.toSeq.flatMap(_.find(_._1 == stage)).map(_._3)))
      }
      h.put("pipeline.curate.write_s", h.medianSeconds("pipeline.curate.write"))
      h.put("pipeline.curate.input_reads_per_record",
        h.medianCount("flow")(_.scanRows("warc.parquet").toDouble / nBlobs))
      h.put("pipeline.curate.jobs", h.medianCount("flow")(_.jobs.toDouble))
      h.put("pipeline.curate.shuffle_mb", h.medianCount("flow")(_.shuffleBytes / 1e6))
      h.put("GraftCache.peak_cached_mb", h.median(cachedPeakMb.toSeq))
      // the kernels on the crawl's own extracted page text
      Kernels.text(h, Html.htmlExtract(Warc.splitWarc(blobs), col("html"))
        .select(col("clean_text").as("text")))
    }
  }
}
