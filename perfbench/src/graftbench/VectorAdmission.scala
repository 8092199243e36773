package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftCache
import graft.operators.{AnnIndex, Embeddings}
import graft.streaming.EventStream

/** The embedding admission loop (exact rescore) over a seed `AnnIndex`.
  * Each round admits one generated batch, retracts vectors the previous
  * round admitted, serves a probe batch with `serveWith`, and builds and
  * serves an index over a shard whose ids start above the k-means init
  * range (the known failure, counted in `failed`).
  */
final class VectorAdmission(run: String) extends Workload {
  private val indexPath = s"$run/warehouse/ann_index"
  private val corpusPath = s"$run/out/corpus"
  private val logPath = s"$run/out/funnel_log"
  private var batches: Map[Int, Seq[(Long, Seq[Float])]] = Map.empty
  private var takedowns: Map[Int, Seq[Long]] = Map.empty
  private var probes: DataFrame = _
  private var shard: DataFrame = _
  private var in: MemoryStream[(Long, Seq[Float])] = _
  private var query: StreamingQuery = _
  private val commitFiles = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val cachedPeakMb = mutable.ArrayBuffer[Double]()
  def roundsAvailable: Int = batches.size + 1

  def setup(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    batches = Main.read(spark, run, "batches").select("round", "vec_id", "embedding")
      .as[(Long, Long, Seq[Float])].collect().groupBy(_._1.toInt)
      .map { case (r, xs) => r -> xs.map(x => (x._2, x._3)).toSeq }
    takedowns = Main.read(spark, run, "takedowns").as[(Long, Long)].collect()
      .groupBy(_._1.toInt).map { case (r, xs) => r -> xs.map(_._2).toSeq }
    probes = Main.read(spark, run, "probes")
    shard = Main.read(spark, run, "shard")
    val seed = Main.read(spark, run, "seed")
    // the seed build, split at the public training entry points it runs:
    // the trainings are memoized per plan, so the build reuses them and
    // what is left of it is the commit
    h.span("AnnIndex.build") {
      val q = h.span("AnnIndex.build.quantize") {
        val q = Embeddings.quantized(seed)
        q.count()
        q
      }
      h.span("AnnIndex.build.kmeans")(Embeddings.kmeansCodebook(q).collect())
      h.span("AnnIndex.build.pq")(Embeddings.pqCodebooks(q).foreach(_.collect()))
      h.span("AnnIndex.build.commit")(AnnIndex.build(seed, indexPath, storeVectors = true))
    }
    val tau = AnnIndex.measureAdmissionTau(spark, indexPath, exact = true)
    h.info("tau") = tau
    implicit val ctx: SQLContext = spark.sqlContext
    in = MemoryStream[(Long, Seq[Float])]
    query = EventStream.streamingEmbeddingAdmission(in.toDF().toDF("vec_id", "embedding"),
      indexPath, corpusPath, s"$run/checkpoint", tau, compactEvery = 0,
      funnelLogPath = Some(logPath), exactRescore = true)
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

  /** Serve the fixed probes plus copies of this round's retracted
    * vectors; results go to out/serves for the checks.
    */
  private def serve(h: Harness, r: Int): Unit =
    GraftCache.releaseCreatedDuring(h.spark) {
      h.span("AnnIndex.serve") {
        AnnIndex.serveWith(probes.filter(col("round") === -1 || col("round") === r)
          .select("vec_id", "embedding"), indexPath)
          .withColumn("round", lit(r))
          .write.mode(SaveMode.Append).parquet(s"$run/out/serves")
      }
    }

  def round(h: Harness, r: Int): Unit = {
    val spark = h.spark
    h.op("flow")(admit(h, r))
    h.op("takedown")(h.span("AnnIndex.retract")(AnnIndex.retract(spark, indexPath, takedowns(r))))
    h.op("serve")(serve(h, r))
    // AnnIndex.build on a shard with no vec_id below the k-means init range
    h.op("shard") {
      val path = s"$run/warehouse/shard_$r"
      GraftCache.releaseCreatedDuring(spark) {
        AnnIndex.build(shard, path, storeVectors = true)
        AnnIndex.serveWith(shard.limit(8), path).collect()
      }
    }
  }

  def finish(h: Harness): Unit = {
    query.stop()
    val rounds = h.info("rounds").asInstanceOf[Int]
    h.putTimes("flow", "flow")
    h.putRoundTimes("round", Seq("flow", "takedown", "serve", "shard"), rounds)
    h.put("store_mb", h.info("store_bytes").asInstanceOf[Long] / 1e6)
    if (h.trace) traced(h)
  }

  private def traced(h: Harness): Unit = {
    val spark = h.spark
    Admission.streamingMetrics(h, batchRows = batches(1).size.toDouble)
    Admission.commitMetrics(h, commitFiles.toSeq, indexPath)
    h.put("GraftCache.peak_cached_mb", h.median(cachedPeakMb.toSeq))
    Seq("quantize", "kmeans", "pq", "commit").foreach { p =>
      h.put(s"AnnIndex.build.${p}_s", h.median(h.spansAnyRound(s"AnnIndex.build.$p").map(_.seconds)))
    }
    h.put("AnnIndex.serve.s", h.medianSeconds("AnnIndex.serve"))
    h.put("AnnIndex.retract.s", h.medianSeconds("AnnIndex.retract"))
    // extend, timed on a copy of the committed index so the loop's own
    // index is untouched: two batches of admitted-batch size, seed
    // vectors under fresh ids
    val copy = s"$run/warehouse/ann_index_copy"
    Admission.copyTree(indexPath, copy)
    val rows = Main.read(spark, run, "seed").select("vec_id", "embedding").orderBy("vec_id")
      .collect().map(r => (r.getLong(0) + 90000000L, r.getSeq[Float](1))).toSeq
    import spark.implicits._
    rows.grouped(Admission.ExtendBatch).take(2).zipWithIndex.foreach { case (part, i) =>
      GraftCache.releaseCreatedDuring(spark) {
        h.span("AnnIndex.extend")(
          AnnIndex.extend(part.toDF("vec_id", "embedding"), copy, buildV = 1000L + 2 * i))
      }
    }
    h.put("AnnIndex.extend.s", h.median(h.spansAnyRound("AnnIndex.extend").map(_.seconds)))
    Kernels.vectors(h, Embeddings.quantized(Main.read(spark, run, "seed")))
  }
}

/** Metrics both admission workloads derive the same way. */
object Admission {
  /** Rows per extend on an index copy: about one admitted batch. */
  val ExtendBatch = 40

  def streamingMetrics(h: Harness, batchRows: Double): Unit = {
    val n = "streaming.admit"
    h.put("streaming.admit.jobs_per_batch", h.medianCount(n)(_.jobs.toDouble))
    h.put("streaming.admit.stages_per_batch", h.medianCount(n)(_.stages.toDouble))
    h.put("streaming.admit.shuffle_mb_per_batch", h.medianCount(n)(_.shuffleBytes / 1e6))
    h.put("streaming.admit.input_reads_per_record", h.medianCount(n)(_.streamRows / batchRows))
  }

  /** (index files, index bytes, corpus bytes) written per admitted batch. */
  def commitMetrics(h: Harness, perBatch: Seq[(Long, Long, Long)], indexPath: String): Unit = {
    h.put("sources.commit.files_written", h.median(perBatch.map(_._1.toDouble)))
    h.put("sources.commit.bytes_written", h.median(perBatch.map(_._2.toDouble)))
    h.put("sources.write_amplification",
      h.median(perBatch.filter(_._3 > 0).map(b => b._2.toDouble / b._3)))
    val (files, bytes) = Harness.dirStats(indexPath)
    h.put("sources.index.live_files", files.toDouble)
    h.put("sources.index.mb", bytes / 1e6)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }
}
