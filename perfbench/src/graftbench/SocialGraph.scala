package graftbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.pipeline.GraftPipeline
import graft.sources.Sinks

/** One scheduler tick of the reference pipeline through the
  * `GraftPipeline` facade. Every round runs the same tick over the same
  * generated tables; each step's result is written under `out/<step>`,
  * which is both the user's action and what the checks read.
  */
final class SocialGraph(run: String) extends Workload {
  val roundsAvailable: Int = 1000
  private val out = s"$run/out"
  private val usersPath = s"$run/warehouse/users"
  private val nowUs = 1717200000000000L
  private var t: Map[String, DataFrame] = Map.empty
  private var taxonomy: DataFrame = _
  private val filesWritten = scala.collection.mutable.ArrayBuffer[Double]()

  val steps: Seq[String] = Seq("upsert", "mutuals", "schedule", "pending_batch",
    "pending_analysis", "interests", "job_updates", "job_stats")

  def setup(h: Harness): Unit = {
    val spark = h.spark
    t = Seq("users", "users_incoming", "followers", "following", "account_docs",
      "jobs", "targets", "interests", "job_updates")
      .map(n => n -> Main.read(spark, run, n)).toMap
    // the committed users table the upsert merges into
    t("users").write.parquet(usersPath)
    import spark.implicits._
    taxonomy = Seq("performance" -> "engine", "query_exec" -> "engine",
      "storage" -> "data", "streaming" -> "data").toDF("category", "parent_category")
  }

  private def save(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name")

  private def step(h: Harness, name: String)(body: => Unit): Unit =
    h.op(s"operators.$name")(body)

  def round(h: Harness, r: Int): Unit = {
    val spark = h.spark
    h.span("flow") {
      step(h, "upsert") {
        val merged = GraftPipeline.upsertUsers(t("users"), t("users_incoming"))
        val before = if (h.trace) Harness.listing(usersPath) else Map.empty[String, Long]
        h.span("sources.merge_upsert") {
          Sinks.mergeUpsert(spark, usersPath, merged, Seq("user_id"), "last_updated_us")
        }
        if (h.trace)
          filesWritten += Harness.newFiles(before, Harness.listing(usersPath))._1.toDouble
      }
      val users = spark.read.parquet(usersPath)
      step(h, "mutuals") {
        save(GraftPipeline.calculateMutualFollowers(t("followers"), t("following")), "mutuals")
      }
      step(h, "schedule") {
        save(GraftPipeline.scheduleUserScraping(t("targets"), t("jobs"), nowUs), "schedule")
      }
      step(h, "pending_batch") {
        save(GraftPipeline.selectPendingBatch(t("jobs"), remainingQuota = 50, batchSize = 10),
          "pending_batch")
      }
      step(h, "pending_analysis") {
        save(GraftPipeline.pendingAnalysisUsers(users, t("jobs"), t("interests"), limit = 25),
          "pending_analysis")
      }
      step(h, "interests") {
        save(GraftPipeline.analyzeUserInterestsByParent(t("following"), t("account_docs"),
          Some(taxonomy)), "interests")
      }
      step(h, "job_updates") {
        save(GraftPipeline.applyJobUpdates(t("jobs"), t("job_updates")), "jobs_updated")
      }
      step(h, "job_stats") {
        save(GraftPipeline.jobStats(spark.read.parquet(s"$out/jobs_updated")), "job_stats")
      }
    }
  }

  def finish(h: Harness): Unit = {
    h.putTimes("flow", "flow")
    h.putTimes("round", "flow")
    h.put("store_mb", Harness.dirStats(usersPath)._2 / 1e6)
    if (h.trace) {
      steps.foreach { s =>
        val n = s"operators.$s"
        h.put(s"$n.s", h.medianSeconds(n))
        h.put(s"$n.jobs", h.medianCount(n)(_.jobs.toDouble))
        h.put(s"$n.stages", h.medianCount(n)(_.stages.toDouble))
        h.put(s"$n.shuffle_mb", h.medianCount(n)(_.shuffleBytes / 1e6))
        h.put(s"$n.spill_mb", h.medianCount(n)(_.spillBytes / 1e6))
        h.put(s"$n.task_skew", h.medianCount(n)(_.taskSkew))
      }
      h.put("sources.merge_upsert.s", h.medianSeconds("sources.merge_upsert"))
      h.put("sources.merge_upsert.files_written", h.median(filesWritten.toSeq))
    }
  }
}
