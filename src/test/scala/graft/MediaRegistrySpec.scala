package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AdmissionLog, Corpus, ImageDedup, MediaIndex, MediaRegistry, TakedownLog}
import graft.sources.Sinks.VersionedTable

/** C110: the banned-media hash-list registry + retro takedown —
  * [[graft.operators.Corpus.retroDecontaminate]]'s media twin, driven
  * through the REAL PNG codec end to end, including the kill-point
  * sweep over the job's durable-effect boundaries.
  */
class MediaRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mreg-$tag").toString

  test("register commits fingerprints only; replay no-ops; undecodable payloads quarantine out of the registry") {
    import spark.implicits._
    val dir = tmp("reg")
    val banned = ImageDedup.imageCorpus(Seq(101L, 102L).toDF("doc_id"))
      .withColumnRenamed("doc_id", "banned_id")
      .unionByName(Seq((103L, Array[Byte](1, 2, 3))).toDF("banned_id", "payload"))
    MediaRegistry.register(banned, dir, "img")
    val rows = MediaRegistry.load(spark, dir, "img").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(101L, 102L),
      "the undecodable payload must not occupy the registry")
    assert(rows.forall(_.getString(1).length == 64), "fps only, 64-bit hashes")
    // payloads never ship: the committed table has no payload column
    assert(!VersionedTable.read(spark, MediaRegistry.tablePath(dir, "img"))
      .columns.contains("payload"))
    MediaRegistry.register(banned, dir, "img") // replay: set-union no-op
    assert(MediaRegistry.load(spark, dir, "img").count() == 2L)
  }

  /** Planted scenario: media corpus of groups 1..40 (one PNG each, real
    * codec); the hash list bans the fingerprints of fresh encodes of
    * groups 1 and 2 — corpus items 1 and 2 are near-dups of banned
    * content (same pixel group, different perturbation), the rest are
    * clean.
    */
  private def plant(dir: String): String = {
    import spark.implicits._
    val corpus = ImageDedup.imageCorpus((1L to 40L).toDF("doc_id"))
    MediaIndex.build(corpus, s"$dir/index", "img")
    val cp = s"$dir/corpus"
    corpus.withColumnRenamed("doc_id", "media_id")
      .withColumn("batch_id", lit(0L))
      .write.mode("append").parquet(cp)
    MediaRegistry.register(
      ImageDedup.imageCorpus(Seq(101L, 102L).toDF("doc_id"))
        .withColumnRenamed("doc_id", "banned_id"),
      s"$dir/registry", "img")
    cp
  }

  test("retroTakedown: hash-list hits are forgotten across corpus + index with evidence; replay converges") {
    import spark.implicits._
    val dir = tmp("retro")
    val cp = plant(dir)
    val rep = MediaRegistry.retroTakedown(spark, cp, s"$dir/registry", "img",
      "mretro-1", indexPath = Some(s"$dir/index"),
      logPath = Some(s"$dir/tdlog"), funnelLogPath = Some(s"$dir/funnel"),
      funnelBatchId = 3L, asOfUs = 40L)
    assert(rep.scanned == 40L && rep.hits == 2L && rep.tombstoned == 2L &&
      rep.registryV >= 0L, s"report: $rep")
    val kept = Corpus.read(spark, cp, idCol = "media_id")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == (3L to 40L).toSet, s"items 1,2 forgotten: $kept")
    // the raw files still hold the payloads (merge-on-read)
    assert(spark.read.parquet(cp).count() == 40L)
    // the index no longer matches a re-crawl of the banned content
    val reprobe = MediaIndex.serve(
      ImageDedup.imageCorpus(Seq(201L, 202L).toDF("doc_id"))
        .withColumnRenamed("doc_id", "media_id"),
      s"$dir/index", "img")
      .filter(col("doc_id").isin(1L, 2L)).count()
    assert(reprobe == 0L, "retracted fingerprints must stop matching")
    assert(TakedownLog.filedJobs(spark, s"$dir/tdlog") == Set("mretro-1"))
    val funnel = AdmissionLog.rollup(spark, s"$dir/funnel")
      .filter(col("loop") === "media_registry_img").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("total")).toMap
    assert(funnel == Map("1_scanned" -> 40L, "2_hits" -> 2L,
      "3_tombstoned" -> 2L))
    // replay: detection is RAW-corpus, so the report re-derives
    // identically; effects no-op; ledger holds
    val ledgerN = TakedownLog.read(spark, s"$dir/tdlog").count()
    val rep2 = MediaRegistry.retroTakedown(spark, cp, s"$dir/registry", "img",
      "mretro-1", indexPath = Some(s"$dir/index"),
      logPath = Some(s"$dir/tdlog"), funnelLogPath = Some(s"$dir/funnel"),
      funnelBatchId = 3L, asOfUs = 40L)
    assert((rep2.scanned, rep2.hits, rep2.tombstoned) == (40L, 2L, 2L))
    assert(TakedownLog.read(spark, s"$dir/tdlog").count() == ledgerN)
    // maxHits refusal leaves no effect
    val refused = intercept[IllegalArgumentException] {
      MediaRegistry.retroTakedown(spark, cp, s"$dir/registry", "img",
        "mretro-2", maxHits = 0)
    }
    assert(refused.getMessage.contains("maxHits"))
  }

  test("the sweep is mode-keyed: the audio modality runs the same contract through the WAV codec") {
    import spark.implicits._
    import graft.operators.AudioDedup
    val dir = tmp("aud")
    val corpus = AudioDedup.audioCorpus((1L to 40L).toDF("doc_id"))
    MediaIndex.build(corpus, s"$dir/index", "aud")
    corpus.withColumnRenamed("doc_id", "media_id")
      .withColumn("batch_id", lit(0L))
      .write.mode("append").parquet(s"$dir/corpus")
    MediaRegistry.register(
      AudioDedup.audioCorpus(Seq(101L, 102L).toDF("doc_id"))
        .withColumnRenamed("doc_id", "banned_id"),
      s"$dir/registry", "aud")
    val rep = MediaRegistry.retroTakedown(spark, s"$dir/corpus",
      s"$dir/registry", "aud", "aretro-1", indexPath = Some(s"$dir/index"),
      logPath = Some(s"$dir/tdlog"), asOfUs = 60L)
    assert(rep.scanned == 40L && rep.hits == 2L && rep.tombstoned == 2L,
      s"report: $rep")
    assert(Corpus.read(spark, s"$dir/corpus", idCol = "media_id")
      .count() == 38L)
    assert(TakedownLog.read(spark, s"$dir/tdlog")
      .select("subTable").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("_tombstones", "aud"))
  }

  test("one sweep call covers img+vid+aud through their own codecs; per-modality replay converges (r13)") {
    import spark.implicits._
    import graft.operators.{AudioDedup, VideoDedup}
    val dir = tmp("all")
    val makers: Seq[(String, Seq[Long] => org.apache.spark.sql.DataFrame)] =
      Seq(
        "img" -> (ids => ImageDedup.imageCorpus(ids.toDF("doc_id"))),
        "vid" -> (ids => VideoDedup.videoCorpus(ids.toDF("doc_id"))),
        "aud" -> (ids => AudioDedup.audioCorpus(ids.toDF("doc_id"))))
    val corpora = makers.map { case (m, make) =>
      val corpus = make(1L to 12L)
      MediaIndex.build(corpus, s"$dir/index", m)
      corpus.withColumnRenamed("doc_id", "media_id")
        .withColumn("batch_id", lit(0L))
        .write.mode("append").parquet(s"$dir/corpus-$m")
      MediaRegistry.register(
        make(Seq(101L, 102L)).withColumnRenamed("doc_id", "banned_id"),
        s"$dir/registry", m)
      m -> s"$dir/corpus-$m"
    }
    assert(MediaRegistry.registeredModalities(spark, s"$dir/registry") ==
      Seq("aud", "img", "vid"))
    def sweep() = MediaRegistry.retroTakedownAll(spark, corpora,
      s"$dir/registry", "allretro-1", indexPath = Some(s"$dir/index"),
      logPath = Some(s"$dir/tdlog"), funnelLogPath = Some(s"$dir/funnel"),
      funnelBatchId = 7L, asOfUs = 80L)
    val reps = sweep()
    assert(reps.keySet == Set("img", "vid", "aud"))
    reps.foreach { case (m, rep) =>
      assert(rep.scanned == 12L && rep.hits == 2L && rep.tombstoned == 2L,
        s"$m report: $rep")
      assert(Corpus.read(spark, s"$dir/corpus-$m", idCol = "media_id")
        .select("media_id").collect().map(_.getLong(0)).toSet ==
        (3L to 12L).toSet, s"$m: items 1,2 forgotten")
    }
    // per-modality jobIds file separately so each pass replays on its own
    assert(TakedownLog.filedJobs(spark, s"$dir/tdlog") ==
      Set("allretro-1-img", "allretro-1-vid", "allretro-1-aud"))
    // the funnel carries one loop per modality next to the admission loops
    val loops = graft.operators.AdmissionLog.rollup(spark, s"$dir/funnel")
      .select("loop").distinct().collect().map(_.getString(0)).toSet
    assert(loops == Set("media_registry_img", "media_registry_vid",
      "media_registry_aud"))
    val ledgerN = TakedownLog.read(spark, s"$dir/tdlog").count()
    val reps2 = sweep() // replay: detection re-derives, effects no-op
    assert(reps2.view.mapValues(r => (r.scanned, r.hits, r.tombstoned)).toMap ==
      reps.view.mapValues(r => (r.scanned, r.hits, r.tombstoned)).toMap)
    assert(TakedownLog.read(spark, s"$dir/tdlog").count() == ledgerN)
  }

  test("the retro loops' funnel rows promote into the committed rollup next to the admission loops (C88)") {
    import spark.implicits._
    import graft.operators.RollupIndex
    val dir = tmp("promote")
    // one admission-loop row set and one retro row set in the same ledger
    AdmissionLog.append(spark, s"$dir/funnel", "curation", 0L,
      Seq("1_arrived" -> 10L, "4_admitted" -> 7L))
    AdmissionLog.append(spark, s"$dir/funnel", "media_registry_img", 1L,
      Seq("1_scanned" -> 40L, "2_hits" -> 2L, "3_tombstoned" -> 2L))
    AdmissionLog.promoteRollup(spark, s"$dir/funnel", s"$dir/rollup")
    val committed = AdmissionLog.readRollup(spark, s"$dir/rollup")
      .select("loop", "stage", "total").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(committed == Set(
      ("curation", "1_arrived", 10L), ("curation", "4_admitted", 7L),
      ("media_registry_img", "1_scanned", 40L),
      ("media_registry_img", "2_hits", 2L),
      ("media_registry_img", "3_tombstoned", 2L)),
      s"committed rollup: $committed")
  }

  test("kill-point sweep: the media retro job converges from a kill at every durable-effect boundary (r13)") {
    import spark.implicits._
    def job(dir: String): Unit = {
      MediaRegistry.retroTakedown(spark, s"$dir/corpus", s"$dir/registry",
        "img", "mretro-ks", indexPath = Some(s"$dir/index"),
        logPath = Some(s"$dir/tdlog"), funnelLogPath = Some(s"$dir/funnel"),
        funnelBatchId = 1L, asOfUs = 50L)
    }
    def state(dir: String) = (
      Corpus.read(spark, s"$dir/corpus", idCol = "media_id")
        .select("media_id").collect().map(_.getLong(0)).toSet,
      MediaIndex.serve(
        ImageDedup.imageCorpus(Seq(201L).toDF("doc_id"))
          .withColumnRenamed("doc_id", "media_id"), s"$dir/index", "img")
        .filter(col("doc_id") === 1L).count(),
      TakedownLog.read(spark, s"$dir/tdlog")
        .select("subTable", "job_id").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq,
      AdmissionLog.rollup(spark, s"$dir/funnel")
        .filter(col("loop") === "media_registry_img").collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("total")))
        .sorted.toSeq)
    val dc = tmp("ks-clean"); plant(dc); job(dc)
    val ref = state(dc)
    assert(ref._1 == (3L to 40L).toSet && ref._2 == 0L &&
      ref._3.map(_._1) == Seq("_tombstones", "img"), s"clean premise: $ref")
    job(dc)
    assert(state(dc) == ref, "a replayed COMPLETE job must change nothing")
    val dp = tmp("ks-probe"); plant(dp)
    graft.FailPoint.record(dp); job(dp)
    val nB = graft.FailPoint.count
    graft.FailPoint.reset()
    // tombstone upsert + img sub-table rewrite + index group publish +
    // ledger filing + funnel filing
    assert(nB == 5, s"expected 5 durable-effect boundaries, saw $nB")
    assert(state(dp) == ref, "the probe run is itself a clean run")
    for (k <- 1 to nB) {
      val d = tmp(s"ks-$k"); plant(d)
      graft.FailPoint.arm(d, k)
      val killed =
        try { job(d); false }
        catch { case _: graft.FailPoint.Killed => true }
        finally graft.FailPoint.reset()
      assert(killed, s"boundary $k must fire")
      job(d)
      assert(state(d) == ref,
        s"kill at boundary $k/$nB must replay to the clean job's state")
    }
  }
}
