package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AudioDedup, DedupIndex, EvalRegistry, ImageDedup, MediaIndex, TakedownReceipt}
import graft.sources.Sinks.VersionedTable

/** Takedown receipts (r11): every retract/unregister returns compliance
  * evidence assembled from the artifact's own manifests — pinned here
  * against independently-read manifest deltas, including the not-found
  * id, the true no-op (no version bump), and the legacy full-rewrite
  * branch.
  */
class TakedownSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-takedown-$tag").toString

  private def manifest(sub: String): (Long, Map[Int, String]) =
    VersionedTable.latestManifest(spark, sub).get

  test("media takedown receipts report the manifest delta: found vs not-found ids, per sub-table") {
    import spark.implicits._
    val path = tmp("media")
    MediaIndex.build(
      ImageDedup.imageCorpus(Seq(1L, 2L, 3L).toDF("doc_id")), path, "img")
    MediaIndex.build(
      AudioDedup.audioCorpus(Seq(10L).toDF("doc_id")), path, "aud")
    val imgBefore = manifest(s"$path/img")
    val audBefore = manifest(s"$path/aud")
    // id 1 lives in img only; 99 is nowhere — one receipt per sub-table
    val receipts = MediaIndex.retract(spark, path, Seq(1L, 99L))
    assert(receipts.map(_.subTable).sorted == Seq("aud", "img"))
    val img = receipts.find(_.subTable == "img").get
    val aud = receipts.find(_.subTable == "aud").get
    for (r <- receipts) {
      assert(r.artifact == path && r.idsRequested == 2L && r.pruned,
        s"receipt header wrong: $r")
    }
    assert(img.idsFound == 1L, s"img held id 1: $img")
    assert(aud.idsFound == 0L, s"aud held neither id: $aud")
    // receipts vs the ACTUAL manifest delta, read independently
    for ((r, before, sub) <- Seq((img, imgBefore, s"$path/img"),
      (aud, audBefore, s"$path/aud"))) {
      val after = manifest(sub)
      assert(r.oldVersion == before._1 && r.newVersion == after._1,
        s"receipt versions must bracket the rewrite: $r vs ${before._1}->${after._1}")
      val delta = after._2.count { case (b, rel) => !before._2.get(b).contains(rel) } +
        (before._2.keySet -- after._2.keySet).size
      assert(r.bucketsRewritten == delta,
        s"receipt bucket count must equal the manifest delta: $r vs $delta")
    }
    // the found id really is gone; idempotent replay reports found = 0
    assert(!MediaIndex.loadFps(spark, path, "img")
      .collect().map(_.getLong(0)).contains(1L))
    val replay = MediaIndex.retract(spark, path, Seq(1L, 99L))
    assert(replay.forall(_.idsFound == 0L), s"replay must find nothing: $replay")
  }

  test("a takedown hitting only never-written buckets is a true no-op: no version bump, zero buckets in the receipt") {
    import spark.implicits._
    val path = tmp("noop")
    // one committed doc -> exactly one written bucket of 16
    MediaIndex.build(AudioDedup.audioCorpus(Seq(10L).toDF("doc_id")), path, "aud")
    val nb = VersionedTable.storedNumBuckets(spark, s"$path/aud").getOrElse(16)
    def bucketOf(id: Long): Int = spark.range(1)
      .select(pmod(hash(lit(id)), lit(nb)).as("b")).head().getInt(0)
    val occupied = bucketOf(10L)
    val absent = (100L to 200L).find(bucketOf(_) != occupied).get
    val before = manifest(s"$path/aud")
    val Seq(r) = MediaIndex.retract(spark, path, Seq(absent))
    val after = manifest(s"$path/aud")
    assert(after == before, "no buckets touched => the manifest must not move")
    assert(r.oldVersion == r.newVersion && r.bucketsRewritten == 0 &&
      r.idsFound == 0L && r.pruned,
      s"true no-op receipt must show an unmoved version and zero work: $r")
  }

  test("legacy sub-table (no bucket contract) takes the full rewrite and the receipt says so") {
    import spark.implicits._
    val path = tmp("legacy")
    MediaIndex.build(
      ImageDedup.imageCorpus(Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")), path, "img")
    // fabricate the legacy state: strip the recorded contract from the
    // latest commit (the SinksSpec r10 recipe)
    val cdir = new java.io.File(s"$path/img/_commits")
    val mf = cdir.listFiles().filter(_.getName.endsWith(".json"))
      .maxBy(_.getName)
    java.nio.file.Files.writeString(mf.toPath,
      java.nio.file.Files.readString(mf.toPath)
        .replaceAll("\"bucketCols\":\"[^\"]*\",", ""))
    assert(VersionedTable.storedBucketKeys(spark, s"$path/img").isEmpty)
    val before = manifest(s"$path/img")
    val Seq(r) = MediaIndex.retract(spark, path, Seq(2L))
    val after = manifest(s"$path/img")
    assert(!r.pruned, s"contract-less table must take the legacy branch: $r")
    assert(r.idsFound == 1L && r.oldVersion == before._1 && r.newVersion == after._1)
    // replaceAll rewrites every written bucket — the receipt's delta
    // must equal the independently-computed one (all of them)
    val delta = after._2.count { case (b, rel) => !before._2.get(b).contains(rel) } +
      (before._2.keySet -- after._2.keySet).size
    assert(r.bucketsRewritten == delta && delta >= before._2.size,
      s"legacy rewrite touches the whole table: $r vs $delta of ${before._2.size}")
    assert(!MediaIndex.loadFps(spark, path, "img")
      .collect().map(_.getLong(0)).contains(2L), "the takedown itself still lands")
  }

  test("eval-registry unregister receipt: suite row count found, idempotent replay finds zero") {
    import spark.implicits._
    val path = tmp("registry")
    val docsA = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val docsB = Seq((2L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    EvalRegistry.register(docsA, path, suite = "suiteA")
    EvalRegistry.register(docsB, path, suite = "suiteB")
    val bRows = VersionedTable.read(spark, s"$path/eval_shingles")
      .filter(col("suite") === "suiteB").count()
    assert(bRows > 0L)
    val before = manifest(s"$path/eval_shingles")
    val Seq(r) = EvalRegistry.unregister(spark, path, "suiteB")
    val after = manifest(s"$path/eval_shingles")
    assert(r.subTable == "eval_shingles" && r.idsRequested == 1L && r.pruned)
    assert(r.idsFound == bRows,
      s"receipt must count the suite's actual fingerprint rows: $r vs $bRows")
    assert(r.oldVersion == before._1 && r.newVersion == after._1)
    val delta = after._2.count { case (b, rel) => !before._2.get(b).contains(rel) } +
      (before._2.keySet -- after._2.keySet).size
    assert(r.bucketsRewritten == delta)
    // retiring an already-retired suite: the receipt evidences the no-op
    val Seq(replay) = EvalRegistry.unregister(spark, path, "suiteB")
    assert(replay.idsFound == 0L, s"replay must find nothing: $replay")
  }

  /** Runs `op` and returns its value, the Spark jobs it submitted, and
    * per sub-table name what its receipt must say, read independently
    * of it: (rows `hit` matches in the pre-op snapshot, buckets whose
    * dir changed or vanished, old version, new version). */
  private def bracketed[T](subs: Seq[(String, String)], hit: org.apache.spark.sql.Column)
                          (op: => T): (T, Int, Map[String, (Long, Int, Long, Long)]) = {
    val before = subs.map { case (name, sub) =>
      (name, sub, manifest(sub), VersionedTable.read(spark, sub).filter(hit).count())
    }
    val (out, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(op)
    val expected = before.map { case (name, sub, (v0, m0), found) =>
      val (v1, m1) = manifest(sub)
      val delta = m1.count { case (b, rel) => !m0.get(b).contains(rel) } +
        (m0.keySet -- m1.keySet).size
      name -> ((found, delta, v0, v1))
    }.toMap
    (out, jobs, expected)
  }

  private def fields(rs: Seq[TakedownReceipt]): Map[String, (Long, Int, Long, Long)] =
    rs.map(r => r.subTable -> ((r.idsFound, r.bucketsRewritten, r.oldVersion, r.newVersion))).toMap

  test("dedup, media and eval-registry takedowns run one write per sub-table; receipts equal the independently read counts and manifest deltas") {
    import spark.implicits._
    // a write under AQE is two jobs: its repartition's shuffle stage and
    // the write itself; nothing else of the takedown may submit one
    val dPath = tmp("dedup-jobs")
    val docs = (1L to 40L).map(i =>
      (i, s"post $i on topic ${i % 7}: " + (0 until 12).map(w => s"w${(i * 31 + w * 7) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    DedupIndex.build(docs, dPath)
    val docIds = Seq(1L, 2L, 3L, -5L)
    val dSubs = Seq("fps", "sigs", "bands").map(n => n -> s"$dPath/$n")
    val (dReceipts, dJobs, dExpected) =
      bracketed(dSubs, col("doc_id").isInCollection(docIds)) {
        DedupIndex.retract(spark, dPath, docIds)
      }
    assert(dReceipts.forall(r => r.pruned && r.idsRequested == 4L), dReceipts)
    assert(fields(dReceipts) == dExpected)
    assert(dReceipts.forall(_.idsFound > 0L), dReceipts)
    assert(dJobs <= 2 * dSubs.size, s"dedup takedown ran $dJobs jobs over ${dSubs.size} sub-tables")

    val mPath = tmp("media-jobs")
    MediaIndex.build(
      ImageDedup.imageCorpus(Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")), mPath, "img")
    MediaIndex.build(AudioDedup.audioCorpus(Seq(10L, 11L).toDF("doc_id")), mPath, "aud")
    val mIds = Seq(2L, 5L, 10L, 99L)
    val mSubs = Seq("img", "aud").map(n => n -> s"$mPath/$n")
    val (mReceipts, mJobs, mExpected) =
      bracketed(mSubs, col("doc_id").isInCollection(mIds)) {
        MediaIndex.retract(spark, mPath, mIds)
      }
    assert(fields(mReceipts) == mExpected)
    assert(mExpected("img")._1 == 2L && mExpected("aud")._1 == 1L, mExpected)
    assert(mJobs <= 2 * mSubs.size, s"media takedown ran $mJobs jobs over ${mSubs.size} sub-tables")

    val rPath = tmp("registry-jobs")
    for ((text, suite) <- Seq(("alpha beta gamma delta epsilon zeta eta theta", "suiteA"),
      ("one two three four five six seven eight nine", "suiteB"))) {
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      EvalRegistry.register(docs, rPath, suite = suite)
      EvalRegistry.registerNear(docs, rPath, suite = suite)
    }
    val rSubs = Seq("eval_shingles", "eval_shingles_w3", "eval_bands").map(n => n -> s"$rPath/$n")
    val (rReceipts, rJobs, rExpected) =
      bracketed(rSubs, col("suite") === "suiteB") {
        EvalRegistry.unregister(spark, rPath, "suiteB")
      }
    assert(rReceipts.map(_.subTable) == rSubs.map(_._1), rReceipts)
    assert(rReceipts.forall(r => r.pruned && r.idsRequested == 1L && r.idsFound > 0L), rReceipts)
    assert(fields(rReceipts) == rExpected)
    assert(rJobs <= 2 * rSubs.size, s"registry unregister ran $rJobs jobs over ${rSubs.size} lenses")
  }

  test("unregister retires a suite from every lens: near and LSH verdicts fall back to the remaining suite's, a replay finds nothing") {
    import spark.implicits._
    def words(seed: Int) = (0 until 14).map(w => s"t${(seed * 37 + w * 11) % 211}").mkString(" ")
    val suiteA = Seq((1L, words(1)), (2L, words(2))).toDF("doc_id", "text")
    val suiteB = Seq((3L, words(3)), (4L, words(4))).toDF("doc_id", "text")
    def registered(path: String, suites: Seq[(org.apache.spark.sql.DataFrame, String)]): String = {
      suites.foreach { case (docs, s) =>
        EvalRegistry.register(docs, path, suite = s)
        EvalRegistry.registerNear(docs, path, suite = s)
      }
      path
    }
    val path = registered(tmp("retire"), Seq(suiteA -> "suiteA", suiteB -> "suiteB"))
    val onlyA = registered(tmp("retire-ref"), Seq(suiteA -> "suiteA"))
    // probes: both suites' docs verbatim, plus a novel doc
    val probes = suiteA.unionByName(suiteB)
      .unionByName(Seq((9L, words(50))).toDF("doc_id", "text"))
    def verdicts(p: String) = (
      EvalRegistry.decontaminate(probes, EvalRegistry.load(spark, p)).collect().toSeq,
      EvalRegistry.decontaminateNear(probes, EvalRegistry.loadNear(spark, p)).collect().toSeq,
      EvalRegistry.decontaminateNearLsh(probes, EvalRegistry.loadBands(spark, p)).collect().toSeq)
      .productIterator.map(_.asInstanceOf[Seq[org.apache.spark.sql.Row]]
        .map(r => r.getLong(0) -> r.getBoolean(r.length - 1)).sorted).toSeq
    val before = verdicts(path)
    assert(before.forall(_.filterNot(_._2).map(_._1) == Seq(1L, 2L, 3L, 4L)),
      s"premise: every lens flags both suites' docs: $before")
    EvalRegistry.unregister(spark, path, "suiteB")
    val after = verdicts(path)
    assert(after == verdicts(onlyA),
      s"after retiring suiteB every lens must give the suiteA-only verdicts: $after")
    assert(after.forall(_.filterNot(_._2).map(_._1) == Seq(1L, 2L)), after)
    val replay = EvalRegistry.unregister(spark, path, "suiteB")
    assert(replay.size == 3 && replay.forall(_.idsFound == 0L),
      s"a replayed unregister must find nothing in any lens: $replay")
  }

  test("a takedown on a path with no committed content sub-table refuses up front and writes nothing") {
    import graft.operators.AnnIndex
    val cases: Seq[(String, (String, Seq[Long]) => Seq[TakedownReceipt])] = Seq(
      "DedupIndex" -> ((p, ids) => DedupIndex.retract(spark, p, ids)),
      "AnnIndex" -> ((p, ids) => AnnIndex.retract(spark, p, ids)),
      "MediaIndex" -> ((p, ids) => MediaIndex.retract(spark, p, ids)))
    def refused(name: String, dir: String, run: => Seq[TakedownReceipt]): String = {
      graft.FailPoint.record(dir)
      val (err, boundaries) =
        try (intercept[IllegalArgumentException](run), graft.FailPoint.count)
        finally graft.FailPoint.reset()
      assert(boundaries == 0, s"$name reached $boundaries commit boundaries before refusing")
      assert(err.getMessage.contains(s"$name.retract"),
        s"the refusal must name the artifact: ${err.getMessage}")
      err.getMessage
    }
    for ((name, retract) <- cases; ids <- Seq(Seq(1L), Seq.empty[Long])) {
      val dir = tmp(s"typo-$name")
      val msg = refused(name, dir, retract(dir, ids))
      assert(ids.isEmpty || msg.contains(dir), s"the refusal must name the path: $msg")
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filterNot(_ == dir).toSeq
      assert(written.isEmpty, s"$name wrote under a refused path: $written")
    }
    // an empty list refuses before AnnIndex heals a completed-but-
    // unsnapshotted rebuild (the heal is a snapshot publish)
    val ann = tmp("typo-heal")
    AnnIndex.build(spark.range(300).select(col("id").as("vec_id"),
      array((1 to 64).map(j => sin(col("id") * j).cast("float")): _*).as("embedding")), ann)
    for (sub <- Seq("codebooks", "codes")) {
      val keys = if (sub == "codes") Seq("vec_id") else Seq("kind", "c_id")
      VersionedTable.mergeUpsert(spark, s"$ann/$sub", VersionedTable.read(spark, s"$ann/$sub")
        .drop("bucket").withColumn("build_v", lit(9L)), keys, "build_v",
        numBuckets = if (sub == "codes") 16 else 4)
    }
    val group = VersionedTable.latestGroup(spark, ann).get._1
    assert(VersionedTable.latestManifest(spark, s"$ann/codebooks").get._1 >
      VersionedTable.latestGroup(spark, ann).get._2("codebooks"),
      "premise: the raw codebooks are ahead of the snapshot's pin")
    refused("AnnIndex", ann, AnnIndex.retract(spark, ann, Seq.empty))
    assert(VersionedTable.latestGroup(spark, ann).get._1 == group,
      "a refused takedown must not publish the heal's snapshot")
  }

  test("a receipt counts what the committed attempt removed: a row merged mid-takedown is dropped and counted") {
    import spark.implicits._
    val path = tmp("race")
    MediaIndex.build(AudioDedup.audioCorpus(Seq(10L, 11L).toDF("doc_id")), path, "aud")
    val aud = s"$path/aud"
    // id 12 is requested but absent when the takedown starts; a
    // concurrent extend commits it before the takedown's first publish
    // attempt, which then loses the version race and refolds
    val row12 = VersionedTable.read(spark, aud).filter(col("doc_id") === 10L)
      .drop("bucket").withColumn("doc_id", lit(12L)).collect()
    val schema = VersionedTable.read(spark, aud).drop("bucket").schema
    val first = manifest(aud)._1
    VersionedTable.beforePublishHook = () => {
      VersionedTable.beforePublishHook = () => () // one-shot
      VersionedTable.mergeUpsert(spark, aud,
        spark.createDataFrame(java.util.Arrays.asList(row12: _*), schema),
        Seq("doc_id"), "build_v", numBuckets = 16)
    }
    val Seq(r) = try MediaIndex.retract(spark, path, Seq(10L, 12L))
      finally VersionedTable.beforePublishHook = () => ()
    assert(r.oldVersion == first + 1L,
      s"the receipt must name the base the committed attempt folded: $r")
    assert(r.newVersion == first + 2L && r.newVersion == manifest(aud)._1, r)
    assert(r.idsFound == 2L, s"the concurrently merged id was removed, so it is found: $r")
    assert(VersionedTable.read(spark, aud)
      .filter(col("doc_id").isin(10L, 12L)).count() == 0L, "both ids must be gone")
    assert(VersionedTable.read(spark, aud).filter(col("doc_id") === 11L).count() == 1L)
  }

  test("takedown log files receipts append-only; two jobs accumulate, fields survive the round-trip (r11)") {
    import spark.implicits._
    import graft.operators.TakedownLog
    val path = tmp("log")
    MediaIndex.build(
      ImageDedup.imageCorpus(Seq(1L, 2L, 3L).toDF("doc_id")), path, "img")
    val log = s"$path/takedown_log"
    val r1 = MediaIndex.retract(spark, path, Seq(1L))
    TakedownLog.append(spark, log, r1, asOfUs = 1000L, jobId = "job-1")
    val r2 = MediaIndex.retract(spark, path, Seq(2L, 99L))
    TakedownLog.append(spark, log, r2, asOfUs = 2000L, jobId = "job-2")
    // a crashed-and-rerun compliance job must NOT double-file: same
    // jobId, no new rows (the rollup-ledger replay discipline)
    TakedownLog.append(spark, log, r2, asOfUs = 2000L, jobId = "job-2")
    assert(TakedownLog.filedJobs(spark, log) == Set("job-1", "job-2"))
    val filed = TakedownLog.read(spark, log).collect()
      .map(r => (r.getAs[Long]("as_of_us"), r.getAs[String]("subTable"),
        r.getAs[Long]("idsRequested"), r.getAs[Long]("idsFound"),
        r.getAs[Int]("bucketsRewritten"), r.getAs[Long]("oldVersion"),
        r.getAs[Long]("newVersion"), r.getAs[Boolean]("pruned"))).toSet
    val expect = (r1.map(r => (1000L, r.subTable, r.idsRequested, r.idsFound,
      r.bucketsRewritten, r.oldVersion, r.newVersion, r.pruned)) ++
      r2.map(r => (2000L, r.subTable, r.idsRequested, r.idsFound,
        r.bucketsRewritten, r.oldVersion, r.newVersion, r.pruned))).toSet
    assert(filed == expect,
      s"the filed ledger must equal the returned receipts: $filed vs $expect")
    // the second filing did not rewrite the first (append-only evidence)
    assert(filed.count(_._1 == 1000L) == r1.size)
  }
  test("kill-point sweep: a takedown job (retract + ledger filing) converges from a kill at every commit boundary (r12)") {
    import spark.implicits._
    import graft.operators.{DedupIndex, TakedownLog}
    // one compliance JOB = retract three docs from the dedup artifact
    // (fps/sigs/bands bucket rewrites + the root-snapshot publish) and
    // file the receipts under a jobId — five durable-effect boundaries
    val corpus = (1L to 12L)
      .map(i => (i, s"document number $i with its own words token$i"))
      .toDF("doc_id", "text")
    val victims = Seq(2L, 5L, 9L)
    def setup(dir: String): Unit = DedupIndex.build(corpus, s"$dir/index")
    def job(dir: String): Unit = {
      val receipts = DedupIndex.retract(spark, s"$dir/index", victims)
      TakedownLog.append(spark, s"$dir/tdlog", receipts, asOfUs = 1L,
        jobId = "takedown-1")
    }
    // dir-independent converged state: retracted docs probe as new,
    // survivors still exact; the ledger holds EXACTLY ONE filing for
    // the job (the jobId replay guard), one row per sub-table; the
    // root snapshot is healthy (no fallen-forward pins)
    def state(dir: String) = (
      DedupIndex.serve(
        corpus.select((col("doc_id") + 100L).as("doc_id"), col("text")),
        s"$dir/index").collect()
        .map(r => (r.getLong(0) - 100L, r.getString(1))).toMap,
      TakedownLog.read(spark, s"$dir/tdlog")
        .select("subTable", "job_id").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq,
      graft.operators.Artifacts.snapshotHealth(spark, dir)
        .forall(_.fallenForward.isEmpty))
    def newDir() = java.nio.file.Files.createTempDirectory("graft-ks-td").toString
    val dc = newDir(); setup(dc); job(dc)
    val ref = state(dc)
    assert(victims.forall(v => ref._1(v) == "new") &&
      ref._1(1L) == "exact" && ref._2.map(_._1) == Seq("bands", "fps", "sigs"),
      s"clean premise: $ref")
    // a second run of the complete job is a pure no-op (idempotent
    // retract + jobId guard)
    job(dc)
    assert(state(dc) == ref, "a replayed COMPLETE job must change nothing")
    val dp = newDir(); setup(dp)
    graft.FailPoint.record(dp); job(dp)
    val nB = graft.FailPoint.count
    graft.FailPoint.reset()
    // fps/sigs/bands bucket rewrites + group publish + ledger filing
    assert(nB == 5, s"expected 5 commit boundaries in the takedown job, saw $nB")
    assert(state(dp) == ref, "the probe run is itself a clean run")
    for (k <- 1 to nB) {
      val d = newDir(); setup(d)
      graft.FailPoint.arm(d, k)
      val killed =
        try { job(d); false }
        catch { case _: graft.FailPoint.Killed => true }
        finally graft.FailPoint.reset()
      assert(killed, s"boundary $k must fire")
      job(d) // the compliance job reruns after the crash
      val got = state(d)
      // receipts' numeric fields legitimately differ by kill point (a
      // rerun finds fewer rows to drop) — the STABLE evidence is which
      // sub-tables filed under which job, exactly once
      assert(got._1 == ref._1 && got._2 == ref._2 && got._3,
        s"kill at boundary $k/$nB must replay to the clean job's state: $got")
    }
  }
}
