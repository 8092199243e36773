package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Embeddings}
import graft.sources.{Sinks, Tables}
import graft.streaming.EventStream

/** The committed ANN index artifact: build → commit → serve must equal
  * the in-session training path, rebuilds must version transactionally,
  * and the streaming serve path must answer from the committed artifact
  * across micro-batches without training anything.
  */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"
  lazy val tmp: String = java.nio.file.Files.createTempDirectory("graft_annix").toString

  override def afterAll(): Unit = spark.stop()

  test("serve from the committed index == annIvfPq end to end") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_eq"
    AnnIndex.build(emb, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getInt(3))).toSet
    val served = rows(AnnIndex.serve(emb, path))
    val trained = rows(Embeddings.annIvfPq(emb))
    assert(served == trained,
      s"served-from-artifact must equal trained-in-session; diff=${(served diff trained) ++ (trained diff served)}")
  }

  test("hard negatives served from the committed index == in-session IVF-PQ band mining") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_neg"
    AnnIndex.build(emb, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getInt(3))).toSet
    val served = AnnIndex.serveHardNegatives(emb, path)
    val servedRows = served.collect()
    assert(servedRows.nonEmpty, "the band must be populated at sf0.001")
    // band + self-exclusion invariants on every served negative
    servedRows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self can never be a negative")
      val cos = r.getDouble(2)
      assert(cos >= Embeddings.NegLo && cos < Embeddings.NegHi,
        s"cos $cos escaped the semi-hard band")
    }
    assert(rows(served) == rows(Embeddings.annHardNegatives(emb)),
      "artifact-served negatives must equal the in-session IVF-PQ band mining")
    // subset of the brute band pairs: same exact cosine, shortlist ⊆ all
    // k = corpus size: the heap keeps every band member per probe
    val brute = Embeddings.hardNegatives(emb, k = emb.count().toInt).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    servedRows.foreach(r => assert(brute.contains((r.getLong(0), r.getLong(1))),
      "a served negative must exist in the brute-force band set"))
  }

  test("rebuilds commit as new versions; the artifact tables are versioned and intact") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_v"
    AnnIndex.build(emb, path, buildV = 0L)
    AnnIndex.build(emb, path, buildV = 1L)
    val (v, _) = Sinks.VersionedTable.latestManifest(spark, s"$path/codes").get
    assert(v == 1L, s"second build must commit a second version, got $v")
    // same corpus -> identical deterministic index either version
    val v0 = Sinks.VersionedTable.read(spark, s"$path/codes", Some(0L))
      .select("vec_id", "c_id", "code_0", "code_1", "code_2", "code_3")
      .collect().map(_.toSeq).toSet
    val v1 = AnnIndex.codes(spark, path).collect().map(_.toSeq).toSet
    assert(v0 == v1, "idempotent rebuild: code tables must match across versions")
    // codebooks artifact is the constant-size model, not data-proportional
    val cbRows = Sinks.VersionedTable.read(spark, s"$path/codebooks").count()
    assert(cbRows == (1 + Embeddings.PqM) * Embeddings.NumCentroids,
      s"codebooks table must stay (1+PqM)*NumCentroids rows, got $cbRows")
  }

  test("build over a shard missing k-means init ids refuses before committing anything") {
    // ids 8..71 hold only half of the init ids 0..15: training on them
    // would commit a codebook with c_ids 8..15 that no load accepts
    val shard = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 8L && col("vec_id") < 72L)
    val path = s"$tmp/ix_shard"
    val err = intercept[IllegalArgumentException] {
      AnnIndex.build(shard, path, storeVectors = true)
    }
    assert(err.getMessage.contains("missing vec_ids 0, 1, 2, 3, 4, 5, 6, 7"),
      err.getMessage)
    def commitDirs(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else if (f.getName.endsWith("_commits")) Seq(f)
      else f.listFiles.toSeq.flatMap(commitDirs)
    assert(commitDirs(new java.io.File(path)).isEmpty,
      s"a refused build must leave no commit under $path")
    GraftCache.releaseAll(spark)
  }

  test("takedown: retracted vectors stop serving (plain + hard negatives), bucket-pruned, parity with full rewrite (r10)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_rt"
    AnnIndex.build(emb, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getInt(3))).toSet
    val before = AnnIndex.serve(emb, path).collect()
    assert(before.nonEmpty)
    // take down the two most-served neighbors — removal must be visible
    val takedown = before.map(_.getLong(1)).groupBy(identity)
      .toSeq.sortBy { case (id, g) => (-g.length, id) }.take(2).map(_._1)
    val mBefore = Sinks.VersionedTable.latestManifest(spark, s"$path/codes").get._2
    val Seq(receipt) = AnnIndex.retract(spark, path, takedown)
    val mAfter = Sinks.VersionedTable.latestManifest(spark, s"$path/codes").get._2
    val rewritten = (mBefore.keySet ++ mAfter.keySet)
      .count(b => mBefore.get(b) != mAfter.get(b))
    assert(rewritten <= takedown.size && rewritten >= 1,
      s"2-vec takedown rewrote $rewritten of ${mBefore.size} code buckets")
    // r11 receipt: what the compliance job files must equal the delta
    assert(receipt.subTable == "codes" && receipt.pruned &&
      receipt.bucketsRewritten == rewritten &&
      receipt.idsRequested == takedown.size.toLong &&
      receipt.idsFound == takedown.size.toLong &&
      receipt.newVersion == receipt.oldVersion + 1L,
      s"retract receipt must evidence the rewrite: $receipt")
    // removed content is no longer servable — by EITHER reader of the
    // candidate core
    val served = AnnIndex.serve(emb, path).collect()
    assert(!served.exists(r => takedown.contains(r.getLong(1))),
      "a retracted vector was served as a neighbor")
    assert(!AnnIndex.serveHardNegatives(emb, path).collect()
      .exists(r => takedown.contains(r.getLong(1))),
      "a retracted vector was mined as a hard negative")
    // codebooks untouched: the model artifact is not content
    assert(Sinks.VersionedTable.read(spark, s"$path/codebooks").count() ==
      (1 + Embeddings.PqM) * Embeddings.NumCentroids)
    // verdict parity with an unpruned full-snapshot rewrite of a twin
    val twin = s"$tmp/ix_rt_all"
    AnnIndex.build(emb, twin)
    Sinks.VersionedTable.replaceAll(spark, s"$twin/codes", Seq("vec_id")) { snap =>
      snap.filter(!col("vec_id").isInCollection(takedown.toSet))
    }
    // the raw replaceAll bypassed the artifact's root snapshot — refresh
    // it, as any real mutator does (readers resolve through the snapshot)
    AnnIndex.layout.publish(spark, twin)
    assert(rows(AnnIndex.serve(emb, path)) == rows(AnnIndex.serve(emb, twin)),
      "bucket-pruned retract must serve identically to the full rewrite")
    // idempotent: replaying the takedown changes nothing
    AnnIndex.retract(spark, path, takedown)
    assert(rows(AnnIndex.serve(emb, path)) == rows(AnnIndex.serve(emb, twin)))
  }

  test("a 4-id retract runs at most two jobs per sub-table: its rewrite's shuffle and write") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_rt_jobs"
    AnnIndex.build(emb, path, storeVectors = true)
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted.slice(20, 24).toSeq
    val (receipts, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      AnnIndex.retract(spark, path, ids)
    }
    assert(receipts.map(_.subTable) == Seq("codes", "vectors"))
    assert(receipts.forall(r => r.pruned && r.idsFound == 4L &&
      r.newVersion == r.oldVersion + 1L), receipts)
    assert(jobs <= 2 * receipts.size, s"4-id retract ran $jobs jobs over ${receipts.size} sub-tables")
    assert(AnnIndex.codes(spark, path).filter(col("vec_id").isin(ids: _*)).count() == 0L)
    assert(AnnIndex.vectors(spark, path).filter(col("vec_id").isin(ids: _*)).count() == 0L)
  }

  test("extend: new vectors encode with the COMMITTED codebooks, serve, and retract back out byte-identically (r11)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_ext"
    // seed index on the id-prefix half (k-means init needs the first
    // NumCentroids ids present); the tail arrives as a later crawl
    val cut = 400L
    val seedEmb = emb.filter(col("vec_id") < cut)
    val newEmb = emb.filter(col("vec_id") >= cut)
    assert(newEmb.count() > 0, "need a non-empty extension crawl")
    AnnIndex.build(seedEmb, path)
    def served() = AnnIndex.serve(emb, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val before = served()
    assert(!before.exists(_._2 >= cut), "extension ids must not serve yet")
    AnnIndex.extend(newEmb, path, buildV = 1L)
    // the merged codes == what the committed codebooks assign the union
    // (codebooks FROZEN — extend must never retrain the quantizer)
    val (coarseDf, cbs) = AnnIndex.loadCodebookFrames(spark, path)
    val qAll = Embeddings.quantized(emb)
    val expect = Embeddings.ivfAssign(qAll, coarseDf)
      .join(Embeddings.pqEncode(qAll, cbs), "vec_id")
      .collect().map(_.toSeq).toSet
    val got = AnnIndex.codes(spark, path).collect().map(_.toSeq).toSet
    assert(got == expect,
      "extended codes must equal the committed codebooks' assignment of the union")
    // new vectors now SERVE as candidates
    val after = served()
    assert(after.exists(_._2 >= cut),
      "an extension vector must be servable as a neighbor")
    // replayed extend: byte-identical content (idempotent re-merge)
    AnnIndex.extend(newEmb, path, buildV = 1L)
    assert(served() == after, "a replayed extend must not change answers")
    // retract the extension: serve returns byte-identical to pre-extend
    val newIds = newEmb.select("vec_id").collect().map(_.getLong(0)).toSeq
    AnnIndex.retract(spark, path, newIds)
    assert(served() == before,
      "retracting the extension must restore the seed index's answers")
    graft.GraftCache.releaseAll(spark)
  }

  test("occupancy from the committed codes == in-session diagnostic; retract frees the slots (r11)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_occ"
    AnnIndex.build(emb, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val committed = rows(AnnIndex.occupancy(spark, path))
    val inSession = rows(Embeddings.ivfOccupancy(emb))
    assert(committed == inSession,
      "the artifact diagnostic must equal the in-session one row-for-row")
    // the takedown observable: retracting vectors drops code rows, and
    // the next occupancy read shows exactly those slots freed
    val victims = AnnIndex.codes(spark, path)
      .select("vec_id", "c_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    AnnIndex.retract(spark, path, victims.map(_._1).toSeq)
    val after = rows(AnnIndex.occupancy(spark, path)).map(t => t._1 -> t._2).toMap
    val expected = committed.map(t => t._1 -> t._2).toMap ++
      victims.groupBy(_._2).map { case (c, vs) =>
        c -> (committed.find(_._1 == c).get._2 - vs.length) }
    assert(after == expected,
      s"retract must free exactly the victims' slots: $after vs $expected")
    assert(after.values.sum == committed.map(_._2).sum - victims.length)
    graft.GraftCache.releaseAll(spark)
  }

  test("IndexRefine split: self-contained serve == corpus serve; vectors retract with codes; rebalance survives seed-id takedown (r11)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_refine"
    AnnIndex.build(emb, path, storeVectors = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getInt(3))).toSet
    val probeRows = emb.filter(col("vec_id") < Embeddings.NumProbes)
    // the split buys a serve with NO corpus frame: identical rows
    assert(rows(AnnIndex.serveWith(probeRows, path)) ==
      rows(AnnIndex.serve(emb, path)),
      "self-contained serve must equal the corpus-frame serve")
    // measured admission tau, REFUSAL branch: on this corpus the
    // 64-probe min self-ADC (0.39) sits BELOW the co-routed noise
    // ceiling (0.69) — a global ADC tau carries no signal, and the
    // measurement must refuse rather than emit one (run collision-only)
    val flat = intercept[IllegalArgumentException] {
      AnnIndex.measureAdmissionTau(spark, path)
    }
    assert(flat.getMessage.contains("no separation"), flat.getMessage)
    // separation branch: a 16-vector index has one centroid per vector
    // in every subspace (k-means init = the vectors), so reconstruction
    // is EXACT — self-ADC = 1.0 by construction, noise = the exact
    // pairwise cosine < 1; the measurement separates and commits
    val tiny = s"$tmp/ix_tau_tiny"
    AnnIndex.build(emb.filter(col("vec_id") < 16L), tiny, storeVectors = true)
    val tau = AnnIndex.commitAdmissionTau(spark, tiny, nProbes = 16)
    assert(tau > 0.0 && tau < 1.0, s"tau $tau must sit inside the ADC range")
    assert(AnnIndex.loadAdmissionTau(spark, tiny) == math.round(tau * 1e6) / 1e6,
      "committed tau must round-trip through the fixed-point exactly")
    // at the measured tau, every committed vector re-probed as an
    // arrival MATCHES (self-ADC >= tau by construction of the midpoint)
    val reprobe = AnnIndex.vectors(spark, tiny).orderBy("vec_id").limit(8)
    assert(AnnIndex.matchedIds(reprobe, tiny,
        AnnIndex.loadAdmissionTau(spark, tiny)).count() == 8L,
      "a committed vector must match itself at the measured tau")
    // the tau binds to the codebooks it measured: after a rebalance the
    // ADC scale shifts, and the stale operating point must refuse
    assert(AnnIndex.rebalance(spark, tiny, buildV = 1L, maxLoadPct = 0L))
    val stale = intercept[IllegalArgumentException] {
      AnnIndex.loadAdmissionTau(spark, tiny)
    }
    assert(stale.getMessage.contains("re-run commitAdmissionTau"), stale.getMessage)
    // takedown completeness: the exact vectors are content in the
    // strongest sense — retract must drop BOTH sub-tables
    val victims = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val receipts = AnnIndex.retract(spark, path, victims)
    assert(receipts.map(_.subTable).sorted == Seq("codes", "vectors"),
      s"one receipt per sub-table: $receipts")
    assert(receipts.forall(r => r.idsFound == victims.size.toLong && r.pruned))
    assert(AnnIndex.vectors(spark, path).filter(
      col("vec_id").isInCollection(victims.toSet)).count() == 0)
    // occupancy-triggered rebalance: forced (bar 0), and the k-means
    // seed ids 0..5 are GONE — the dense-init remap must still produce
    // contiguous committed c_ids or every loader breaks
    assert(AnnIndex.rebalance(spark, path, buildV = 5L, maxLoadPct = 0L))
    val occ = AnnIndex.occupancy(spark, path).collect()
    assert(occ.map(_.getLong(0)).sorted.toSeq ==
      (0L until Embeddings.NumCentroids.toLong).toSeq,
      "rebalanced c_ids must stay contiguous despite retracted seed ids")
    assert(occ.map(_.getLong(1)).sum == emb.count() - victims.size,
      "re-encode must cover exactly the surviving corpus")
    // below the bar: a no-op
    assert(!AnnIndex.rebalance(spark, path, buildV = 6L,
      maxLoadPct = Embeddings.NumCentroids * 100L))
    // an EXACT replay of the completed rebuild (same buildV) no-ops —
    // the restart-before-checkpoint discipline (r11)
    assert(!AnnIndex.rebalance(spark, path, buildV = 5L, maxLoadPct = 0L),
      "a replayed completed rebuild must no-op")
    // a genuinely STALE buildV would lose the latest-wins merge to prior
    // versions, silently keeping stale codes against new codebooks
    val nonMono = intercept[IllegalArgumentException] {
      AnnIndex.rebalance(spark, path, buildV = 4L, maxLoadPct = 0L)
    }
    assert(nonMono.getMessage.contains("must exceed"), nonMono.getMessage)
    // the rebuilt index still serves: k rows per probe, retracted
    // content still excluded
    val served = AnnIndex.serveWith(probeRows, path).collect()
    assert(served.nonEmpty &&
      !served.exists(r => victims.contains(r.getLong(1))),
      "a retracted vector must not resurface through the rebalance")
    graft.GraftCache.releaseAll(spark)
  }

  test("exact-rescore verdicts: tau separates where ADC refused, near-dups match, novel don't, survives a rebalance (r11)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_exact"
    AnnIndex.build(emb.filter(col("vec_id") < 350L), path, storeVectors = true)
    // the ADC scale REFUSES on this index (pinned by the IndexRefine
    // test: min self-ADC 0.39 < noise ceiling 0.69); the EXACT scale
    // separates — self collapses to ~1.0, noise is the true co-routed
    // max pairwise cosine
    val tau = AnnIndex.commitAdmissionTau(spark, path, exact = true)
    assert(tau > 0.5 && tau < 1.0, s"exact tau $tau must sit between the " +
      "corpus noise ceiling and the self line")
    val a = AnnIndex.loadAdmission(spark, path)
    assert(a.exact && a.tau == math.round(tau * 1e6) / 1e6)
    // verdicts at the measured tau, all through the exact branch:
    // a re-crawl, a perturbed near-dup, and a genuinely novel vector
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val perturbed = byId(5L).toArray.clone()
    // one-component bump on the unit-norm corpus: cos ~0.88 — above the
    // midpoint tau (corpus max pairwise is 0.47), below the self line
    perturbed(0) = perturbed(0) + 0.5f
    def probe(rows: Seq[(Long, Seq[Float])]) =
      Embeddings.quantized(rows.toDF("vec_id", "embedding"))
    val verdicts = AnnIndex.matchedIds(probe(Seq(
      (9000L, byId(5L)),            // exact re-crawl of committed content
      (9001L, perturbed.toSeq),     // near-dup: exact cos >= tau
      (9002L, byId(400L)))),        // novel (a tail vector the seed never saw)
      path, a.tau, exactRescore = true)
      .collect().map(_.getLong(0)).toSet
    assert(verdicts == Set(9000L, 9001L),
      s"re-crawl + near-dup must match, novel must not: $verdicts")
    // the exact tau is CODEBOOK-INDEPENDENT: a forced rebalance
    // retrains everything, and the operating point still loads and
    // still gates (an ADC tau must refuse here — also pinned above)
    assert(AnnIndex.rebalance(spark, path, buildV = 1L, maxLoadPct = 0L))
    val a2 = AnnIndex.loadAdmission(spark, path)
    assert(a2 == a, "the exact tau must survive the rebuild unchanged")
    val after = AnnIndex.matchedIds(probe(Seq(
      (9000L, byId(5L)), (9001L, perturbed.toSeq), (9002L, byId(400L)))),
      path, a2.tau, exactRescore = true)
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(9000L, 9001L),
      s"verdicts must hold across the rebuild (recall shift only): $after")
    graft.GraftCache.releaseAll(spark)
  }

  test("semDedupServe: committed semantic gate — re-crawls drop, planted near-dups drop, novel keep, committed always wins (r11)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_sem"
    AnnIndex.build(emb.filter(col("vec_id") < 350L), path, storeVectors = true)
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def nearDupOf(id: Long): Seq[Float] = { // cos ~0.98, routing-preserving
      val a = byId(id).toArray.clone(); a(0) = a(0) + 0.2f; a.toSeq
    }
    val batch = Seq(
      (9000L, byId(5L)),        // verbatim re-crawl of committed content
      (9001L, nearDupOf(7L)),   // near-dup of committed content
      (9002L, byId(400L)),      // novel (tail vector the seed never saw)
      (9003L, byId(400L)))      // within-batch dup of the earlier 9002
      .toDF("vec_id", "embedding")
    val out = AnnIndex.semDedupServe(batch, path, tau = 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(3), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    assert(out.keySet == Set(9000L, 9001L, 9002L, 9003L),
      "the gate must emit exactly the batch rows")
    assert(!out(9000L)._1 && out(9000L)._2 > 0.999,
      s"a verbatim re-crawl must drop at cos~1: ${out(9000L)}")
    assert(!out(9001L)._1 && out(9001L)._2 >= 0.9,
      s"a committed near-dup must drop: ${out(9001L)}")
    assert(out(9002L)._1, s"novel content must keep: ${out(9002L)}")
    assert(!out(9003L)._1 && out(9003L)._2 > 0.999,
      s"keep-first: a within-batch dup of an earlier id must drop: ${out(9003L)}")
    // committed ALWAYS wins, even when the batch id is smaller than the
    // committed id it duplicates (the id rule is only the oracle's
    // projection of it — the artifact contract is corpus-priority)
    val small = Seq((1L, byId(349L))).toDF("vec_id", "embedding")
    val sm = AnnIndex.semDedupServe(small, path, tau = 0.9).collect().head
    assert(!sm.getBoolean(3) && sm.getDouble(2) > 0.999,
      "a batch vector duplicating committed content must drop regardless of id order")
    // deterministic: serving the same batch twice is bit-identical
    val again = AnnIndex.semDedupServe(batch, path, tau = 0.9)
      .collect().map(r => r.toSeq).toSet
    assert(again == AnnIndex.semDedupServe(batch, path, tau = 0.9)
      .collect().map(r => r.toSeq).toSet)
    graft.GraftCache.releaseAll(spark)
  }

  test("root snapshot: readers keep the last consistent tuple through a torn rebuild; mutators heal; replayed rebalance no-ops (r11)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_snap"
    val cut = 400L
    AnnIndex.build(emb.filter(col("vec_id") < cut), path, storeVectors = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12), r.getInt(3))).toSet
    def cbManifestV() =
      Sinks.VersionedTable.latestManifest(spark, s"$path/codebooks").get._1
    val probes = emb.filter(col("vec_id") < Embeddings.NumProbes)
    // build published a root snapshot pinning every sub-table at latest
    val g0 = Sinks.VersionedTable.latestGroup(spark, path).get
    Seq("codebooks", "codes", "vectors").foreach { n =>
      assert(g0._2(n) ==
        Sinks.VersionedTable.latestManifest(spark, s"$path/$n").get._1,
        s"build's snapshot must pin $n at its latest manifest")
    }
    val before = rows(AnnIndex.serveWith(probes, path))
    // HALF rebuild (crash after the codebooks commit, before codes):
    // poison the raw codebooks sub-table directly — readers resolve
    // through the snapshot and must NOT cross the torn window
    val poisoned = Sinks.VersionedTable.read(spark, s"$path/codebooks")
      .withColumn("cqv", expr("transform(cqv, x -> x + 1000000)"))
      .withColumn("build_v", lit(99L))
    Sinks.VersionedTable.mergeUpsert(spark, s"$path/codebooks", poisoned,
      Seq("kind", "c_id"), "build_v", numBuckets = 4)
    assert(rows(AnnIndex.serveWith(probes, path)) == before,
      "a reader crossed the two-manifest window (saw half a rebuild)")
    // an extend landing AFTER the crash encodes with — and pins — the
    // OLD codebooks, so the snapshot stays a tuple a mutator produced
    AnnIndex.extend(emb.filter(col("vec_id") >= cut), path, buildV = 2L)
    val g1 = Sinks.VersionedTable.latestGroup(spark, path).get
    assert(g1._2("codebooks") == g0._2("codebooks"),
      "extend must pin the codebooks version it actually encoded with")
    assert(cbManifestV() > g1._2("codebooks"),
      "the torn window must be real: raw codebooks ahead of the pin")
    // …and the whole torn artifact serves EXACTLY like a clean twin
    val twin = s"$tmp/ix_snap_twin"
    AnnIndex.build(emb.filter(col("vec_id") < cut), twin, storeVectors = true)
    AnnIndex.extend(emb.filter(col("vec_id") >= cut), twin, buildV = 2L)
    val extended = rows(AnnIndex.serveWith(probes, path))
    assert(extended == rows(AnnIndex.serveWith(probes, twin)),
      "pinned reads must serve as if the torn half-rebuild never happened")
    // rebalance detects codebooks-ahead, retrains, and the snapshot
    // adopts the completed rebuild (poisoned centroids replaced)
    assert(AnnIndex.rebalance(spark, path, buildV = 100L,
      maxLoadPct = Embeddings.NumCentroids * 100L),
      "a torn artifact must rebuild regardless of the occupancy bar")
    val g2 = Sinks.VersionedTable.latestGroup(spark, path).get
    assert(g2._2("codebooks") == cbManifestV(),
      "the heal's snapshot must pin the retrained codebooks")
    val healed = rows(AnnIndex.serveWith(probes, path))
    assert(healed.nonEmpty)
    // REPLAY of the completed rebalance (restart before the stream
    // checkpoint committed): same buildV must no-op, never crash-loop
    assert(!AnnIndex.rebalance(spark, path, buildV = 100L, maxLoadPct = 0L),
      "an exact replay of a completed rebuild must be a no-op")
    assert(rows(AnnIndex.serveWith(probes, path)) == healed)
    // crash BETWEEN a completed rebuild and its snapshot: simulate by
    // deleting the groups the rebalance published — the next mutator
    // must ADOPT the finished rebuild before touching anything
    val gdir = new java.io.File(s"$path/_root_commits")
    gdir.listFiles().foreach { f =>
      f.getName.stripSuffix(".json").toLongOption
        .filter(v => f.getName.endsWith(".json") && v > g1._1)
        .foreach(_ => f.delete())
    }
    assert(Sinks.VersionedTable.latestGroup(spark, path).get._1 == g1._1)
    assert(rows(AnnIndex.serveWith(probes, path)) == extended,
      "with the rebuild's snapshot gone, readers fall back to the prior tuple")
    AnnIndex.retract(spark, path, Seq(0L))
    val g3 = Sinks.VersionedTable.latestGroup(spark, path).get
    assert(g3._2("codebooks") == cbManifestV(),
      "a mutator must adopt the completed-but-unsnapshotted rebuild")
    val after = AnnIndex.serveWith(probes, path).collect()
    assert(after.nonEmpty && !after.exists(_.getLong(1) == 0L),
      "the retract must be visible at the adopted snapshot")
    graft.GraftCache.releaseAll(spark)
  }

  test("extend pins the RESOLVED codebooks version when the raw pin was vacuumed (r11 review)") {
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_dangling"
    AnnIndex.build(emb.filter(col("vec_id") < 350L), path, storeVectors = true)
    val pinned = Sinks.ArtifactSnapshot.pinnedVersion(spark, path, "codebooks").get
    // bump the raw codebooks manifest with byte-identical centroids at a
    // higher build_v, then destroy the pinned manifest (a vacuum without
    // the protect set — the legacy-path hazard)
    val same = Sinks.VersionedTable.read(spark, s"$path/codebooks")
      .withColumn("build_v", lit(9L))
    Sinks.VersionedTable.mergeUpsert(spark, s"$path/codebooks", same,
      Seq("kind", "c_id"), "build_v", numBuckets = 4)
    val latest = Sinks.VersionedTable.latestManifest(spark, s"$path/codebooks").get._1
    assert(latest > pinned)
    val mf = new java.io.File(s"$path/codebooks/_commits", f"$pinned%08d.json")
    assert(mf.delete(), s"test setup: could not delete $mf")
    // the extend's read falls forward to latest — the snapshot it
    // publishes must record THAT version, not the dangling pin (a
    // dangling re-publish would pair these codes with an unreachable
    // codebooks version, and a later rebuild would then silently
    // re-point it at retrained centroids)
    AnnIndex.extend(emb.filter(col("vec_id") >= 350L), path, buildV = 2L)
    val g = Sinks.VersionedTable.latestGroup(spark, path).get._2
    assert(g("codebooks") == latest,
      s"extend must pin the codebooks version it actually read: $g vs $latest")
    graft.GraftCache.releaseAll(spark)
  }

  test("streaming ANN serves from the committed index across two micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val path = s"$tmp/ix_stream"
    AnnIndex.build(emb, path)
    // two batches of "arriving" queries cloned from corpus vectors —
    // the clone lands in its original's list, so candidates must
    // contain the original
    val probes = emb.limit(4).collect()
      .map(r => (r.getLong(0) + 30000L, r.getSeq[Float](1)))
    val (b1, b2) = probes.splitAt(2)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.streamingAnnCommittedCandidates(
      in.toDF().toDF("query_id", "embedding"), path)
      .writeStream.format("memory").queryName("annix").outputMode("append").start()
    in.addData(b1.toSeq)
    q.processAllAvailable()
    val afterB1 = spark.sql("SELECT DISTINCT query_id FROM annix")
      .collect().map(_.getLong(0)).toSet
    assert(afterB1 == b1.map(_._1).toSet, s"batch 1 queries answered: $afterB1")
    in.addData(b2.toSeq)
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM annix").collect()
    q.stop()
    assert(out.map(_.getLong(0)).toSet == probes.map(_._1).toSet,
      "both micro-batches must be answered from the same committed index")
    // exact expectation: the identical transform on a static frame
    val expected = EventStream.streamingAnnCommittedCandidates(
      probes.toSeq.toDF("query_id", "embedding"), path)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1),
      math.round(r.getDouble(2) * 1e12))).toSet
    assert(got == expected, "streamed candidates must equal the static stream-static join")
    // the clone's own corpus vector is among its ADC candidates
    probes.foreach { case (qid, _) =>
      assert(out.exists(r => r.getLong(0) == qid && r.getLong(1) == qid - 30000L),
        s"query $qid: committed-index candidates must include its source vector")
    }
  }
}
