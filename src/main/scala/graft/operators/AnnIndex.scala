package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exprs
import graft.sources.Sinks.VersionedTable

/** The COMMITTED ANN index — the artifact boundary every production
  * vector-search deployment has and the in-session memoized path
  * ([[Embeddings.annIvfPq]]) deliberately doesn't: codebooks and the
  * compressed code/postings table persisted through the transactional
  * table format, so (a) a serving job — batch or streaming — loads the
  * index instead of retraining it, (b) index builds version atomically
  * (a reader never sees half a rebuild: snapshot isolation from
  * [[VersionedTable]]'s manifest commit), and (c) rebuilds can ship
  * while serving continues on the previous version.
  *
  * Layout under `path/`:
  *  - `codebooks` — (kind, c_id, cqv, cnrm, build_v): the coarse IVF
  *    codebook (`kind = "coarse"`, Dim-dim centroids) and the PqM
  *    subspace codebooks (`kind = "pq0".."pq3"`, PqSubDim-dim). Keyed
  *    (kind, c_id) — a rebuild latest-wins-replaces every row.
  *  - `codes` — (vec_id, c_id, code_0..code_{PqM−1}, build_v): each
  *    corpus vector's inverted-list id and PQ codes — the ~16×
  *    compressed scan body. Keyed vec_id, so an INCREMENTAL ingest can
  *    merge new vectors' codes without touching the rest (the coarse
  *    routing stays valid as long as the codebooks do — the standard
  *    rebuild-codebooks-rarely / append-codes-continuously regime).
  *
  * Scale: the codebooks table is constant-size ((1 + PqM) ×
  * NumCentroids rows — a model artifact); the codes table is the only
  * data-proportional piece and it is exactly what a 100 TB serving
  * fleet wants on disk: 4-byte-ish codes instead of raw vectors,
  * bucketed by vec_id for point lookups, partition-pruned by the
  * manifest. Loading the index collects ONLY the codebooks.
  */
object AnnIndex {

  import Embeddings.{Dim, NProbe, NumCentroids, NumProbes, PqM, PqSubDim, RefineK, TopK}

  private def codebooksPath(path: String) = s"$path/codebooks"
  private def codesPath(path: String) = s"$path/codes"
  private def vectorsPath(path: String) = s"$path/vectors"

  // ------------- cross-table atomic snapshot (r11, the root manifest) -----
  //
  // The index's sub-tables commit as independent manifest transactions,
  // so a multi-table mutation (build, extend, rebalance, retract) has a
  // window where sub-table A's new version sits next to B's old one.
  // Every READER below resolves sub-tables through the artifact's ROOT
  // manifest ([[VersionedTable.latestGroup]]): one atomic commit pinning
  // the (codebooks_v, codes_v, vectors_v, tau_v) tuple a mutator
  // actually produced — a serve can no longer observe codes encoded
  // with codebooks it isn't reading (the r10 "two-manifest window",
  // closed for real). Mutators publish the new snapshot as their LAST
  // step; a crash before it leaves readers on the previous consistent
  // tuple, and the mutation's replay (every mutator here is replayable)
  // re-lands the data and publishes. Artifacts built before this layer
  // have no root manifest and fall back to per-table latest — the old
  // behavior, unchanged.

  /** The index's lifecycle. Only codes and vectors are content: the
    * codebooks and the admission tau are a trained model artifact, not
    * retrievable data (see [[retract]]). */
  private[graft] val layout = {
    import Artifacts.{Sub, byId}
    Artifacts.Layout("AnnIndex", Seq(Sub("codebooks"), Sub("codes", Some(byId("vec_id"))),
      Sub("vectors", Some(byId("vec_id"))), Sub("admission_tau")))
  }

  private def pinnedVersion(spark: SparkSession, path: String,
                            sub: String): Option[Long] =
    graft.sources.Sinks.ArtifactSnapshot.pinnedVersion(spark, path, sub)

  private def subRead(spark: SparkSession, path: String, sub: String): DataFrame =
    graft.sources.Sinks.ArtifactSnapshot.read(spark, path, sub)

  /** ONE captured pin-set per logical multi-sub read (r11 review): an
    * operation touching codebooks + codes + vectors must resolve them
    * all through the same snapshot, or a group commit landing between
    * two per-sub resolutions would hand it sub-tables from different
    * snapshots — the tear the layer exists to close. Every multi-read
    * entry point below captures this once and threads it through.
    */
  private def snapPins(spark: SparkSession, path: String): Map[String, Long] =
    graft.sources.Sinks.ArtifactSnapshot.pins(spark, path)

  private def subReadWith(spark: SparkSession, path: String, sub: String,
                          pins: Map[String, Long]): DataFrame =
    graft.sources.Sinks.ArtifactSnapshot.readWith(spark, path, sub, pins)

  /** Adopt a COMPLETED-but-unsnapshotted rebuild: a crash between a
    * build/rebalance's last sub-table commit and its snapshot leaves
    * the snapshot pinning the previous tuple while the raw sub-tables
    * hold a finished, mutually-consistent rebuild (codes and codebooks
    * at the SAME max build_v — a half rebuild has codebooks ahead and
    * stays pinned-old until [[rebalance]]'s torn heal retrains). Every
    * mutator calls this first, so an extend can never encode with the
    * stale pinned codebooks against fully re-encoded codes and then
    * publish that torn pair as a snapshot. Read-only serves never heal
    * — they keep the previous consistent tuple until a mutator runs.
    */
  private def healSnapshot(spark: SparkSession, path: String): Unit = {
    val latestCb = VersionedTable.latestManifest(spark, codebooksPath(path)).map(_._1)
    val pinned = pinnedVersion(spark, path, "codebooks")
    if (pinned.isDefined && latestCb.exists(_ > pinned.get)) {
      val rawCb = VersionedTable.read(spark, codebooksPath(path))
        .agg(max("build_v")).head()
      val rawCodes = VersionedTable.read(spark, codesPath(path))
        .agg(max("build_v")).head()
      // a fully-retracted codes table aggregates to null — nothing to
      // adopt (the heal is for completed rebuilds, which re-encode rows)
      if (!rawCb.isNullAt(0) && !rawCodes.isNullAt(0) &&
          rawCb.getLong(0) == rawCodes.getLong(0))
        layout.publish(spark, path)
    }
  }

  /** Train (memoized, deterministic) and COMMIT the IVF-PQ index for
    * `embeddings` as version `buildV`. Re-running with the same corpus
    * and a higher buildV commits an identical index as a new version —
    * the idempotent-rebuild property streaming replays rely on.
    */
  /** `storeVectors` opts into the Faiss IndexRefine split: the exact
    * (vec_id, qv, nrm) rows persist as a third sub-table, so serving
    * ([[serveWith]]) and rebuilds ([[rebalance]]) are SELF-CONTAINED —
    * no caller-supplied corpus frame — at the storage cost the
    * deployment chooses (~16× the codes table). Off by default: the
    * compressed-codes-only layout is the 100 TB regime.
    */
  def build(embeddings: DataFrame, path: String, buildV: Long = 0L,
            storeVectors: Boolean = false): Unit = {
    val spark = embeddings.sparkSession
    val q = Embeddings.quantized(embeddings)
    q.count() // materialize once under the five trainings
    val coarse = Embeddings.kmeansCodebook(q)
    val cbs = Embeddings.pqCodebooks(q)
    // vectors commit FIRST: a crash after codes-but-before-vectors
    // would leave code rows whose exact twins never arrive — shortlist
    // candidates that silently drop from every rescore; an orphan
    // vector (the reversed residue) never surfaces and heals on replay
    // (r11 review)
    if (storeVectors)
      VersionedTable.mergeUpsert(spark, vectorsPath(path),
        q.withColumn("build_v", lit(buildV)),
        Seq("vec_id"), "build_v", numBuckets = 16)
    commitTrained(spark, path, q, coarse, cbs, buildV)
    layout.publish(spark, path)
  }

  /** Commit (codebooks, codes-from-assignment) as version `buildV` —
    * shared by [[build]] and [[rebalance]]. */
  private def commitTrained(spark: SparkSession, path: String, q: DataFrame,
                            coarse: DataFrame, cbs: Seq[DataFrame],
                            buildV: Long): Unit = {
    val codebooks = (coarse.withColumn("kind", lit("coarse")) +:
      cbs.zipWithIndex.map { case (cb, m) => cb.withColumn("kind", lit(s"pq$m")) })
      .reduce(_.unionByName(_))
      .select(col("kind"), col("c_id"), col("cqv"), col("cnrm"),
        lit(buildV).as("build_v"))
    VersionedTable.mergeUpsert(spark, codebooksPath(path), codebooks,
      Seq("kind", "c_id"), "build_v", numBuckets = 4)
    val codes = Embeddings.ivfPqCodes(q, coarse, cbs)
      .withColumn("build_v", lit(buildV))
    VersionedTable.mergeUpsert(spark, codesPath(path), codes,
      Seq("vec_id"), "build_v", numBuckets = 16)
  }

  /** True iff the index stores exact vectors (the IndexRefine split). */
  def hasVectors(spark: SparkSession, path: String): Boolean =
    VersionedTable.latestManifest(spark, vectorsPath(path)).isDefined

  /** The committed exact vectors (vec_id, qv, nrm) at the root-snapshot
    * version — present only when built/extended with `storeVectors`. */
  def vectors(spark: SparkSession, path: String): DataFrame =
    subRead(spark, path, "vectors")
      .select("vec_id", "qv", "nrm")

  private def vectorsWith(spark: SparkSession, path: String,
                          pins: Map[String, Long]): DataFrame =
    subReadWith(spark, path, "vectors", pins)
      .select("vec_id", "qv", "nrm")

  /** Incremental ingest — the append-codes-continuously half of the
    * regime the layout was designed for (build codebooks rarely, append
    * codes every crawl): new vectors are routed and PQ-encoded against
    * the COMMITTED codebooks — nothing retrains, the serve boundary —
    * and their code rows merge into the codes table (keyed vec_id,
    * latest-wins, bucket-pruned by the upsert), so the ingest cost is
    * O(new batch), never O(index). Existing probes' answers change only
    * by the new candidates' presence. `buildV` is caller-threaded and
    * must be MONOTONE per real ingest (the media loop's batchId + 1
    * discipline — a fixed default would make re-encoded rows
    * indistinguishable from stale ones); a replayed extend at the same
    * buildV re-merges byte-identical rows. An existing vec_id
    * latest-wins-replaces its codes (the re-embedding contract, shared
    * with [[DedupIndex]]'s extend); takedown-sensitive id reuse is the
    * admission loop's guard, not the artifact's.
    */
  def extend(newEmbeddings: DataFrame, path: String, buildV: Long): Unit =
    extendWith(newEmbeddings, path, buildV, None)

  /** [[extend]], encoding with `loaded` — (version, codebooks) an
    * earlier read of the same batch collected — when that is the
    * codebooks version this extend resolves; otherwise it collects its
    * own. */
  private[graft] def extendWith(newEmbeddings: DataFrame, path: String, buildV: Long,
                                loaded: Option[(Long, Loaded)]): Unit = {
    val spark = newEmbeddings.sparkSession
    val q = Embeddings.quantized(newEmbeddings)
    healSnapshot(spark, path)
    // the codebooks version this extend ENCODES WITH — the RESOLVED
    // version (raw pin only while its manifest exists, else latest —
    // exactly what the read below resolves; recording a vacuumed pin
    // would pair these codes with a version readers can't reach, r11
    // review). The new snapshot pins it explicitly, so a torn
    // half-rebalance's codebooks-ahead version can never be exposed by
    // an extend landing after the crash.
    val usedCbV = graft.sources.Sinks.ArtifactSnapshot
      .resolvedVersion(spark, path, "codebooks")
    val ix = loaded.collect { case (v, l) if usedCbV.contains(v) => l }
      .getOrElse(loadWith(spark, path, usedCbV.map("codebooks" -> _).toMap))
    // an IndexRefine-split index keeps its vectors COMPLETE, and they
    // commit FIRST (the build ordering rule): a crash leaving codes
    // without exact twins would make those candidates silently drop
    // from every rescore, while an orphan vector never surfaces and
    // heals on replay (r11 review)
    if (hasVectors(spark, path))
      VersionedTable.mergeUpsert(spark, vectorsPath(path),
        q.withColumn("build_v", lit(buildV)),
        Seq("vec_id"), "build_v", numBuckets = 16)
    val codes = Embeddings.ivfPqCodesRows(q, ix.coarse, ix.pq)
      .withColumn("build_v", lit(buildV))
    VersionedTable.mergeUpsert(spark, codesPath(path), codes,
      Seq("vec_id"), "build_v", numBuckets = 16)
    layout.publish(spark, path, refresh = Seq("codes", "vectors"),
      pin = usedCbV.map("codebooks" -> _).toMap)
  }

  /** The loaded model artifact: coarse and per-subspace codebook rows
    * (c_id, cqv, cnrm) in c_id order, plus the per-subspace
    * centroid/norm arrays, all driver-side constants ((1 + PqM) ×
    * NumCentroids rows — never data-proportional). One collect per
    * snapshot: every encode and ADC score of an operation reads it.
    */
  private[graft] case class Loaded(
      coarse: Array[(Long, Seq[Long], Long)],
      pq: IndexedSeq[Array[(Long, Seq[Long], Long)]]) {
    val cent: IndexedSeq[Seq[Seq[Long]]] = pq.map(_.map(_._2).toSeq)
    val cnrm: IndexedSeq[Seq[Long]] = pq.map(_.map(_._3).toSeq)
  }

  private[graft] def load(spark: SparkSession, path: String): Loaded =
    loadWith(spark, path, snapPins(spark, path))

  private def loadWith(spark: SparkSession, path: String,
                       pins: Map[String, Long]): Loaded = {
    val cb = subReadWith(spark, path, "codebooks", pins)
      .select("kind", "c_id", "cqv", "cnrm").collect()
    def rows(kind: String) = {
      val rs = cb.filter(_.getString(0) == kind).sortBy(_.getLong(1))
      require(rs.map(_.getLong(1)).toSeq == (0 until NumCentroids).map(_.toLong),
        s"AnnIndex: $kind c_ids must be contiguous 0..${NumCentroids - 1}")
      rs.map(r => (r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
    }
    Loaded(rows("coarse"), (0 until PqM).map(m => rows(s"pq$m")))
  }

  /** The committed codebooks as TRAINING-SHAPED frames — (coarse,
    * per-subspace), each (c_id, cqv, cnrm) — the injection point for
    * running any in-session chain FROM the production quantizer
    * instead of retraining it (C84c's serve-path calibration). A
    * model-sized read: (1 + PqM) × NumCentroids rows.
    */
  def loadCodebookFrames(spark: SparkSession,
                         path: String): (DataFrame, Seq[DataFrame]) =
    loadCodebookFramesWith(spark, path, snapPins(spark, path))

  private def loadCodebookFramesWith(spark: SparkSession, path: String,
                                     pins: Map[String, Long]): (DataFrame, Seq[DataFrame]) = {
    val all = subReadWith(spark, path, "codebooks", pins)
      .select("kind", "c_id", "cqv", "cnrm")
    (all.filter(col("kind") === "coarse").select("c_id", "cqv", "cnrm"),
      (0 until PqM).map(m =>
        all.filter(col("kind") === s"pq$m").select("c_id", "cqv", "cnrm")))
  }

  /** SELF-CONTAINED serve — the IndexRefine composition: explicit probe
    * rows (vec_id, embedding) route, ADC-shortlist against the
    * committed codes, and exact-rescore against the committed VECTORS
    * sub-table — no caller-supplied corpus frame anywhere ([[serve]]
    * needs one because codes are lossy; this is what `storeVectors`
    * buys). Output schema matches [[serve]]: (q_id, n_id, cos, rn).
    * Probe side is batch-sized and broadcast; the vectors join is keyed
    * on the shortlist's n_ids.
    */
  def serveWith(probes: DataFrame, path: String): DataFrame = {
    val spark = probes.sparkSession
    require(hasVectors(spark, path),
      s"AnnIndex.serveWith: no vectors sub-table at $path — build/extend " +
        "with storeVectors = true, or use serve(corpusFrame, path)")
    val pins = snapPins(spark, path)
    val q = Embeddings.quantized(probes)
    val shortlist = adcScored(q, path, pins = Some(pins))
      .groupBy("q_id")
      .agg(Exprs.maxKScored(col("approx_cos"), col("n_id"), RefineK).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    Embeddings.topKByCos(rescoreExact(shortlist, q, path, pins))
  }

  /** Exact-cosine rescore of candidate pairs against the committed
    * VECTORS sub-table — serveWith's join factored out so the admission
    * verdict ([[matchedIds]] with `exactRescore`) and the exact tau
    * measurement share it. `pairs` is (q_id, n_id, …); `qProbes` is the
    * quantized probe frame (vec_id, qv, nrm), batch-sized, broadcast.
    * Output: (q_id, n_id, cos) at exact integer-dot cosine.
    */
  private def rescoreExact(pairs: DataFrame, qProbes: DataFrame,
                           path: String,
                           pins: Map[String, Long]): DataFrame = {
    val spark = qProbes.sparkSession
    val probeVecs = qProbes.select(col("vec_id").as("q_id"),
      col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    pairs.select("q_id", "n_id")
      .join(broadcast(probeVecs), "q_id")
      .join(vectorsWith(spark, path, pins)
        .select(col("vec_id").as("n_id"), col("qv"), col("nrm")), "n_id")
      .select(col("q_id"), col("n_id"),
        (Exprs.dotLong(col("q_qv"), col("qv")).cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
          .as("cos"))
  }

  /** C86b: per-list occupancy of the COMMITTED codes table — the
    * balance diagnostic of the index a deployment actually serves from,
    * where [[Embeddings.ivfOccupancy]] (C86) measures an in-session
    * assignment. One scan of the compressed codes (no raw vectors, no
    * training), the committed coarse roster supplying empty lists; the
    * ratio tail is the SHARED [[Embeddings.occupancyOf]], so artifact
    * and in-session diagnostics can never disagree on arithmetic. This
    * is also the takedown observable: a retract drops code rows, and
    * the next occupancy read shows the freed slots.
    */
  def occupancy(spark: SparkSession, path: String): DataFrame = {
    val pins = snapPins(spark, path)
    Embeddings.occupancyOf(loadCodebookFramesWith(spark, path, pins)._1,
      codesWith(spark, path, pins))
  }

  /** The MEASURED admission operating point on the ADC scale — the
    * C84 calibration discipline applied to the embedding admission
    * loop's near-dup rule: per-content ADC self-cosine (a committed
    * vector probed against its own code row) varies widely and its
    * tail can approach the co-routed noise ceiling, so the tau the
    * loop runs at must be measured against THIS index, never assumed.
    * Probes are the `nProbes` smallest stored vec_ids (deterministic);
    * self = each probe vs its own code row (always co-routed — a
    * vector's own list is its rank-1 route), noise = the best
    * co-routed non-self candidate. tau = midpoint of (min self, max
    * noise); REFUSES when they don't separate (a tau in that regime
    * would reject novel content or admit re-crawls at random — the
    * measuredMarginBin refusal discipline). Requires the IndexRefine
    * split (the probes are read from the stored vectors).
    */
  /** `exact = true` measures on the EXACT-cosine scale instead of the
    * ADC scale (requires the IndexRefine split either way): self scores
    * collapse to ~1.0 (a vector against its own stored twin), so the
    * separation question reduces to "is the corpus's co-routed max
    * pairwise cosine below 1" — which holds wherever content isn't
    * already near-duplicated, INCLUDING indexes whose PQ is too lossy
    * for an ADC tau (the refusal case). The exact scale is also
    * CODEBOOK-INDEPENDENT: a rebalance shifts which candidates co-route
    * (recall, the honest ANN trade) but never the score of a pair — so
    * an exact tau survives rebuilds where an ADC tau must refuse.
    */
  def measureAdmissionTau(spark: SparkSession, path: String,
                          nProbes: Int = 64, exact: Boolean = false): Double = {
    val (selfMin, noiseMax) = measureTauBounds(spark, path, nProbes, exact)
    (selfMin + noiseMax) / 2
  }

  private def measureTauBounds(spark: SparkSession, path: String,
                               nProbes: Int,
                               exact: Boolean): (Double, Double) = {
    require(hasVectors(spark, path),
      s"AnnIndex.measureAdmissionTau: no vectors sub-table at $path")
    val pins = snapPins(spark, path)
    val probes = vectorsWith(spark, path, pins).orderBy("vec_id").limit(nProbes)
    val pairs = adcScored(probes, path, excludeSelf = false, pins = Some(pins))
    val sc = (if (exact) rescoreExact(pairs, probes, path, pins)
              else pairs.withColumnRenamed("approx_cos", "cos"))
      .transform(graft.GraftCache.persistTracked)
    val scale = if (exact) "exact self-cosine" else "self-ADC"
    // empty aggregates reach the REFUSAL, never an NPE: a fully
    // retracted index has no self rows; a corpus whose probed lists
    // hold only the probe itself has no noise rows — in both regimes a
    // global tau is meaningless (r11 review)
    val selfRow = sc.filter(col("q_id") === col("n_id"))
      .agg(min("cos")).head()
    val noiseRow = sc.filter(col("q_id") =!= col("n_id"))
      .agg(max("cos")).head()
    require(!selfRow.isNullAt(0) && !noiseRow.isNullAt(0),
      "measureAdmissionTau: empty self or co-routed-noise population — " +
        "nothing to measure against; run collision-only (tau > 1)")
    val selfMin = selfRow.getDouble(0)
    val noiseMax = noiseRow.getDouble(0)
    require(selfMin > noiseMax,
      f"measureAdmissionTau: no separation on this index (min $scale " +
        f"$selfMin%.4f <= co-routed noise ceiling $noiseMax%.4f) — the " +
        "near-dup rule carries no signal here; run collision-only (tau > 1)")
    (selfMin, noiseMax)
  }

  /** Commit the measured tau WITH its calibration context (the C84c
    * width/k lesson): fixed-point micro-units so the artifact
    * round-trip can never drift the `>= tau` comparison by an ulp.
    */
  def commitAdmissionTau(spark: SparkSession, path: String,
                         buildV: Long = 0L, nProbes: Int = 64,
                         exact: Boolean = false): Double = {
    healSnapshot(spark, path) // measure against the adopted rebuild, not a stale pin
    val (selfMin, noiseMax) = measureTauBounds(spark, path, nProbes, exact)
    val tauFp = math.round((selfMin + noiseMax) / 2 * 1e6)
    // the fixed-point round must LAND inside the verified interval —
    // a separation narrower than the 1e-6 resolution would otherwise
    // commit a tau at/below the noise ceiling or above the worst
    // self score (r11 review); refuse like any other flat measurement
    val tau = tauFp / 1e6
    require(tau > noiseMax && tau <= selfMin,
      f"commitAdmissionTau: separation ($noiseMax%.7f, $selfMin%.7f] is " +
        "narrower than the fixed-point resolution — refusing to commit; " +
        "run collision-only (tau > 1)")
    // an ADC tau binds to the CODEBOOKS it was measured against (the
    // snapshot-pinned version the measurement actually read): a
    // rebalance retrains them and shifts the whole ADC scale, so a
    // stale operating point must refuse to load, not silently mis-gate
    // (r11 review). An EXACT tau records the version too (provenance)
    // but survives rebuilds — the score of a pair never moves, only
    // candidate recall does.
    // RESOLVED version, not the raw pin: if the pin was vacuumed the
    // measurement actually read latest — recording the dangling pin
    // would bind the tau to a version readers can no longer reach
    // (r11 review)
    val cbV = graft.sources.Sinks.ArtifactSnapshot
      .resolvedVersion(spark, path, "codebooks").getOrElse(-1L)
    VersionedTable.mergeUpsert(spark, s"$path/admission_tau",
      spark.range(1).select(lit("model").as("id"),
        lit(tauFp).as("tau_fp"),
        lit(nProbes.toLong).as("n_probes"),
        lit(cbV).as("codebooks_v"),
        lit(if (exact) 1L else 0L).as("exact_fl"),
        lit(buildV).as("build_v")),
      Seq("id"), "build_v", numBuckets = 1)
    layout.publish(spark, path, refresh = Seq("admission_tau"))
    tau
  }

  /** The committed admission operating point with its scale. */
  final case class AdmissionTau(tau: Double, exact: Boolean)

  def loadAdmission(spark: SparkSession, path: String): AdmissionTau = {
    val df = subRead(spark, path, "admission_tau")
    // additive schema: taus committed before the exact scale existed
    // carry no exact_fl column (mergeSchema null-fills) — they are ADC
    val r = df.select(col("tau_fp"), col("codebooks_v"),
      (if (df.columns.contains("exact_fl"))
         coalesce(col("exact_fl"), lit(0L)) else lit(0L)).as("e")).head()
    val exact = r.getLong(2) == 1L
    if (!exact) {
      val cbNow = graft.sources.Sinks.ArtifactSnapshot
        .resolvedVersion(spark, path, "codebooks").getOrElse(-1L)
      require(r.getLong(1) == cbNow,
        s"loadAdmission: the committed ADC tau was measured against codebooks " +
          s"version ${r.getLong(1)} but the index now serves version $cbNow " +
          "(a rebalance shifted the ADC scale) — re-run commitAdmissionTau")
    }
    AdmissionTau(r.getLong(0) / 1e6, exact)
  }

  def loadAdmissionTau(spark: SparkSession, path: String): Double =
    loadAdmission(spark, path).tau

  /** Occupancy-triggered REBALANCE — the diagnostic-to-action loop over
    * [[occupancy]]: when the committed lists skew past `maxLoadPct`
    * (percent of fair share; 100 = balanced, NumCentroids·100 = one
    * mega-list), retrain the coarse + subspace codebooks FROM THE
    * STORED VECTORS and re-encode every code row, committed as one new
    * version (serves are snapshot-isolated across it). Returns true iff
    * a rebuild shipped. Requires the IndexRefine split — codes are
    * lossy, retraining from them would compound quantization error.
    *
    * Training init detail: the in-session trainer seeds k-means from
    * the literal vec_ids < NumCentroids, which takedowns may have
    * REMOVED from a long-lived artifact — so the stored corpus is
    * remapped for training only (the k smallest surviving ids become
    * dense train ids 0..k−1, everything else shifts above k), keeping
    * the committed c_ids contiguous, which every loader requires.
    * Assignments and codes are computed on the ORIGINAL ids.
    *
    * Atomicity contract (r11 review — codebooks and codes are two
    * independent manifest transactions, so the rewrite is NOT one
    * snapshot): `buildV` must exceed every committed code row's
    * build_v (guarded — a lower version would lose the latest-wins
    * merge to prior extends, silently keeping stale codes against the
    * new codebooks), a serve landing between the two commits may score
    * old codes against new centroids (transiently degraded scores,
    * never a crash — both c_id spaces are 0..k−1; run rebalance from
    * the maintenance role during a serve pause to exclude even that),
    * and a crash between them leaves codebooks AHEAD of codes — a torn
    * state this method detects on its next run and heals by rebuilding
    * regardless of the occupancy bar (deterministic retrain, so the
    * heal commits exactly what the interrupted run would have).
    */
  def rebalance(spark: SparkSession, path: String, buildV: Long,
                maxLoadPct: Long = 400L): Boolean = {
    healSnapshot(spark, path)
    val curMax = VersionedTable.read(spark, codesPath(path))
      .agg(max("build_v")).head().getLong(0)
    val cbMax = VersionedTable.read(spark, codebooksPath(path))
      .agg(max("build_v")).head().getLong(0)
    // EXACT REPLAY of a completed rebuild — both sub-tables already
    // carry this buildV (extends never bump codebooks, so codes+
    // codebooks at the same version is a finished rebalance): a
    // restarted stream re-running its cadence batch must no-op here,
    // not trip the monotone guard below into a crash-loop; the retrain
    // is deterministic, so re-running would commit identical bytes
    // anyway (r11 review — the in-loop rebalance's replay discipline)
    if (buildV == curMax && cbMax == buildV) return false
    require(buildV > curMax,
      s"AnnIndex.rebalance: buildV $buildV must exceed every committed code " +
        s"row's build_v (max $curMax) — a lower version loses the latest-wins " +
        "merge to prior extends, keeping stale codes against the new codebooks")
    val torn = cbMax > curMax // interrupted rebalance: codebooks ahead
    val worst = occupancy(spark, path)
      .agg(max("load_pct").as("m")).head().getLong(0)
    if (!torn && worst <= maxLoadPct) return false
    require(hasVectors(spark, path),
      s"AnnIndex.rebalance: lists at $path skew to $worst% of fair share " +
        "but there is no vectors sub-table to retrain from — rebuild from " +
        "the source corpus (build with storeVectors = true to enable this)")
    val q0 = graft.GraftCache.persistTracked(vectors(spark, path))
    val chosen = q0.select("vec_id").orderBy("vec_id")
      .limit(NumCentroids).collect().map(_.getLong(0))
    require(chosen.length == NumCentroids,
      s"AnnIndex.rebalance: only ${chosen.length} vectors remain (< " +
        s"$NumCentroids centroids)")
    val off = chosen.max + NumCentroids + 1L
    val mapped = chosen.zipWithIndex.foldLeft(col("vec_id") + lit(off)) {
      case (acc, (id, dense)) =>
        when(col("vec_id") === lit(id), lit(dense.toLong)).otherwise(acc)
    }
    val qTrain = q0.select(mapped.as("vec_id"), col("qv"), col("nrm"))
    qTrain.count()
    val coarse = Embeddings.kmeansCodebook(qTrain)
    val cbs = Embeddings.pqCodebooks(qTrain)
    commitTrained(spark, path, q0, coarse, cbs, buildV)
    layout.publish(spark, path)
    true
  }

  /** Quantized re-crawl verdict for explicit probe vectors — the probe
    * ids that MATCH committed content, by two rules:
    *  - CODE COLLISION (primary, deterministic): encoding is a pure
    *    function of the vector, so a re-crawl of committed content
    *    lands on the IDENTICAL (c_id, code_0..code_{PqM−1}) tuple — the
    *    [[MediaIndex]] exact-fingerprint rule applied to the PQ sketch.
    *    This is what makes the verdict reliable: the ADC self-cosine's
    *    per-content tail can sink below the noise ceiling (PQ is
    *    lossy), but the tuple equality cannot miss an exact re-crawl.
    *  - ADC ≥ `tau` (near-dup extension): neighbors above the measured
    *    ADC operating point also match; pass a tau above the ADC range
    *    (> 1) to disable — the branch is then NOT BUILT at all (the ADC
    *    pass is a per-batch scan of the corpus-proportional codes
    *    table; dead work at production index sizes, r11 review).
    * Both rules are keyed equi-joins with a broadcastable batch-sized
    * probe side; the index side is one pass over the codes table (the
    * compressed scan body — codes bucket by vec_id, so neither join is
    * bucket-pruned; pruning is the point-lookup/takedown axis).
    */
  /** `exactRescore` upgrades the near-dup rule from ADC to EXACT where
    * storage allows (requires the IndexRefine split): routing still
    * generates the candidates (the scale shape), but each probe's
    * verdict is the max exact cosine of ALL its co-routed candidates
    * against the stored vectors ([[rescoreExact]] — serveWith's join).
    * Deliberately NOT the RefineK ADC shortlist serveWith uses: an ADC
    * shortlist ranks by the lossy scale, and on a PQ-hostile corpus a
    * true near-dup can fall out of the top-K behind ADC-inflated noise
    * — a verdict that silently admits near-dups is worse than no
    * verdict (and the tau measurement rescores the full co-routed
    * frame, so the verdict must score the same frame it was calibrated
    * on). Cost: the exact join processes the same candidate stream the
    * ADC pass already scans — per probe bounded by NProbe × list
    * occupancy, which [[rebalance]] keeps bounded. tau is on the exact
    * scale ([[measureAdmissionTau]] with `exact`), which is codebook-
    * independent: the verdict survives a rebalance with only the
    * honest candidate-recall shift, never a scale shift.
    */
  private[graft] def matchedIds(probes: DataFrame, path: String,
                                tau: Double,
                                exactRescore: Boolean = false): DataFrame = {
    val pins = snapPins(probes.sparkSession, path)
    matchedIdsWith(probes, path, tau, exactRescore, pins,
      loadWith(probes.sparkSession, path, pins))
  }

  /** [[matchedIds]] resolved through a NAMED root snapshot — the audit
    * replay read (r12, the DedupIndex.serveAt twin): feed a pipeline
    * snapshot's `groupPin` to re-draw the embedding loop's admission
    * verdicts against exactly the index state batch N used. Strict —
    * an absent/pruned group refuses (keep it inside protectGroups).
    */
  def matchedIdsAt(probes: DataFrame, path: String, tau: Double,
                   groupVersion: Long,
                   exactRescore: Boolean = false): DataFrame =
    matchedIdsAtLoaded(probes, path, tau, groupVersion, exactRescore)._1

  /** [[matchedIdsAt]], also handing back the codebooks it encodes with
    * and their version (when the group pins one), so the same batch's
    * [[extendWith]] can reuse that collect. */
  private[graft] def matchedIdsAtLoaded(probes: DataFrame, path: String, tau: Double,
                                        groupVersion: Long, exactRescore: Boolean)
      : (DataFrame, Option[(Long, Loaded)]) = {
    val spark = probes.sparkSession
    val pins = groupPins(spark, path, groupVersion, "matchedIdsAt")
    val ix = loadWith(spark, path, pins)
    (matchedIdsWith(probes, path, tau, exactRescore, pins, ix),
      pins.get("codebooks").map(_ -> ix))
  }

  /** `ix`: the codebooks `pins` resolves. */
  private def matchedIdsWith(probes: DataFrame, path: String,
                             tau: Double, exactRescore: Boolean,
                             pins: Map[String, Long], ix: Loaded): DataFrame = {
    val spark = probes.sparkSession
    val arrCodes = Embeddings.ivfPqCodesRows(probes, ix.coarse, ix.pq)
    val codeCols = Seq("c_id") ++ (0 until PqM).map(m => s"code_$m")
    val collided = arrCodes
      .join(codesWith(spark, path, pins), codeCols, "left_semi")
      .select("vec_id")
    if (tau > 1.0) collided.distinct()
    else {
      val scored = adcScoredWith(probes, path, ix, pins, excludeSelf = true)
      val near =
        if (!exactRescore)
          scored.groupBy("q_id").agg(max("approx_cos").as("b"))
            .filter(col("b") >= tau)
            .select(col("q_id").as("vec_id"))
        else {
          require(hasVectors(spark, path),
            s"AnnIndex.matchedIds: exactRescore needs the vectors sub-table " +
              s"at $path — build/extend with storeVectors = true")
          rescoreExact(scored, probes, path, pins)
            .groupBy("q_id").agg(max("cos").as("b"))
            .filter(col("b") >= tau)
            .select(col("q_id").as("vec_id"))
        }
      collided.unionByName(near).distinct()
    }
  }

  /** C44b: SemDeDup served from the COMMITTED index — C44's semantic
    * near-duplicate gate promoted from "retrain a codebook in-session"
    * to an artifact-served admission rule, the same promotion C66 did
    * for text dedup: clusters come from the committed coarse codebook,
    * the corpus side's cluster assignments from the CODES table (one
    * scan, no raw-vector clustering), and exact cosines from the stored
    * VECTORS (requires the IndexRefine split). A batch vector drops
    * when (a) ANY committed co-clustered vector sits at cos ≥ tau —
    * committed content always wins, it is already in the corpus — or
    * (b) an EARLIER batch vector (smaller vec_id) co-clusters at ≥ tau,
    * the paper's keep-first rule within the arrival (no transitive
    * closure). Output matches C44's schema over the batch rows:
    * (vec_id, c_id, max_prior_cos, is_kept) — max_prior_cos spans both
    * prior populations, so the oracle hash-compares real numerics.
    *
    * Scale: both pair joins key on c_id — per-cluster cost is
    * |batch ∩ cluster| × |corpus ∩ cluster|, bounded by list occupancy
    * (which [[rebalance]] keeps bounded — SemDeDup's own k-scales-with-
    * corpus rule, enforced by the artifact's maintenance loop instead
    * of a per-job retrain); the within-batch quadratic is batch-sized.
    * Nothing trains, nothing reads corpus text: the gate is two keyed
    * joins against committed sub-tables.
    */
  def semDedupServe(batch: DataFrame, path: String,
                    tau: Double = Embeddings.NearDupThreshold): DataFrame =
    semDedupServeWith(batch, path, tau,
      snapPins(batch.sparkSession, path))

  /** [[semDedupServe]] resolved through a NAMED root snapshot — the
    * semantic loop's verdict-replay read (the [[matchedIdsAt]] twin):
    * feed a pipeline snapshot's `servedGroupPin` to re-draw batch N's
    * gate verdicts against exactly the index state the batch served
    * from. Strict — an absent/pruned group or a vacuumed pinned
    * sub-table version refuses (keep the group inside the maintenance
    * sweep's protection windows).
    */
  def semDedupServeAt(batch: DataFrame, path: String, tau: Double,
                      groupVersion: Long): DataFrame =
    semDedupServeWith(batch, path, tau,
      groupPins(batch.sparkSession, path, groupVersion, "semDedupServeAt"))

  /** The pin-set of NAMED root snapshot `groupVersion`, checked strictly
    * up front: the shared read path falls forward on a vacuumed pin
    * (right for latest-group serving, wrong for a named audit read), so
    * an absent group or a vacuumed pinned version refuses here, naming
    * the retention contract. */
  private def groupPins(spark: SparkSession, path: String, groupVersion: Long,
                        op: String): Map[String, Long] = {
    val pins = VersionedTable.groupAt(spark, path, groupVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"AnnIndex.$op: no intact group manifest $groupVersion " +
          s"at $path (group retention pruned it, or it never existed)"))
    pins.foreach { case (sub, v) =>
      require(VersionedTable.manifestExists(spark, s"$path/$sub", v),
        s"AnnIndex.$op: group $groupVersion pins $sub@$v but that " +
          s"manifest no longer exists at $path/$sub — the snapshot outlived " +
          "the protectGroups retention window; re-pin to a recent group")
    }
    pins
  }

  private def semDedupServeWith(batch: DataFrame, path: String, tau: Double,
                                pins: Map[String, Long]): DataFrame = {
    val spark = batch.sparkSession
    require(hasVectors(spark, path),
      s"AnnIndex.semDedupServe: no vectors sub-table at $path — the gate " +
        "rescores exactly; build/extend with storeVectors = true")
    val q = Embeddings.quantized(batch)
    val assign = Embeddings.ivfAssign(q, loadCodebookFramesWith(spark, path, pins)._1)
      .join(q, Seq("vec_id"))
    val x = assign.select(col("c_id"), col("vec_id").as("ia"),
      col("qv").as("qa"), col("nrm").as("na"))
    val committedPrior = codesWith(spark, path, pins).select("vec_id", "c_id")
      .join(vectorsWith(spark, path, pins), Seq("vec_id"))
      .select(col("c_id"), col("vec_id").as("ib"),
        col("qv").as("qb"), col("nrm").as("nb"))
    val batchPrior = assign.select(col("c_id"), col("vec_id").as("ib"),
      col("qv").as("qb"), col("nrm").as("nb"))
    val prior = x.join(committedPrior, Seq("c_id"))
      .unionByName(x.join(batchPrior, Seq("c_id")).filter(col("ib") < col("ia")))
      .select(col("ia").as("vec_id"),
        Embeddings.cosine(col("qb"), col("qa"), col("nb"), col("na")).as("cos"))
      .groupBy("vec_id")
      .agg(max(col("cos")).as("max_prior_cos"))
    assign.select("vec_id", "c_id")
      .join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("max_prior_cos"),
        (coalesce(col("max_prior_cos"), lit(-1.0)) < tau).as("is_kept"))
  }

  /** Takedown — the compliance op that completes the vector artifact's
    * lifecycle (build / extend / serve / rebuild / RETRACT): remove the
    * given vectors' rows from the codes table, so removed content stops
    * being servable as a neighbor (plain serve AND hard-negative
    * mining — both read the same candidate core) at the next snapshot.
    * BUCKET-PRUNED via [[VersionedTable.replaceBuckets]]: codes bucket
    * by vec_id, so the touched set comes straight from the id list and
    * a takedown rewrites a handful of bucket dirs, never the corpus-
    * proportional code table. Atomic (a concurrent serve sees the old
    * or the new version), idempotent (absent ids are a no-op).
    *
    * The CODEBOOKS are deliberately untouched: they are a trained model
    * artifact ((1+PqM)×NumCentroids centroids), not content — a
    * retracted vector's marginal pull on a centroid is not retrievable
    * data, the same boundary every production vector store draws
    * (Faiss `remove_ids` drops postings, never retrains quantizers).
    */
  def retract(spark: SparkSession, path: String,
              vecIds: Seq[Long]): Seq[TakedownReceipt] = {
    // refuse before any effect; then, as a mutator, adopt any
    // completed-unsnapshotted rebuild, or the closing snapshot would pin
    // post-retract codes against the stale pinned codebooks (see
    // healSnapshot)
    val content = layout.retractable(spark, path, vecIds)
    healSnapshot(spark, path)
    layout.retractFrom(spark, path, vecIds, content)
  }

  /** The committed code table (vec_id, c_id, code_0..code_{PqM−1}) at
    * the root-snapshot version — snapshot-isolated, bucket-prunable.
    */
  def codes(spark: SparkSession, path: String): DataFrame =
    codesWith(spark, path, snapPins(spark, path))

  private def codesWith(spark: SparkSession, path: String,
                        pins: Map[String, Long]): DataFrame =
    subReadWith(spark, path, "codes", pins)
      .select(Seq(col("vec_id"), col("c_id")) ++
        (0 until PqM).map(m => col(s"code_$m")): _*)

  /** ADC score columns against the loaded codebooks: approx dot =
    * Σ_m table_m[code_m] over the per-probe ADC lookup tables
    * (`adc_0..adc_{PqM−1}`, built by [[adcTablesFor]] — the same
    * integer dots the inline form computed, precomputed once per probe;
    * see [[Embeddings.adcTable]]), reconstructed norm =
    * Σ_m centroid-norm_m[code_m] — with the codebooks coming from the
    * artifact instead of the training run.
    */
  private[graft] def adcColsFor(ix: Loaded) = {
    val cnrmArr = (0 until PqM).map(m => Exprs.litLongArray(ix.cnrm(m)))
    val adot = (0 until PqM).map { m =>
      element_at(col(s"adc_$m"), col(s"code_$m").cast("int") + 1)
    }.reduce(_ + _)
    val anrm = (0 until PqM).map { m =>
      element_at(cnrmArr(m), col(s"code_$m").cast("int") + 1)
    }.reduce(_ + _)
    (adot, anrm)
  }

  /** The PqM per-probe ADC lookup-table columns for [[adcColsFor]],
    * from the committed codebooks. */
  private[graft] def adcTablesFor(ix: Loaded, qqv: org.apache.spark.sql.Column) =
    (0 until PqM).map(m =>
      Embeddings.adcTable(qqv, m, ix.cent(m).toIndexedSeq).as(s"adc_$m"))

  /** Serve C7e from the COMMITTED index: identical routing (coarse
    * probe lists), ADC shortlist, and exact-cosine refine as
    * [[Embeddings.annIvfPq]] — but codebooks and codes load from
    * `path`; nothing trains. `embeddings` supplies the probe vectors
    * and the raw vectors for the RefineK exact re-rank (the index
    * stores codes, not raw vectors — Faiss IndexRefine's split).
    * Output schema matches annIvfPq: (q_id, n_id, cos, rn).
    */
  def serve(embeddings: DataFrame, path: String): DataFrame =
    Embeddings.topKByCos(refinedPairs(embeddings, path))

  /** C77b's committed twin: semi-hard negatives mined from the
    * ARTIFACT's candidate stream — the same band rule as
    * [[Embeddings.annHardNegatives]] over the same ADC-shortlist +
    * exact-refine pairs, with codebooks and codes loading from `path`;
    * nothing trains. AnnIndexSpec pins served == in-session
    * row-for-row.
    */
  def serveHardNegatives(embeddings: DataFrame, path: String): DataFrame =
    Embeddings.topKByCos(refinedPairs(embeddings, path)
      .filter(col("cos") >= Embeddings.NegLo && col("cos") < Embeddings.NegHi))

  /** The artifact-served candidate core: identical routing/ADC/refine
    * to [[Embeddings.ivfPqRefinedPairs]], codebooks+codes from the
    * committed index.
    */
  private def refinedPairs(embeddings: DataFrame, path: String): DataFrame = {
    val q = Embeddings.quantized(embeddings)
    val scored = adcScored(q.filter(col("vec_id") < NumProbes), path)
    val shortlist = scored
      .groupBy("q_id")
      .agg(Exprs.maxKScored(col("approx_cos"), col("n_id"), RefineK).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    Embeddings.scorePairs(shortlist, q)
  }

  /** ADC candidates for EXPLICIT probe vectors against the committed
    * codes — (q_id, n_id, approx_cos), factored out of [[refinedPairs]]
    * so the embedding admission loop can draw QUANTIZED verdicts from
    * the artifact alone: the index stores codes, not raw vectors, so a
    * verdict against committed content is an ADC cosine — the
    * [[MediaIndex]] hash-verdict contract applied to embeddings.
    * `probes` is (vec_id, qv, nrm), broadcast — bound it to a
    * micro-batch / probe set, never a corpus.
    */
  /** `pins`: the ONE captured pin-set of the enclosing logical read
    * (see snapPins) — codebooks and codes must resolve from the same
    * snapshot or the ADC would score codes against centroids from a
    * different rebuild. Callers with no snapshot context pass none and
    * get a fresh capture.
    */
  private[graft] def adcScored(probes: DataFrame, path: String,
                               excludeSelf: Boolean = true,
                               pins: Option[Map[String, Long]] = None): DataFrame = {
    val spark = probes.sparkSession
    val p = pins.getOrElse(snapPins(spark, path))
    adcScoredWith(probes, path, loadWith(spark, path, p), p, excludeSelf)
  }

  /** [[adcScored]] against already-loaded codebooks `ix`, which must
    * come from the same snapshot as `pins`. */
  private def adcScoredWith(probes: DataFrame, path: String, ix: Loaded,
                            pins: Map[String, Long],
                            excludeSelf: Boolean): DataFrame = {
    val spark = probes.sparkSession
    // NProbe nearest lists per probe as a map-side array over the
    // loaded centroid constants — the old crossJoin + routing-rank
    // window collapsed into codegen (r14, same rewrite as the
    // in-session chain); ADC lookup tables built per probe BEFORE the
    // explode, the probe row shedding q_qv (see Embeddings.adcTable)
    val probeLists = probes
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        Embeddings.nearestCids(col("qv"), ix.coarse, NProbe).as("cids"))
      .select(Seq(col("q_id"), col("q_nrm"), col("cids")) ++
        adcTablesFor(ix, col("q_qv")): _*)
      .select(Seq(col("q_id"), col("q_nrm"), explode(col("cids")).as("c_id")) ++
        (0 until PqM).map(m => col(s"adc_$m")): _*)
    val (adot, anrm) = adcColsFor(ix)
    codesWith(spark, path, pins)
      .join(broadcast(probeLists), Seq("c_id"))
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (adot.cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(anrm.cast("double"))))
          .as("approx_cos"))
  }
}
