package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}
import graft.sources.Sinks.VersionedTable

/** The COMMITTED corpus dedup index (SURVEY.md §2 C66) — the artifact
  * boundary a CONTINUOUS ingest pipeline needs that the in-session
  * dedup family (C1–C4) deliberately doesn't have: the corpus's exact
  * fingerprints, MinHash signatures, and LSH band assignments persisted
  * through the transactional table format, so that
  *  (a) a new crawl batch is checked against the WHOLE accumulated
  *      corpus without recomputing anything over it (serve reads the
  *      index; the corpus text never loads),
  *  (b) admitted batches MERGE into the index incrementally (keyed
  *      upsert — the bands of the existing billions of docs are not
  *      rewritten), and
  *  (c) rebuilds/extends commit atomically (snapshot isolation from
  *      [[VersionedTable]]'s manifest commit), so a concurrent serving
  *      job never sees half an ingest.
  * This is C26's incremental-dedup semantics upgraded from "prior
  * corpus as a frame in the same session" to "prior corpus as a
  * versioned on-disk artifact" — the same promotion AnnIndex (C61) did
  * for the IVF-PQ codebooks.
  *
  * Layout under `path/`:
  *  - `fps`   — (doc_id, fp, build_v): md5 exact fingerprint (C1's).
  *  - `sigs`  — (doc_id, mh, build_v): the 8-hash MinHash signature
  *    (C2's), needed at serve time to verify candidate similarity.
  *  - `bands` — (doc_id, b, band_key, build_v): UNCAPPED LSH band
  *    assignments. The occupancy cap is applied at SERVE time against
  *    current occupancy ([[Dedup.capBands]]) — capping what gets
  *    WRITTEN would freeze each doc's cap decision at its ingest batch
  *    and make incremental extends drift from a fresh rebuild.
  *
  * All three tables are keyed by doc_id (bands by (doc_id, b)), so
  * re-ingesting a batch is idempotent (latest-wins merge) and an
  * extend touches only the delta's buckets. Serve is three keyed
  * joins: fp equi-join (exact), band equi-join (candidates — bounded
  * by the occupancy cap exactly like the batch path), signature
  * agreement ≥ [[NearMinAgree]] (verify). Nothing scans corpus text.
  */
object DedupIndex {

  /** Candidate verification floor: a batch doc is a NEAR duplicate of a
    * corpus doc when at least this many of the [[Dedup.NumHashes]] (8)
    * MinHash values agree — n_agree/8 estimates Jaccard, so 4/8 ≈ J≥0.5,
    * well under the banding curve's high-recall zone and far above the
    * chance agreement of unrelated docs.
    */
  val NearMinAgree = 4

  /** Batch doc_ids are offset into their own id space so a planted
    * batch can never collide with a corpus doc_id.
    */
  val BatchIdOffset = 1000000L

  private def fpsPath(path: String) = s"$path/fps"
  private def sigsPath(path: String) = s"$path/sigs"
  private def bandsPath(path: String) = s"$path/bands"

  /** The artifact's lifecycle. Every sub-table is content keyed by
    * doc_id: bands bucket by (doc_id, b) with b < [[Dedup.NumBands]],
    * so a takedown enumerates ids × bands; rsh (the opt-in containment
    * lens) buckets by doc_id, but one committed before its contract was
    * recorded was bucketed by (doc_id, h) and is rewritten whole.
    * Readers resolve through the root snapshot — one atomic (fps_v,
    * sigs_v, bands_v, rsh_v) tuple per mutation, so a serve landing
    * mid-extend can never match a doc's fingerprint in the new fps
    * version while probing its bands in the old one.
    */
  private val layout = {
    import Artifacts.{Keying, Sub, byId}
    Artifacts.Layout("DedupIndex", Seq(
      Sub("fps", Some(byId("doc_id"))),
      Sub("sigs", Some(byId("doc_id"))),
      Sub("bands", Some(Keying("doc_id", Seq("doc_id", "b"),
        id => (0 until Dedup.NumBands).map(b => Seq(id, b)), Seq("doc_id", "b")))),
      Sub("rsh", Some(byId("doc_id", "h")))))
  }

  /** The three index frames of a (doc_id, text) corpus — shared by the
    * committed build and the in-session oracle query, so what the
    * artifact stores IS what the oracle checks.
    */
  def fps(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), md5(col("text")).as("fp"))

  def sigs(documents: DataFrame): DataFrame =
    Dedup.minhashSignature(documents)

  def bands(documents: DataFrame): DataFrame =
    Dedup.minhashBands(Dedup.minhashSignature(documents))

  /** Commit `documents` into the index at `path` as version `buildV`.
    * Keyed merge: calling this with a NEW batch extends the index
    * incrementally (the production regime — admit, then merge); calling
    * it with an already-ingested batch is an idempotent no-op rewrite.
    */
  def build(documents: DataFrame, path: String, buildV: Long = 0L): Unit = {
    val spark = documents.sparkSession
    val v = lit(buildV).as("build_v")
    VersionedTable.mergeUpsert(spark, fpsPath(path),
      fps(documents).select(col("doc_id"), col("fp"), v),
      Seq("doc_id"), "build_v", numBuckets = 16)
    VersionedTable.mergeUpsert(spark, sigsPath(path),
      sigs(documents).select(col("doc_id"), col("mh"), v),
      Seq("doc_id"), "build_v", numBuckets = 16)
    VersionedTable.mergeUpsert(spark, bandsPath(path),
      bands(documents).select(col("doc_id"), col("b"), col("band_key"), v),
      Seq("doc_id", "b"), "build_v", numBuckets = 16)
    // the root snapshot publishes LAST: a crash above leaves readers on
    // the previous consistent (fps, sigs, bands) tuple, and the replay
    // (this merge is idempotent) re-lands the data and publishes
    layout.publish(spark, path, refresh = Seq("fps", "sigs", "bands"))
  }

  /** Incremental ingest — the same keyed merge as [[build]], named for
    * the call site: serve a batch, admit the non-duplicates, extend.
    */
  def extend(newDocs: DataFrame, path: String, buildV: Long): Unit =
    build(newDocs, path, buildV)

  /** Storage maintenance for the state tables — what a long-running
    * admission stream must run on a cadence or the index directory
    * grows WITHOUT BOUND: every extend commits a new version, and the
    * superseded versions' data dirs stay on disk for pinned readers
    * (plus multi-file buckets from parallel writes). See
    * [[Artifacts.Layout.maintain]].
    */
  def maintain(spark: SparkSession, path: String, maxFilesPerBucket: Int = 1,
               keepVersions: Int = 8, minAgeMs: Long = 0L,
               protectGroups: Int = 2): Unit =
    layout.maintain(spark, path, maxFilesPerBucket, keepVersions, minAgeMs, protectGroups)

  /** Takedown / retraction — the compliance op that completes the
    * artifact lifecycle (build / extend / serve / compact / vacuum /
    * RETRACT): remove every index row belonging to `docIds` from every
    * sub-table present (fps/sigs/bands, plus the opt-in containment
    * lens when it exists at this path). BUCKET-PRUNED: each sub-table's
    * bucket id is a pure function of keys the takedown list determines,
    * so the touched-bucket set is computed FROM the id list (hashed on
    * the driver exactly as the writer hashed, no job) and a 10-doc
    * takedown on a multi-TB index rewrites a handful of bucket dirs,
    * never the table. Atomic per sub-table, race-safe against a
    * concurrent extend (the loser refolds the winner's buckets), and
    * IDEMPOTENT. Effective at serve immediately: a duplicate of removed
    * content is ADMITTED afterwards, which is exactly the takedown
    * semantics (the content is no longer in the corpus, so its next
    * arrival is legitimately new). Refuses a path with no committed
    * sub-table before any effect ([[Artifacts.Layout.retract]]).
    */
  def retract(spark: SparkSession, path: String,
              docIds: Seq[Long]): Seq[TakedownReceipt] =
    layout.retract(spark, path, docIds)

  /** Classify a (doc_id, text) batch against corpus index FRAMES:
    * (doc_id, kind, match_id) with kind ∈ exact|near|new, match_id the
    * smallest matching corpus doc_id (exact wins over near; −1 when
    * new). The core both the committed serve path and the in-session
    * oracle query run — so the artifact round-trip is pinned equal to
    * the oracle-checked plan.
    *
    * Scale: exact is one fp-keyed equi-join; candidates are one
    * (b, band_key)-keyed equi-join against the occupancy-CAPPED corpus
    * bands (a batch doc probes ≤ NumBands·cap corpus docs — the C2
    * bound); verify touches candidates only. Every join is keyed, every
    * agg partial; corpus text is never read.
    */
  def matchAgainst(batch: DataFrame, corpFps: DataFrame, corpSigs: DataFrame,
                   corpBands: DataFrame): DataFrame = {
    val bFps = fps(batch)
    val exact = bFps
      .join(corpFps.select(col("fp"), col("doc_id").as("c_id")), "fp")
      .groupBy("doc_id").agg(min(col("c_id")).as("exact_id"))
    val bSigs = graft.GraftCache.persistTracked(sigs(batch))
    val bBands = Dedup.minhashBands(bSigs)
    val cand = bBands
      .join(
        Dedup.capBands(corpBands)
          .select(col("b"), col("band_key"), col("doc_id").as("c_id")),
        Seq("b", "band_key"))
      .select(col("doc_id"), col("c_id"))
      .distinct()
    val near = cand
      .join(bSigs, "doc_id")
      .join(corpSigs.select(col("doc_id").as("c_id"), col("mh").as("c_mh")), "c_id")
      .filter(
        size(filter(zip_with(col("mh"), col("c_mh"), (x, y) => x === y), b => b))
          >= NearMinAgree)
      .groupBy("doc_id").agg(min(col("c_id")).as("near_id"))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_id").isNotNull, lit("exact"))
          .when(col("near_id").isNotNull, lit("near"))
          .otherwise(lit("new")).as("kind"),
        coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
  }

  /** Serve a batch from the COMMITTED index: [[matchAgainst]] with the
    * three frames loaded from `path` at the latest committed version —
    * snapshot-isolated, so a concurrent extend never tears mid-serve.
    */
  def serve(batch: DataFrame, path: String): DataFrame = {
    val (f, s, b) = loadFrames(batch.sparkSession, path)
    matchAgainst(batch, f, s, b)
  }

  /** [[serve]] pinned to a NAMED root snapshot — the audit/replay read
    * path: feed a pipeline snapshot's `groupPin(indexPath)` here to
    * re-draw verdicts against exactly the index state batch N used,
    * immune to every extend/retract since (r12; strict — a vacuumed
    * pin refuses, see the protectGroups retention contract).
    */
  def serveAt(batch: DataFrame, path: String, groupVersion: Long): DataFrame = {
    val (f, s, b) = loadFrames(batch.sparkSession, path, Some(groupVersion))
    matchAgainst(batch, f, s, b)
  }

  /** Band occupancy of the COMMITTED bands sub-table — the C86b twin on
    * the dedup side ([[Dedup.bandOccupancyOf]], same arithmetic as the
    * in-session C89 diagnostic): per band index, how the SERVE-time cap
    * ([[Dedup.capBands]] against current occupancy) treats the
    * artifact's current state. AnnIndex got `rebalance` at a load bar;
    * the band table has the same skew failure (one mega-band = one
    * mega-probe), and this is its observable. NumBands-row output,
    * safe at any cadence.
    */
  def bandOccupancy(spark: SparkSession, path: String,
                    cap: Int = Dedup.MaxBucketOccupancy): DataFrame =
    Dedup.bandOccupancyOf(
      graft.sources.Sinks.ArtifactSnapshot.read(spark, path, "bands")
        .select("b", "band_key"),
      cap)

  /** The serve-cap drop telemetry as two numbers — (hot buckets, rows
    * the cap excludes from the candidate join), summed across band
    * indices: what the admission loop files into the AdmissionLog on
    * its maintenance cadence so "how much the cap is eating" is a
    * funnel observable, not a silent serve-side truncation.
    */
  def bandCapStats(spark: SparkSession, path: String,
                   cap: Int = Dedup.MaxBucketOccupancy): (Long, Long) = {
    // coalesce: the bands sub-table can be EMPTY (a full takedown
    // retracted every doc) — sum() over zero rows is NULL and the
    // maintenance-cadence funnel filing must report (0, 0), not NPE.
    val agg = bandOccupancy(spark, path, cap)
      .agg(coalesce(sum("n_hot_buckets"), lit(0L)).as("hot"),
           coalesce(sum("n_dropped_docs"), lit(0L)).as("dropped"))
      .head()
    (agg.getLong(0), agg.getLong(1))
  }

  /** The three index frames at the latest committed version — loaded
    * ONCE by a serving job (the streaming probe snapshots them at
    * stream start, so a concurrent extend never tears mid-stream;
    * restart the stream to pick up a newer index version).
    */
  /** `groupVersion`: pin the whole read to a NAMED root snapshot (the
    * reproducible-serving knob — an audit or a replayed serving job
    * resolves exactly the tuple that snapshot published, immune to
    * concurrent extends); None = the latest snapshot.
    */
  def loadFrames(spark: SparkSession, path: String,
                 groupVersion: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {
    val snap = graft.sources.Sinks.ArtifactSnapshot
    // ONE pin-set for all three frames (r11 review): a snapshot landing
    // between two per-sub resolutions would otherwise hand the serve
    // fps from one snapshot and bands from the next — the exact tear
    // the layer closes. Named versions refuse on absent groups/subs.
    val parts: Map[String, Long] = groupVersion match {
      case Some(g) =>
        graft.sources.Sinks.VersionedTable.groupAt(spark, path, g)
          .getOrElse(throw new IllegalArgumentException(
            s"DedupIndex.loadFrames: no intact group manifest $g at $path " +
              "(group retention pruned it, or it never existed)"))
      case None => snap.pins(spark, path)
    }
    def rd(sub: String) = {
      if (groupVersion.isDefined) {
        require(parts.contains(sub),
          s"DedupIndex.loadFrames: group ${groupVersion.get} at $path does " +
            s"not pin '$sub' (pins: ${parts.keys.toSeq.sorted.mkString(", ")})")
        // named snapshots never fall forward — a vacuumed pin refuses
        // (the readAt strictness; keep the group inside protectGroups)
        snap.readWithStrict(spark, path, sub, parts)
      } else snap.readWith(spark, path, sub, parts)
    }
    (rd("fps").select("doc_id", "fp"),
      rd("sigs").select("doc_id", "mh"),
      rd("bands").select("doc_id", "b", "band_key"))
  }

  // ------------------------------------------------------ oracle query

  /** The deterministically planted "new crawl batch" the oracle query
    * classifies: every 5th corpus doc arrives again (id-offset into
    * batch space) as one of three mutations cycling on doc_id%3 —
    * verbatim (must classify exact), one appended junk token (a near
    * dup: 3 of ~n shingles change, Jaccard ≈ 0.97), or every token
    * salted with the doc's own id (novel: its shingle set is disjoint
    * from every corpus doc's, so no MinHash can collide). The same
    * construction the curation lenses use (C60's planted markup, C62's
    * planted dirt) — SQL-mirrorable codepoint for codepoint.
    */
  def plantedBatch(documents: DataFrame): DataFrame =
    documents
      .filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(
        (col("doc_id") + BatchIdOffset).as("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0L, col("text"))
          .when(pmod(col("doc_id"), lit(3L)) === 1L,
            concat(col("text"), lit(" xqzzy")))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("doc_id").cast("string"))), " "))
          .as("text"))

  /** C66's registered query: classify the planted batch against the
    * corpus through the SAME core the committed artifact serves
    * (DedupIndexSpec pins serve(path) == this, row for row).
    */
  def dedupVsCorpus(documents: DataFrame): DataFrame =
    matchAgainst(plantedBatch(documents),
      fps(documents), sigs(documents), bands(documents))

  val dedupVsCorpusSql: String = {
    val sigExpr = Dedup.minhashSigSqlExpr
    s"""WITH batch AS (
       |  SELECT doc_id + $BatchIdOffset AS doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text
       |         WHEN doc_id % 3 = 1 THEN text || ' xqzzy'
       |         ELSE array_to_string(list_transform(string_split(text, ' '),
       |                t -> t || '~' || CAST(doc_id AS VARCHAR)), ' ')
       |    END AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |csig AS (SELECT doc_id, $sigExpr AS mh FROM documents),
       |bsig AS (SELECT doc_id, $sigExpr AS mh FROM batch),
       |cbands_all AS (
       |  SELECT doc_id, b, md5(mh[2*b+1] || mh[2*b+2]) AS band_key
       |  FROM csig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS b)),
       |cbands AS (
       |  SELECT doc_id, b, band_key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY b, band_key) AS occ FROM cbands_all)
       |  WHERE occ <= ${Dedup.MaxBucketOccupancy}),
       |bbands AS (
       |  SELECT doc_id, b, md5(mh[2*b+1] || mh[2*b+2]) AS band_key
       |  FROM bsig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS b)),
       |exact AS (
       |  SELECT bf.doc_id, min(cf.doc_id) AS exact_id
       |  FROM (SELECT doc_id, md5(text) AS fp FROM batch) bf
       |  JOIN (SELECT doc_id, md5(text) AS fp FROM documents) cf USING (fp)
       |  GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT bb.doc_id AS doc_id, cb.doc_id AS c_id
       |  FROM bbands bb JOIN cbands cb ON bb.b = cb.b AND bb.band_key = cb.band_key),
       |near AS (
       |  SELECT cand.doc_id, min(cand.c_id) AS near_id
       |  FROM cand
       |  JOIN bsig ON cand.doc_id = bsig.doc_id
       |  JOIN csig ON cand.c_id = csig.doc_id
       |  WHERE len(list_filter(list_zip(bsig.mh, csig.mh), p -> p[1] = p[2]))
       |        >= $NearMinAgree
       |  GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
       |       WHEN n.near_id IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS kind,
       |  coalesce(e.exact_id, n.near_id, -1) AS match_id
       |FROM batch b
       |LEFT JOIN exact e ON b.doc_id = e.doc_id
       |LEFT JOIN near n ON b.doc_id = n.doc_id""".stripMargin
  }

  // ------------------- C72: committed containment lens -------------------

  /** C72 — the CONTAINMENT verdict the exact/near serve structurally
    * lacks: an arriving doc that is a QUOTE of an existing corpus doc
    * (a prefix, an excerpt, a pull-quote page) has Jaccard ≈ |A|/|B|
    * against its source, far below the near threshold, so [[serve]]
    * admits it as `new`. The committed containment lens persists the
    * corpus's distinct shingle-hash sets ([[Dedup.shingleHashes]],
    * UNCAPPED — like the band table, the stop-shingle df gate is
    * applied at SERVE against current occupancy, so incremental extends
    * cannot drift from a fresh rebuild) and classifies a probe by the
    * bottom-k containment estimator: sample the probe's k smallest
    * corpus-rare hashes, count how many land in a corpus doc's set —
    * expected hits ≈ k·containment — and flag `contained` at
    * ≥ [[Dedup.ContainMinHits]] hits. An ESTIMATOR verdict by design
    * (like `near`'s 4-of-8 signature agreement): the committed serve
    * path never reads corpus text, so there is no exact-verify stage —
    * the estimator's floor (minHits/k) is the documented contract.
    * Storage honesty: rsh is the EXPENSIVE sub-table (~hundreds of
    * rows/doc vs 4 band rows) — it is a separate opt-in lifecycle
    * ([[buildContain]]/[[extendContain]]/[[serveContain]]), not part of
    * [[build]], so exact/near-only deployments never pay for it.
    */
  def buildContain(documents: DataFrame, path: String, buildV: Long = 0L): Unit = {
    val spark = documents.sparkSession
    // bucketKeys = doc_id (a PREFIX of the (doc_id, h) merge key): all of
    // a doc's shingle rows land in one bucket, so [[retract]] can compute
    // the touched buckets from the takedown id list alone — the h values
    // (unbounded, known only to the data) never need enumerating.
    VersionedTable.mergeUpsert(spark, s"$path/rsh",
      Dedup.shingleHashes(documents).withColumn("build_v", lit(buildV)),
      Seq("doc_id", "h"), "build_v", numBuckets = 16,
      bucketKeys = Seq("doc_id"))
    layout.publish(spark, path, refresh = Seq("rsh"))
  }

  /** Incremental ingest of the containment lens — same keyed merge. */
  def extendContain(newDocs: DataFrame, path: String, buildV: Long): Unit =
    buildContain(newDocs, path, buildV)

  /** Classify a (doc_id, text) batch against corpus shingle-set FRAMES —
    * the core both the committed serve and the oracle query run:
    * (doc_id, kind ∈ contained|new, match_id, n_hits) with match_id the
    * best-estimate corpus doc (most sampled hits, ties to the smallest
    * id; −1 when new) and n_hits that best match's sampled-hit count.
    * Scale: df is one partial hash agg on h; the hot (boilerplate)
    * hashes drop out of BOTH join sides (the C71 drop-mode rule), so no
    * join can skew on them; probe side ≤ k rows/doc; per-probe-row
    * fan-out ≤ cap; the argmax is a bounded struct-max hash agg, no
    * window over the batch.
    */
  def matchContainment(batch: DataFrame, corpusSh: DataFrame,
                       k: Int = Dedup.ContainK,
                       minHits: Int = Dedup.ContainMinHits,
                       cap: Int = Dedup.ContainShingleCap): DataFrame = {
    import graft.functions.Exprs
    val df = corpusSh.groupBy("h").agg(count(lit(1)).as("df"))
    val hotHs = df.filter(col("df") > cap).select("h")
    val cIndex = corpusSh.join(hotHs, Seq("h"), "left_anti")
    // probe rarity is judged by CORPUS df: a hash absent from the
    // corpus is rare by definition (df 0) and stays in the sample
    val bRare = Dedup.shingleHashes(batch).join(hotHs, Seq("h"), "left_anti")
    val probe = bRare.groupBy("doc_id").agg(Exprs.minK(col("h"), k).as("hs"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val hits = probe
      .join(cIndex.select(col("h"), col("doc_id").as("c_id")), "h")
      .groupBy("doc_id", "c_id").agg(count(lit(1)).as("h_n"))
    val best = hits.groupBy("doc_id")
      .agg(max(struct(col("h_n"), (-col("c_id")).as("neg"))).as("m"))
      .select(col("doc_id"), col("m.h_n").as("best_n"), (-col("m.neg")).as("best_id"))
    batch.select("doc_id").distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("best_n"), lit(0L)) >= minHits, lit("contained"))
          .otherwise(lit("new")).as("kind"),
        when(coalesce(col("best_n"), lit(0L)) >= minHits, col("best_id"))
          .otherwise(lit(-1L)).as("match_id"),
        coalesce(col("best_n"), lit(0L)).as("n_hits"))
  }

  /** The committed corpus shingle frame (snapshot read) — the streaming
    * twin pins one snapshot at stream start. */
  def loadContainFrame(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.ArtifactSnapshot.read(spark, path, "rsh")
      .select("doc_id", "h")

  /** Serve the containment verdicts from the COMMITTED lens. */
  def serveContain(batch: DataFrame, path: String): DataFrame =
    matchContainment(batch, loadContainFrame(batch.sparkSession, path))

  /** C72's planted batch: quotes (first 10 tokens of a corpus doc — the
    * signature case: contained, Jaccard ≈ 0), verbatim copies
    * (containment 1), and per-doc-salted novels (no corpus hash).
    */
  def plantedContainBatch(documents: DataFrame): DataFrame =
    documents
      .filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(
        (col("doc_id") + BatchIdOffset).as("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          array_join(slice(split(col("text"), " "), 1, 10), " "))
          .when(pmod(col("doc_id"), lit(3L)) === 1L, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("doc_id").cast("string"))), " "))
          .as("text"))

  /** C72's registered query: the planted batch against the corpus
    * through the SAME core the committed lens serves (DedupIndexSpec
    * pins serveContain(path) == this, row for row).
    */
  def containVsCorpus(documents: DataFrame): DataFrame =
    matchContainment(plantedContainBatch(documents), Dedup.shingleHashes(documents))

  val containVsCorpusSql: String = {
    val k = Dedup.ContainK
    val minHits = Dedup.ContainMinHits
    val cap = Dedup.ContainShingleCap
    s"""WITH batch AS (
       |  SELECT doc_id + $BatchIdOffset AS doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |           THEN array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
       |         WHEN doc_id % 3 = 1 THEN text
       |         ELSE array_to_string(list_transform(string_split(text, ' '),
       |                t -> t || '~' || CAST(doc_id AS VARCHAR)), ' ')
       |    END AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |${Dedup.shingleHashesSqlCte("documents", "csh")},
       |${Dedup.shingleHashesSqlCte("batch", "bsh")},
       |cdf AS (SELECT h, count(*) AS df FROM csh GROUP BY 1),
       |cidx AS (SELECT csh.doc_id, csh.h FROM csh
       |  JOIN cdf ON csh.h = cdf.h AND cdf.df <= $cap),
       |brare AS (SELECT bsh.doc_id, bsh.h FROM bsh
       |  LEFT JOIN cdf ON bsh.h = cdf.h WHERE coalesce(cdf.df, 0) <= $cap),
       |probe AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
       |    FROM brare)
       |  WHERE rn <= $k),
       |hits AS (SELECT probe.doc_id, cidx.doc_id AS c_id, count(*) AS h_n
       |  FROM probe JOIN cidx USING (h) GROUP BY 1, 2),
       |best AS (SELECT doc_id, c_id AS best_id, h_n AS best_n FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY h_n DESC, c_id) AS rn
       |    FROM hits)
       |  WHERE rn = 1)
       |SELECT b.doc_id,
       |  CASE WHEN coalesce(best_n, 0) >= $minHits THEN 'contained' ELSE 'new' END AS kind,
       |  CAST(CASE WHEN coalesce(best_n, 0) >= $minHits THEN best_id ELSE -1 END AS BIGINT) AS match_id,
       |  CAST(coalesce(best_n, 0) AS BIGINT) AS n_hits
       |FROM (SELECT DISTINCT doc_id FROM batch) b
       |LEFT JOIN best USING (doc_id)""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_vs_corpus" -> ((s, d) => dedupVsCorpus(Tables.documents(s, d))),
    "q_contain_vs_corpus" -> ((s, d) => containVsCorpus(Tables.documents(s, d))))

  def oracle: Map[String, String] = Map(
    "q_dedup_vs_corpus" -> dedupVsCorpusSql,
    "q_contain_vs_corpus" -> containVsCorpusSql)
}
