package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks.VersionedTable

/** The COMMITTED perceptual-fingerprint index (C12e) — the artifact the
  * streaming media probes were missing: until round 10 the continuous
  * image/video dedup twins probed a CALLER-PASSED fingerprint frame
  * (whatever the session had in memory), which is not an artifact
  * boundary — no versioned commits, no incremental extend, no takedown.
  * This object gives the perceptual lenses the same lifecycle the text
  * dedup corpus has in [[DedupIndex]] and the vector corpus has in
  * [[AnnIndex]]: fingerprints persisted through the transactional table
  * format, so
  *  (a) a serving job — batch or streaming — LOADS the corpus
  *      fingerprints instead of recomputing them (the decode kernels
  *      never touch committed media again),
  *  (b) new crawl batches extend incrementally (keyed latest-wins merge
  *      touching only the delta's buckets),
  *  (c) commits are atomic + snapshot-isolated (a probe never sees half
  *      an ingest), and
  *  (d) takedown is first-class and BUCKET-PRUNED: retracting a media
  *      id rewrites only the bucket its fingerprint row hashes into
  *      ([[Artifacts.Layout.retract]]), after which the retracted
  *      content stops matching at serve immediately.
  *
  * Layout under `path/` (each sub-table opt-in, keyed and BUCKETED by
  * doc_id so the takedown bucket set is computable from the id list):
  *  - `img` — (doc_id, phash, build_v): [[ImageDedup]]'s 64-bit aHash.
  *  - `vid` — (doc_id, vhash, build_v): [[VideoDedup]]'s temporal hash.
  *  - `aud` — (doc_id, afp, build_v): [[AudioDedup]]'s energy signs.
  *
  * Scale: fingerprints are ~64 chars/doc — the index is orders of
  * magnitude smaller than the media it summarizes, and serve is the
  * shared [[BandedPairs.probeJoin]] (banded equi-join, occupancy-capped
  * index side, codegen Hamming verify) — no all-pairs anywhere, probe
  * cost independent of corpus size past the band cap.
  */
object MediaIndex {

  /** Per-modality descriptor — the one place a sub-table's fingerprint
    * column, decode kernel, and banding parameters live, so build,
    * extend, load and serve, the admission loop
    * ([[graft.streaming.EventStream.mediaAdmitBatch]]) and the banned-
    * media registry ([[MediaRegistry]]) dispatch off the same row
    * instead of three hand-kept copies.
    */
  private[graft] final case class Mode(name: String, fpCol: String,
      kernel: (DataFrame, String) => DataFrame,
      numBands: Int, bandBits: Int, threshold: Int) {
    def sub(path: String): String = s"$path/$name"

    /** The banded probe join of already-fingerprinted `probe` rows
      * (keyed `probeId`) against `index` (doc_id, fpCol): (probeId,
      * doc_id, hamming ≤ threshold). */
    def probeJoin(probe: DataFrame, probeId: String, index: DataFrame,
                  indexId: String = "doc_id"): DataFrame =
      BandedPairs.probeJoin(probe, probeId, index, indexId, fpCol,
        numBands, bandBits, threshold)
  }

  private[graft] val modes: Map[String, Mode] = Map(
    "img" -> Mode("img", "phash",
      (df, id) => ImageDedup.phashPayloads(df, id),
      ImageDedup.NumBands, ImageDedup.BandBits, ImageDedup.HammingThreshold),
    "vid" -> Mode("vid", "vhash",
      (df, id) => VideoDedup.vhashPayloads(df, id),
      VideoDedup.NumBands, VideoDedup.BandBits, VideoDedup.HammingThreshold),
    "aud" -> Mode("aud", "afp",
      (df, id) => AudioDedup.fpPayloads(df, id),
      AudioDedup.NumBands, AudioDedup.BandBits, AudioDedup.HammingThreshold))

  private[graft] def mode(modality: String): Mode =
    modes.getOrElse(modality, throw new IllegalArgumentException(
      s"MediaIndex: unknown modality '$modality' (expected one of ${modes.keys.mkString("/")})"))

  /** The artifact's lifecycle: one sub-table per modality, keyed and
    * bucketed by doc_id. The root snapshot exists for REPRODUCIBLE
    * serving ([[loadFpsAt]] / a probe stream pinned to one group keeps
    * matching exactly that state across later extends and retracts)
    * and for pipeline snapshots to pin the media index as one
    * reference; per-table atomicity already covers the independent
    * img/vid/aud serves.
    */
  private val layout = Artifacts.Layout("MediaIndex",
    Seq("img", "vid", "aud").map(Artifacts.Sub(_, Some(Artifacts.byId("doc_id")))))

  /** Extend a modality's sub-table from an ALREADY-FINGERPRINTED
    * (doc_id, fpCol) frame as version `buildV` — the admission loop
    * decodes each batch's payloads exactly once and feeds the same fps
    * frame to both the serve probe and this extend (re-running the
    * codec kernel per effect would double the dominant per-batch cost).
    * Keyed merge: a new batch extends incrementally; a replayed batch
    * is an idempotent no-op rewrite.
    */
  private[graft] def extendFps(fps: DataFrame, path: String,
                               modality: String, buildV: Long): Unit = {
    val m = mode(modality)
    VersionedTable.mergeUpsert(fps.sparkSession, m.sub(path),
      fps.select(col("doc_id"), col(m.fpCol), lit(buildV).as("build_v")),
      Seq("doc_id"), "build_v", numBuckets = 16)
    layout.publish(fps.sparkSession, path, refresh = Seq(m.name))
  }

  /** Fingerprint `media` (doc_id, payload) with the modality's decode
    * kernel (undecodable payloads quarantined by its null filter) and
    * commit into the modality's sub-table as version `buildV` — the
    * same keyed merge builds and extends.
    */
  def build(media: DataFrame, path: String, modality: String, buildV: Long = 0L): Unit =
    extendFps(mode(modality).kernel(media, "doc_id"), path, modality, buildV)

  /** The committed (doc_id, fpCol) fingerprints for one modality at the
    * latest version (a streaming probe snapshots this at stream start —
    * restart the stream to pick up a newer index version).
    */
  def loadFps(spark: SparkSession, path: String, modality: String): DataFrame = {
    val m = mode(modality)
    VersionedTable.read(spark, m.sub(path)).select("doc_id", m.fpCol)
  }

  /** True iff the modality's sub-table has at least one committed
    * version — the fail-fast probe stream starters use (reading an
    * uncommitted table throws; a stream must refuse at start, not
    * crash-loop batch 0).
    */
  def isBuilt(spark: SparkSession, path: String, modality: String): Boolean =
    VersionedTable.latestManifest(spark, mode(modality).sub(path)).isDefined

  /** The latest root-snapshot (group) version — what a reproducible
    * serving job pins and [[loadFpsAt]] resolves. None for artifacts
    * built before the snapshot layer.
    */
  def latestGroupVersion(spark: SparkSession, path: String): Option[Long] =
    VersionedTable.latestGroup(spark, path).map(_._1)

  /** One modality's committed fingerprints as pinned by a NAMED root
    * snapshot — the `groupAt` read path ([[graft.sources.Sinks
    * .ArtifactSnapshot.readAt]]): a probe job pinned to group `g`
    * serves its whole lifetime from that state, immune to concurrent
    * extends AND retracts (a compliance audit replaying pre-takedown
    * verdicts needs exactly this). Refuses loudly on an unknown/pruned
    * group or a modality the snapshot never pinned — keep the group
    * inside the maintenance sweep's protectGroups window.
    */
  def loadFpsAt(spark: SparkSession, path: String, modality: String,
                groupVersion: Long): DataFrame = {
    val m = mode(modality)
    graft.sources.Sinks.ArtifactSnapshot.readAt(spark, path, m.name, groupVersion)
      .select("doc_id", m.fpCol)
  }

  /** Probe (media_id, payload) against the committed `fps` of one
    * modality: (media_id, doc_id, hamming ≤ the modality's threshold).
    * Each incoming payload is fingerprinted by the modality's STATELESS
    * decode kernel (real ImageIO / RIFF-AVI / WAV decode in
    * mapPartitions) and checked via the banded probe join. Every step
    * is a projection, explode, or stream-static equi-join, so `media`
    * may be a streaming frame: append mode, NO state store, and the
    * first-equal-band rule dedups multi-band matches statelessly.
    * Undecodable payloads quarantine in the kernel's null filter.
    */
  def matches(media: DataFrame, fps: DataFrame, modality: String): DataFrame = {
    val m = mode(modality)
    m.probeJoin(m.kernel(media, "media_id"), "media_id", fps)
  }

  /** [[matches]] against the COMMITTED index at `path`, latest version. */
  def serve(media: DataFrame, path: String, modality: String): DataFrame =
    matches(media, loadFps(media.sparkSession, path, modality), modality)

  /** Takedown — BUCKET-PRUNED like [[DedupIndex.retract]]: every
    * sub-table buckets by doc_id, so the touched-bucket set comes
    * straight from the id list; a handful of bucket dirs rewrite, the
    * rest carry over by manifest reference. Atomic per sub-table,
    * idempotent (absent ids are a no-op), effective at the next serve
    * snapshot: the retracted media's fingerprint is gone, so a copy of
    * removed content legitimately probes as novel afterwards.
    */
  def retract(spark: SparkSession, path: String,
              docIds: Seq[Long]): Seq[TakedownReceipt] =
    layout.retract(spark, path, docIds)

  /** Storage maintenance on the ingest cadence — compact fragmented
    * buckets, vacuum superseded versions; same contract as
    * [[DedupIndex.maintain]]. */
  def maintain(spark: SparkSession, path: String, maxFilesPerBucket: Int = 1,
               keepVersions: Int = 8, minAgeMs: Long = 0L,
               protectGroups: Int = 2): Unit =
    layout.maintain(spark, path, maxFilesPerBucket, keepVersions, minAgeMs, protectGroups)
}
