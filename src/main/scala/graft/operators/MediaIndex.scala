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
  *      ([[VersionedTable.replaceBuckets]]), after which the retracted
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

  private def imgPath(path: String) = s"$path/img"
  private def vidPath(path: String) = s"$path/vid"
  private def audPath(path: String) = s"$path/aud"

  private def subTables(path: String) =
    Seq(imgPath(path), vidPath(path), audPath(path))

  /** Per-modality descriptor — the one place a sub-table's fingerprint
    * column, decode kernel, and banding parameters live, so the
    * admission loop ([[graft.streaming.EventStream.mediaAdmitBatch]])
    * and the serve/extend facades dispatch off the same row instead of
    * three hand-kept copies.
    */
  private[graft] final case class Mode(name: String, fpCol: String,
      kernel: (DataFrame, String) => DataFrame,
      numBands: Int, bandBits: Int, threshold: Int) {
    def sub(path: String): String = s"$path/$name"
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

  /** Extend a modality's sub-table from an ALREADY-FINGERPRINTED
    * (doc_id, fpCol) frame — the admission loop decodes each batch's
    * payloads exactly once and feeds the same fps frame to both the
    * serve probe and this extend (re-running the codec kernel per
    * effect would double the dominant per-batch cost).
    */
  private[graft] def extendFps(fps: DataFrame, path: String,
                               modality: String, buildV: Long): Unit = {
    val m = mode(modality)
    commitFps(fps, m.sub(path), m.fpCol, buildV)
  }

  /** The committed (doc_id, fpCol) fingerprints for one modality at the
    * latest version. */
  private[graft] def loadFps(spark: SparkSession, path: String,
                             modality: String): DataFrame = {
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

  /** Sub-table names as recorded in the root snapshot manifest. */
  private val SubNames = Seq("img", "vid", "aud")

  /** Publish the artifact's root snapshot refreshing the sub-tables a
    * mutation bumped — the named-snapshot parity text/embeddings got in
    * r11 (r12): per-table atomicity already covers the independent
    * img/vid/aud serves, so the GROUP layer here exists for
    * REPRODUCIBLE serving ([[loadFpsAt]] / a probe stream pinned to one
    * group keeps matching exactly that state across later extends and
    * retracts) and for pipeline snapshots to pin the media index as one
    * reference.
    */
  private def commitSnapshot(spark: SparkSession, path: String,
                             refresh: Seq[String]): Long =
    graft.sources.Sinks.ArtifactSnapshot.commit(spark, path, SubNames, refresh)

  private def commitFps(fps: DataFrame, sub: String, fpCol: String,
                        buildV: Long): Unit = {
    VersionedTable.mergeUpsert(fps.sparkSession, sub,
      fps.select(col("doc_id"), col(fpCol), lit(buildV).as("build_v")),
      Seq("doc_id"), "build_v", numBuckets = 16)
    commitSnapshot(fps.sparkSession, sub.substring(0, sub.lastIndexOf('/')),
      Seq(sub.substring(sub.lastIndexOf('/') + 1)))
  }

  /** Fingerprint `media` (doc_id, payload — real decode kernel,
    * undecodable payloads quarantined by the kernel's null filter) and
    * commit into the image sub-table as version `buildV`. Keyed merge:
    * a new batch extends incrementally; a replayed batch is an
    * idempotent no-op rewrite.
    */
  def buildImages(media: DataFrame, path: String, buildV: Long = 0L): Unit =
    commitFps(ImageDedup.phashPayloads(media), imgPath(path), "phash", buildV)

  /** Incremental image ingest — the same keyed merge, named for the
    * call site. */
  def extendImages(media: DataFrame, path: String, buildV: Long): Unit =
    buildImages(media, path, buildV)

  /** Fingerprint and commit video clips — [[buildImages]]' twin over
    * the temporal-hash kernel. */
  def buildVideos(media: DataFrame, path: String, buildV: Long = 0L): Unit =
    commitFps(VideoDedup.vhashPayloads(media), vidPath(path), "vhash", buildV)

  def extendVideos(media: DataFrame, path: String, buildV: Long): Unit =
    buildVideos(media, path, buildV)

  /** Fingerprint and commit audio clips — the energy-sign kernel over a
    * real WAV decode, completing per-modality takedown parity. */
  def buildAudio(media: DataFrame, path: String, buildV: Long = 0L): Unit =
    commitFps(AudioDedup.fpPayloads(media), audPath(path), "afp", buildV)

  def extendAudio(media: DataFrame, path: String, buildV: Long): Unit =
    buildAudio(media, path, buildV)

  /** The committed image fingerprints at the latest version (a
    * streaming probe snapshots this at stream start — restart the
    * stream to pick up a newer index version).
    */
  def loadImageFps(spark: SparkSession, path: String): DataFrame =
    VersionedTable.read(spark, imgPath(path)).select("doc_id", "phash")

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

  def loadVideoFps(spark: SparkSession, path: String): DataFrame =
    VersionedTable.read(spark, vidPath(path)).select("doc_id", "vhash")

  def loadAudioFps(spark: SparkSession, path: String): DataFrame =
    VersionedTable.read(spark, audPath(path)).select("doc_id", "afp")

  /** Probe (media_id, payload) against the COMMITTED image index:
    * (media_id, doc_id, hamming ≤ threshold). Same kernel + banded
    * probe join as the in-session path; `media` may be a streaming
    * frame (stream-static join — see EventStream.streamingImagePhashServe).
    */
  def serveImages(media: DataFrame, path: String,
                  threshold: Int = ImageDedup.HammingThreshold): DataFrame =
    BandedPairs.probeJoin(
      ImageDedup.phashPayloads(media, "media_id"), "media_id",
      loadImageFps(media.sparkSession, path), "doc_id", "phash",
      ImageDedup.NumBands, ImageDedup.BandBits, threshold)

  def serveVideos(media: DataFrame, path: String,
                  threshold: Int = VideoDedup.HammingThreshold): DataFrame =
    BandedPairs.probeJoin(
      VideoDedup.vhashPayloads(media, "media_id"), "media_id",
      loadVideoFps(media.sparkSession, path), "doc_id", "vhash",
      VideoDedup.NumBands, VideoDedup.BandBits, threshold)

  def serveAudio(media: DataFrame, path: String,
                 threshold: Int = AudioDedup.HammingThreshold): DataFrame =
    BandedPairs.probeJoin(
      AudioDedup.fpPayloads(media, "media_id"), "media_id",
      loadAudioFps(media.sparkSession, path), "doc_id", "afp",
      AudioDedup.NumBands, AudioDedup.BandBits, threshold)

  /** Takedown — BUCKET-PRUNED like [[DedupIndex.retract]]: every
    * sub-table buckets by doc_id, so the touched-bucket set comes
    * straight from the id list; a handful of bucket dirs rewrite, the
    * rest carry over by manifest reference. Atomic per sub-table,
    * idempotent (absent ids are a no-op), effective at the next serve
    * snapshot: the retracted media's fingerprint is gone, so a copy of
    * removed content legitimately probes as novel afterwards.
    */
  def retract(spark: SparkSession, path: String,
              docIds: Seq[Long]): Seq[TakedownReceipt] = {
    require(docIds.nonEmpty, "MediaIndex.retract: empty takedown list")
    val present = subTables(path)
      .filter(sub => VersionedTable.latestManifest(spark, sub).isDefined)
    // fail LOUDLY on a path with no index at all — a typo'd takedown
    // that "succeeds" while the fingerprints stay servable is the one
    // outcome a compliance op must never have
    require(present.nonEmpty,
      s"MediaIndex.retract: no committed img/vid/aud sub-table at $path")
    // bucket-pruned under the doc_id contract; a legacy table without a
    // recorded contract is rewritten whole: slower, never wrong
    val receipts = present.map { sub =>
      Takedown.retractIds(spark, path, sub, sub.substring(sub.lastIndexOf('/') + 1),
        "doc_id", docIds, Seq("doc_id"), docIds.map(Seq(_)), Seq("doc_id"))
    }
    // ONE snapshot refreshing exactly the rewritten sub-tables, as the
    // takedown's last step (the DedupIndex.retract discipline): pinned
    // pre-retract groups keep serving the old state BY DESIGN (that is
    // what a named snapshot means); latest-group readers see the
    // retraction immediately
    commitSnapshot(spark, path,
      present.map(s => s.substring(s.lastIndexOf('/') + 1)))
    receipts
  }

  /** Storage maintenance on the ingest cadence — compact fragmented
    * buckets, vacuum superseded versions; same contract as
    * [[DedupIndex.maintain]]. */
  def maintain(spark: SparkSession, path: String, maxFilesPerBucket: Int = 1,
               keepVersions: Int = 8, minAgeMs: Long = 0L,
               protectGroups: Int = 2): Unit = {
    // named-snapshot retention (the DedupIndex.maintain contract, r12):
    // the newest N groups' pins survive the keep budget, so a probe
    // pinned to a recent group keeps serving byte-identically
    val pins = graft.sources.Sinks.ArtifactSnapshot
      .pinsRecent(spark, path, math.max(protectGroups, 1))
    for (sub <- subTables(path)
         if VersionedTable.latestManifest(spark, sub).isDefined) {
      val name = sub.substring(sub.lastIndexOf('/') + 1)
      VersionedTable.compact(spark, sub, maxFilesPerBucket)
      VersionedTable.vacuumVersioned(spark, sub, keep = keepVersions,
        minAgeMs = minAgeMs, protect = pins.getOrElse(name, Set.empty))
    }
  }
}
