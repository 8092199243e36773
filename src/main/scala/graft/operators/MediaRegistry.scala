package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks.VersionedTable

/** C110: the BANNED-MEDIA registry + retro takedown — [[Corpus
  * .retroDecontaminate]]'s media twin, and the committed form of the
  * C109 scan: a hash-list compliance program (the NCMEC-style workflow)
  * registers the PERCEPTUAL FINGERPRINTS of banned media — payloads
  * never ship, the [[EvalRegistry]] leak-safety rule — and a scheduled
  * sweep finds every committed corpus item within the modality's
  * Hamming threshold of any banned hash, then forgets it: corpus
  * tombstone, [[MediaIndex.retract]], jobId-guarded ledger filing.
  *
  * Registry lifecycle mirrors [[EvalRegistry]]: (suite, banned_id)-
  * keyed upsert (set union, replays no-op), suite-bucketed so
  * [[unregister]] retires one hash-list in a bucket-pruned rewrite,
  * versions captured at read and named in the report.
  *
  * Detection reads the RAW media corpus and re-runs the codec kernel —
  * the [[Corpus.retroDecontaminate]] crash-replay rule (an index-fps
  * scan would replay to 0 hits after a kill between the retract and
  * the ledger filing, leaving the takedown unevidenced) — so the sweep's
  * dominant cost is one decode pass over the corpus, the same cost
  * class as the admission loop that built it; schedule accordingly.
  * The banded probe join is the admission loops' own serve shape:
  * registry side occupancy-capped, corpus streams once, never
  * all-pairs.
  */
object MediaRegistry {

  private def sub(modality: String) = s"banned_${MediaIndex.mode(modality).name}"

  def tablePath(path: String, modality: String): String =
    s"${path.stripSuffix("/")}/${sub(modality)}"

  /** One modality's hash list: a single suite-bucketed table, no root
    * snapshot (readers capture its manifest version at read). */
  private def layout(modality: String) =
    Artifacts.Layout("MediaRegistry", Seq(Artifacts.Sub(sub(modality))))

  /** Register banned media BY PAYLOAD: the modality's codec kernel
    * fingerprints them here, once, and only the fingerprints commit.
    * Undecodable payloads are dropped by the kernel's quarantine filter
    * — a hash-list entry that cannot be fingerprinted cannot match
    * anything and must not silently occupy the registry.
    */
  def register(media: DataFrame, path: String, modality: String,
               buildV: Long = 0L, suite: String = "default"): Unit = {
    val m = MediaIndex.mode(modality)
    VersionedTable.mergeUpsert(
      media.sparkSession, tablePath(path, modality),
      m.kernel(media.select(col("banned_id"), col("payload")), "banned_id")
        .select(col("banned_id"), col(m.fpCol))
        .withColumn("suite", lit(suite))
        .withColumn("build_v", lit(buildV)),
      Seq("suite", "banned_id"), "build_v", numBuckets = 16,
      bucketKeys = Seq("suite"))
  }

  def load(spark: SparkSession, path: String, modality: String): DataFrame = {
    val m = MediaIndex.mode(modality)
    VersionedTable.read(spark, tablePath(path, modality))
      .select("banned_id", m.fpCol).distinct()
  }

  /** [[load]] at a PINNED manifest version (the capture-at-read rule;
    * refuses on a vacuumed version). */
  def loadAt(spark: SparkSession, path: String, modality: String,
             version: Long): DataFrame =
    layout(modality).readAt(spark, path.stripSuffix("/"), sub(modality), version)
      .select("banned_id", MediaIndex.mode(modality).fpCol).distinct()

  def isRegistered(spark: SparkSession, path: String,
                   modality: String): Boolean =
    VersionedTable.latestManifest(spark, tablePath(path, modality)).isDefined

  /** Retire one hash-list suite — bucket-pruned like
    * [[EvalRegistry.unregister]]; idempotent. */
  def unregister(spark: SparkSession, path: String, modality: String,
                 suite: String): TakedownReceipt =
    layout(modality).unregister(spark, path.stripSuffix("/"), suite).head

  /** [[retroTakedown]]'s report — the [[Corpus.RetroReport]] shape:
    * corpus items fingerprinted, items matching the hash list, items
    * tombstoned, the registry version the detection read, receipts. */
  final case class MediaRetroReport(scanned: Long, hits: Long,
                                    tombstoned: Long, registryV: Long,
                                    receipts: Seq[TakedownReceipt])

  /** Sweep the committed media corpus against the banned-hash registry
    * and forget the hits. Same contract as [[Corpus
    * .retroDecontaminate]]: detection from the RAW corpus (replay-
    * deterministic — see the object doc), every effect idempotent,
    * ledger jobId-guarded, `maxHits` refusal against a registry that
    * turns out to be corpus-shaped, optional funnel evidence (loop
    * `media_registry_<modality>`) filed after the effects.
    */
  def retroTakedown(spark: SparkSession, corpusPath: String,
                    registryPath: String, modality: String, jobId: String,
                    indexPath: Option[String] = None,
                    logPath: Option[String] = None,
                    funnelLogPath: Option[String] = None,
                    funnelBatchId: Long = 0L,
                    maxHits: Int = Corpus.RetroMaxHits,
                    asOfUs: Long = 0L): MediaRetroReport = {
    val m = MediaIndex.mode(modality)
    require(isRegistered(spark, registryPath, modality),
      s"MediaRegistry.retroTakedown: no committed banned-${m.name} " +
        s"registry at $registryPath — call MediaRegistry.register(...) first")
    val regV: Long = VersionedTable
      .latestManifest(spark, tablePath(registryPath, modality)).get._1
    val banned = loadAt(spark, registryPath, modality, regV)
    // RAW scan + re-fingerprint on purpose — the crash-replay rule
    val corpus = spark.read.parquet(corpusPath)
      .select("media_id", "payload").dropDuplicates("media_id")
    val fps = m.kernel(corpus, "media_id").persist()
    try {
      val scanned = fps.count()
      val hitIdsDf = m.probeJoin(fps, "media_id", banned, "banned_id")
        .select("media_id").distinct()
      val nHits = hitIdsDf.count()
      require(nHits <= maxHits,
        s"MediaRegistry.retroTakedown: $nHits hits exceed maxHits=$maxHits " +
          "— a corpus-shaped hit list means the registry holds ordinary " +
          "content; fix the registry, don't mass-retract")
      val hits = hitIdsDf.collect().map(_.getLong(0)).toIndexedSeq.sorted
      val receipts =
        if (hits.isEmpty) Seq.empty
        else {
          val rs = Corpus.tombstone(spark, corpusPath, hits, jobId,
            reason = "media_registry_takedown", asOfUs = asOfUs,
            idCol = "media_id") +:
            indexPath.toSeq.flatMap(MediaIndex.retract(spark, _, hits))
          logPath.foreach(lp =>
            TakedownLog.append(spark, lp, rs, asOfUs, jobId))
          rs
        }
      funnelLogPath.foreach { lp =>
        graft.FailPoint.reach(lp) // kill-point sweep boundary (test seam)
        AdmissionLog.append(spark, lp, s"media_registry_${m.name}",
          funnelBatchId, Seq(
            "1_scanned" -> scanned,
            "2_hits" -> nHits,
            "3_tombstoned" -> hits.size.toLong))
      }
      MediaRetroReport(scanned, nHits, hits.size.toLong, regV, receipts)
    } finally fps.unpersist()
  }

  /** The modalities with a committed hash list at `registryPath` —
    * what [[retroTakedownAll]] sweeps by default. */
  def registeredModalities(spark: SparkSession, path: String): Seq[String] =
    MediaIndex.modes.keys.toSeq.sorted
      .filter(isRegistered(spark, path, _))

  /** One sweep call across modalities (the r13 candidate): each
    * modality's corpus runs the full [[retroTakedown]] contract through
    * its OWN codec kernel — the kernels, thresholds, and band geometry
    * are already mode-keyed, so the multi-modality sweep is pure
    * composition, not new machinery. Per-modality jobIds are suffixed
    * `<jobId>-<mode>` so each modality's effects replay idempotently on
    * their own (a crash after the img pass must not make the vid pass
    * think it already ran); `corpora` maps modality → raw corpus dir.
    * Modalities without a committed hash list refuse loudly via
    * [[retroTakedown]]'s own require — pass exactly what is registered
    * (or start from [[registeredModalities]]).
    */
  def retroTakedownAll(spark: SparkSession, corpora: Seq[(String, String)],
                       registryPath: String, jobId: String,
                       indexPath: Option[String] = None,
                       logPath: Option[String] = None,
                       funnelLogPath: Option[String] = None,
                       funnelBatchId: Long = 0L,
                       maxHits: Int = Corpus.RetroMaxHits,
                       asOfUs: Long = 0L): Map[String, MediaRetroReport] =
    corpora.map { case (modality, corpusPath) =>
      modality -> retroTakedown(spark, corpusPath, registryPath, modality,
        s"$jobId-${MediaIndex.mode(modality).name}", indexPath, logPath,
        funnelLogPath, funnelBatchId, maxHits, asOfUs)
    }.toMap
}
