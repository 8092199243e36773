package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sinks.{ArtifactSnapshot, VersionedTable}

/** The front door for committed-artifact upkeep: ONE lifecycle for every
  * artifact built from [[graft.sources.Sinks.VersionedTable]]s, in two
  * shapes.
  *
  * [[Layout]] is one artifact's lifecycle. It names the artifact's
  * sub-tables and says which of them hold content a takedown id list
  * must reach (and how their buckets are keyed by that id). A layout
  * with content sub-tables publishes a root snapshot ([[graft.sources
  * .Sinks.ArtifactSnapshot]]) after each mutation; the registries'
  * layouts have none. Every lifecycle step exists once, there:
  * [[Layout.present]], [[Layout.publish]], [[Layout.retract]],
  * [[Layout.unregister]], [[Layout.maintain]] and [[Layout.readAt]].
  * DedupIndex, MediaIndex, AnnIndex, EvalRegistry, MediaRegistry and
  * Dsir each declare a layout and call it; none keeps its own copy of a
  * step. (The tokenizer bundle's snapshot and RollupIndex's folds keep
  * their own upkeep: the one is a retrain, the other needs the
  * artifact's RollupShape.)
  *
  * [[maintainAll]] is the deployment-wide sweep: every table under a
  * root, compacted and vacuumed by the same per-table step a layout's
  * maintain runs, returning one receipt row per table (an ops job
  * leaves queryable evidence). The walk stops at a commits dir, so
  * composite artifacts are maintained at sub-table granularity. Both
  * primitives are optimistic-commit transactions, so the sweep is safe
  * to run beside live writers and readers; `minAgeMs` keeps versions a
  * pinned reader might still hold.
  */
object Artifacts {

  /** How a content sub-table's rows are found from a takedown id list:
    * the id column, the bucket contract a pruned rewrite requires, the
    * bucket-key tuples one id hashes into, and the merge keys of a
    * table written before its contract was recorded (rewritten whole:
    * slower, never wrong). */
  final case class Keying(idCol: String, bucketCols: Seq[String],
                          keysOf: Long => Seq[Seq[Any]], legacyKeys: Seq[String])

  /** Bucketed by the id column alone; a legacy table was merged on the
    * id plus `legacyKeys`. */
  def byId(idCol: String, legacyKeys: String*): Keying =
    Keying(idCol, Seq(idCol), id => Seq(Seq(id)), idCol +: legacyKeys)

  /** One sub-table; `content` is its takedown keying, None for model
    * or registry tables an id takedown never touches. */
  final case class Sub(name: String, content: Option[Keying] = None)

  /** One committed artifact's lifecycle; `artifact` names it in
    * refusals. */
  final case class Layout(artifact: String, subs: Seq[Sub]) {

    private val names = subs.map(_.name)

    /** The sub-tables with a committed manifest under `path`. */
    def present(spark: SparkSession, path: String): Seq[Sub] =
      subs.filter(s => VersionedTable.latestManifest(spark, s"$path/${s.name}").isDefined)

    /** Publish the root snapshot after a mutation
      * ([[graft.sources.Sinks.ArtifactSnapshot.commit]]): `refresh`
      * names the sub-tables the mutation bumped, every other one keeps
      * its pin, and `pin` overrides both. */
    def publish(spark: SparkSession, path: String, refresh: Seq[String] = names,
                pin: Map[String, Long] = Map.empty): Long =
      ArtifactSnapshot.commit(spark, path, names, refresh, pin)

    /** The committed sub-tables of `kinds`, refusing a path where none
      * is committed (a typo'd takedown that "succeeds" while the
      * content stays servable is the one outcome a compliance op must
      * never have). */
    private def presentFor(spark: SparkSession, path: String, op: String,
                           kinds: Seq[Sub], what: String): Seq[Sub] = {
      val here = present(spark, path).filter(kinds.contains)
      require(here.nonEmpty, s"$artifact.$op: no committed " +
        s"${kinds.map(_.name).mkString("/")} sub-table at $path ($what)")
      here
    }

    /** The committed content sub-tables a takedown of `ids` rewrites,
      * refusing one that could not remove anything: an empty id list,
      * or a path with no committed content sub-table. Reads only, so a
      * caller with an effect of its own before [[retract]] (AnnIndex
      * heals its snapshot) runs this first and a refusal writes
      * nothing. */
    def retractable(spark: SparkSession, path: String, ids: Seq[Long]): Seq[Sub] = {
      require(ids.nonEmpty, s"$artifact.retract: empty takedown list")
      presentFor(spark, path, "retract", subs.filter(_.content.isDefined),
        "nothing to take down")
    }

    /** Remove every row of `ids` from each [[retractable]] sub-table,
      * bucket-pruned under its recorded contract ([[Takedown.retractIds]]),
      * then publish ONE snapshot refreshing exactly the rewritten
      * sub-tables: pinned pre-takedown groups keep serving the old
      * state by design, latest-group readers see the takedown at once.
      * Atomic per sub-table and idempotent (an absent id is a no-op). */
    def retract(spark: SparkSession, path: String, ids: Seq[Long]): Seq[TakedownReceipt] =
      retractFrom(spark, path, ids, retractable(spark, path, ids))

    /** [[retract]] over `content` already checked by [[retractable]]. */
    def retractFrom(spark: SparkSession, path: String, ids: Seq[Long],
                    content: Seq[Sub]): Seq[TakedownReceipt] = {
      val receipts = content.map { s =>
        val k = s.content.get
        Takedown.retractIds(spark, path, s"$path/${s.name}", s.name, k.idCol, ids,
          k.bucketCols, ids.flatMap(k.keysOf), k.legacyKeys)
      }
      publish(spark, path, refresh = receipts.map(_.subTable))
      receipts
    }

    /** Retire one named `suite` from every committed sub-table
      * ([[Takedown.retractSuite]]: suite-bucketed, one bucket rewrite
      * each), one receipt per sub-table; idempotent. */
    def unregister(spark: SparkSession, path: String, suite: String): Seq[TakedownReceipt] =
      presentFor(spark, path, "unregister", subs, "nothing registered").map(s =>
        Takedown.retractSuite(spark, path, s"$path/${s.name}", s.name, suite))

    /** Storage maintenance on the owner's cadence: compact fragmented
      * buckets and vacuum superseded versions of each committed
      * sub-table, shielding the pins of the newest `protectGroups` root
      * snapshots from the keep budget so a job pinned to a recent group
      * keeps reading byte-identically.
      *
      * `minAgeMs = 0` is correct only where no writer can be live (the
      * single-admitter loops maintain while quiescent); size
      * `keepVersions` to the longest concurrent serve: a reader pinned
      * further back refuses cleanly, never sees partial data. */
    def maintain(spark: SparkSession, path: String, maxFilesPerBucket: Int,
                 keepVersions: Int, minAgeMs: Long, protectGroups: Int): Unit = {
      val pins = ArtifactSnapshot.pinsRecent(spark, path, math.max(protectGroups, 1))
      present(spark, path).foreach(s =>
        upkeep(spark, s"$path/${s.name}", maxFilesPerBucket, keepVersions, minAgeMs,
          pins.getOrElse(s.name, Set.empty)))
    }

    /** Sub-table `sub` at a PINNED manifest version — the
      * pipeline-snapshot read path. Strict: a vacuumed version refuses,
      * never falls forward (keep the pin inside the retention budget). */
    def readAt(spark: SparkSession, path: String, sub: String, version: Long): DataFrame = {
      val p = s"$path/$sub"
      require(VersionedTable.manifestExists(spark, p, version),
        s"$artifact.readAt: pinned version $version no longer exists at $p " +
          "— retention outran the pin; re-pin to a recent snapshot")
      VersionedTable.read(spark, p, Some(version))
    }
  }

  /** One table's storage upkeep — compact, then vacuum past the newest
    * `keep` versions except `protect` — shared by [[Layout.maintain]]
    * and [[maintainAll]]. */
  private def upkeep(spark: SparkSession, table: String, maxFilesPerBucket: Int,
                     keep: Int, minAgeMs: Long, protect: Set[Long]): Unit = {
    VersionedTable.compact(spark, table, maxFilesPerBucket)
    VersionedTable.vacuumVersioned(spark, table, keep = keep, minAgeMs = minAgeMs,
      protect = protect)
  }

  /** One table's maintenance receipt: versions on disk before/after
    * (vacuum's observable) and the latest version after the sweep
    * (compaction bumps it only when something was fragmented).
    */
  final case class MaintainReport(table: String, latestVersion: Long,
                                  versionsBefore: Long, versionsAfter: Long)

  /** Every committed table under `root` — see
    * [[graft.sources.Sinks.VersionedTable.discover]]. */
  def discover(spark: SparkSession, root: String): Seq[String] =
    VersionedTable.discover(spark, root)

  /** `minAgeMs` defaults to vacuumVersioned's own 1-hour guard — the
    * concurrency claim above DEPENDS on it (a cutoff of now would
    * reclaim a live writer's staged-but-unpublished dirs); pass 0 only
    * from tests / offline maintenance where no writer can be live.
    *
    * SNAPSHOT-AWARE vacuum (r11): sub-tables of a composite artifact
    * carry a root-snapshot pin ([[graft.sources.Sinks
    * .ArtifactSnapshot]]); the sweep protects each pinned version from
    * the `keep` budget, so a maintenance cadence can never force every
    * snapshot reader into the fall-forward path at once (compaction
    * bumps versions without new snapshots — without protection, enough
    * idle cadences would age every pin out).
    *
    * `protectGroups` (r12) extends that shield to NAMED snapshots: the
    * pins of the newest N root groups (not just the latest) survive the
    * keep budget, so a job pinned to a recent historical group
    * ([[graft.sources.Sinks.ArtifactSnapshot.readAt]]) keeps serving
    * byte-identically across maintenance sweeps for its whole lifetime.
    * Past the window, readAt refuses loudly (it never falls forward) —
    * that refusal is the contract's boundary, this knob its width.
    */
  /** `protectPipelines` (r13) is the same shield ONE level up — the
    * TWO-LEVEL pin propagation: the newest N PIPELINE snapshots
    * ([[graft.sources.Sinks.PipelineSnapshot]]) pin whole artifacts at
    * group versions; the sweep resolves each pinned group to its
    * sub-table manifest versions and shields those too (plus direct
    * `t:` table pins), so a reader resolving "the pipeline as of batch
    * B" inside the window survives any number of sweeps byte-
    * identically. Without it, a pipeline snapshot's advertised replay
    * horizon (publish keep = 64 batches) silently collapsed to the
    * per-artifact `protectGroups` window (~2 batches) after routine
    * maintenance (r12 ADVICE). The effective pipeline audit horizon is
    * min(publish `keep`, this window, the artifact's own group-manifest
    * keep) — past it, pipeline-named reads refuse loudly.
    */
  /** `rollups` (r13): opt-in per-rollup fold hook — [[RollupIndex
    * .foldPartials]] needs the artifact's RollupShape, so the
    * shape-agnostic sweep can't discover it; a deployment passes
    * (rollup root -> shape) and the sweep folds each BEFORE the
    * storage pass (so compaction immediately reclaims the rewrite),
    * filing one [[TakedownReceipt]] per fold into `receiptLog` when
    * given (jobId-guarded: a replayed sweep never double-files).
    */
  def maintainAll(spark: SparkSession, root: String,
                  maxFilesPerBucket: Int = 1, keepVersions: Int = 8,
                  minAgeMs: Long = 3600000L,
                  protectGroups: Int = 2,
                  protectPipelines: Int = 8,
                  rollups: Map[String, RollupIndex.RollupShape] = Map.empty,
                  receiptLog: Option[String] = None,
                  jobId: String = "", asOfUs: Long = 0L): Seq[MaintainReport] = {
    import graft.sources.Sinks.PipelineSnapshot
    val foldReceipts = rollups.toSeq.sortBy(_._1).map { case (r, shape) =>
      RollupIndex.foldPartialsReceipted(spark, r, shape)
    }
    receiptLog.foreach { log =>
      require(jobId.nonEmpty,
        "Artifacts.maintainAll: receiptLog needs a jobId (the replay guard)")
      if (foldReceipts.nonEmpty)
        TakedownLog.append(spark, log, foldReceipts, asOfUs, jobId)
    }
    val (pipeRoots, artRoots) = VersionedTable.discoverGroupRoots(spark, root)
      .partition(PipelineSnapshot.isPipelineRoot(spark, _))
    val artPins: Seq[(String, Set[Long])] =
      artRoots.flatMap { r =>
        ArtifactSnapshot.pinsRecent(spark, r, math.max(protectGroups, 1))
          .map { case (sub, vs) => s"$r/$sub" -> vs }
      }
    val pipePins: Seq[(String, Set[Long])] =
      pipeRoots.flatMap(pr => PipelineSnapshot
        .protectedTablePins(spark, pr, math.max(protectPipelines, 0)).toSeq)
    val pins: Map[String, Set[Long]] =
      (artPins ++ pipePins).groupMapReduce(_._1)(_._2)(_ ++ _)
    discover(spark, root).map { t =>
      val before = VersionedTable.versionCount(spark, t)
      upkeep(spark, t, maxFilesPerBucket, keepVersions, minAgeMs,
        pins.getOrElse(t, Set.empty))
      val v = VersionedTable.latestManifest(spark, t).map(_._1).getOrElse(-1L)
      MaintainReport(t, v, before, VersionedTable.versionCount(spark, t))
    }
  }

  /** One composite artifact's snapshot-health receipt: the latest group
    * version, how many sub-tables it pins, and the pins whose manifest
    * no longer exists (readers fall forward to latest for those — the
    * observable the candidate vacuum protection keeps at zero).
    */
  final case class SnapshotReport(root: String, groupVersion: Long,
                                  pinned: Int, fallenForward: Seq[String])

  /** Root-snapshot health under `root` — run it on the maintenance
    * cadence next to [[maintainAll]] so a crashed mutator's stale pin
    * or a pruned pinned version is an observable, not a silent
    * fall-forward at serve time.
    *
    * PIPELINE-level roots ([[graft.sources.Sinks.PipelineSnapshot]])
    * are surfaced through the same sweep (r12): their pins name whole
    * ARTIFACTS (`g:<path>` group pins / `t:<path>` table pins), so an
    * unresolvable entry means pipeline retention outran an artifact's
    * protectGroups window and named pipeline reads will refuse.
    */
  /** `pipelineWindow`: for pipeline roots, how many recent snapshots to
    * health-check (match [[maintainAll]]'s `protectPipelines` so the
    * report covers exactly the window the sweep promises to keep
    * servable). Fallen entries are tagged `v<snapshot>:<kind>:<path>`.
    */
  def snapshotHealth(spark: SparkSession, root: String,
                     pipelineWindow: Int = 8): Seq[SnapshotReport] =
    VersionedTable.discoverGroupRoots(spark, root).map { r =>
      val (gv, parts) = VersionedTable.latestGroup(spark, r).get
      val isPipeline =
        graft.sources.Sinks.PipelineSnapshot.isPipelineRoot(spark, r)
      val fallen =
        if (isPipeline)
          graft.sources.Sinks.PipelineSnapshot
            .health(spark, r, window = pipelineWindow)
            .collect { case p if !p.resolvable =>
              val kind = if (p.served) "s:" else if (p.grouped) "g:" else "t:"
              s"v${p.snapshot}:$kind${p.path}" }
        else parts.toSeq.sortBy(_._1).collect {
          case (sub, v) if !VersionedTable.manifestExists(spark, s"$r/$sub", v) => sub
        }
      // pipeline roots: count the latest snapshot's g:/t: pins (served
      // pins are replay metadata for the same artifacts, batch markers
      // are identity)
      val pinCount =
        if (isPipeline) parts.keys.count(k => k.startsWith("g:") || k.startsWith("t:"))
        else parts.size
      SnapshotReport(r, gv, pinCount, fallen)
    }
}
