package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.DataType

import graft.sources.Sinks.VersionedTable

/** Compliance receipt for one sub-table of a takedown
  * ([[DedupIndex.retract]] / [[AnnIndex.retract]] / [[MediaIndex.retract]]
  * / [[EvalRegistry.unregister]]). The retracts were atomic and
  * idempotent before round 11 but emitted no telemetry — a compliance
  * job that must EVIDENCE a removal ("which ids were actually present,
  * what physically rewrote, which version carries the change") had
  * nothing to file. Every field is assembled from the artifact's own
  * manifests bracketing the rewrite, so the receipt reports what
  * HAPPENED, not what the caller intended:
  *
  *  - `idsFound` counts the matching rows in the snapshot the committed
  *    rewrite folded — the touched buckets only on the pruned branch (an
  *    id can live nowhere else under a verified bucket contract), the
  *    full snapshot on the legacy branch (which rewrites everything
  *    anyway). A requested id that was never indexed shows up here as
  *    found = 0, the "nothing to take down" evidence.
  *  - `bucketsRewritten` is the MANIFEST DELTA — buckets whose data dir
  *    changed (or disappeared) between the bracketing versions — not the
  *    touched-set size the caller computed.
  *  - `oldVersion` is the base the committed attempt folded (after an
  *    optimistic retry, the winner's base, not the first one read);
  *    `oldVersion == newVersion` records the true no-op (ids hashed only
  *    to never-written buckets: not even a version bump).
  *  - `pruned` distinguishes the bucket-pruned fast path from the
  *    legacy full-snapshot rewrite ("slower, never wrong").
  */
final case class TakedownReceipt(
    artifact: String,
    subTable: String,
    idsRequested: Long,
    idsFound: Long,
    bucketsRewritten: Int,
    oldVersion: Long,
    newVersion: Long,
    pruned: Boolean)

/** The compliance LOG for takedown receipts — receipts are return
  * values, but a compliance program needs them FILED: an append-only
  * parquet ledger a retention job can query ("show every takedown of
  * artifact X and what it physically rewrote"). Append-only on purpose
  * (evidence is never rewritten). Every filing carries a caller-chosen
  * `jobId`, and a jobId already present in the ledger makes the append
  * a NO-OP — the same replay discipline as the rollup delta ledger: a
  * compliance job that crashes after the parquet commit and reruns
  * must not double-file its evidence (a retention query would
  * double-count buckets rewritten). `asOfUs` comes from the caller so
  * the rows themselves stay deterministic under retry.
  */
/** The admission loops' funnel evidence — [[TakedownLog]]'s sibling on
  * the INTAKE side: per micro-batch, per stage, how many rows survived
  * ("show me every batch where decontamination rejected something" is a
  * compliance query, and until round 11 the loops kept those counts to
  * themselves). One parquet row per (loop, batch_id, stage).
  *
  * Replay discipline differs from TakedownLog BY DESIGN: a takedown is
  * a compliance JOB (replay must no-op, hence the jobId guard); this is
  * micro-batch telemetry under the loops' documented AT-LEAST-ONCE
  * contract — a replayed batch re-files rows for the same batch_id and
  * consumers resolve by (loop, batch_id, stage), exactly as they
  * already dedup the verdict/corpus rows by (batch_id, doc_id). Gate
  * counts are deterministic per batch; the ADMITTED stage is NOT under
  * replay — a batch whose effects landed before the crash re-serves
  * against an index already holding its own admissions and re-admits
  * fewer (possibly zero). A replay can therefore only UNDER-count
  * admissions, so the per-key resolution rule is MAX ([[rollup]]) —
  * the original attempt's count is the true one.
  */
object AdmissionLog {

  def append(spark: SparkSession, logPath: String, loop: String,
             batchId: Long, stages: Seq[(String, Long)]): Unit = {
    require(stages.nonEmpty, "AdmissionLog.append: no stages to file")
    import spark.implicits._
    stages.toDF("stage", "n")
      .select(
        org.apache.spark.sql.functions.lit(loop).as("loop"),
        org.apache.spark.sql.functions.lit(batchId).as("batch_id"),
        org.apache.spark.sql.functions.col("stage"),
        org.apache.spark.sql.functions.col("n"))
      .coalesce(1)
      .write.mode("append").parquet(logPath)
  }

  def read(spark: SparkSession, logPath: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(logPath)

  /** The funnel rollup's COMMITTED shape: per (loop, stage) batch count
    * + total rows through — the same numbers [[rollup]] derives on
    * read, as a maintained [[RollupIndex]] artifact.
    */
  val FunnelShape: RollupIndex.RollupShape = RollupIndex.RollupShape(
    Seq("loop", "stage"),
    Seq(RollupIndex.AggSpec("count", "", "n_batches"),
      RollupIndex.AggSpec("sum", "n", "total")))

  /** Promote the parquet ledger into the committed rollup artifact:
    * one delta per (loop, batch_id) — refiled ledger rows resolve by
    * the same MAX rule as [[rollup]] BEFORE the delta applies, and a
    * re-promotion no-ops per batch via the rollup ledger, so the
    * compliance dashboard becomes a versioned artifact with
    * exactly-once batch accounting (later promotions pick up only new
    * batches — incremental). The driver loop is ledger-batch-sized:
    * this runs on the compliance cadence, not in a data path. One
    * at-least-once residue remains by construction: a batch whose
    * ORIGINAL funnel row was lost to a crash before the append
    * contributes its replay's (under-counted) admissions — the ledger
    * can only promote evidence that was filed.
    */
  def promoteRollup(spark: SparkSession, logPath: String,
                    rollupPath: String): Unit = {
    import org.apache.spark.sql.functions._
    val resolved = graft.GraftCache.persistTracked(
      read(spark, logPath)
        .groupBy("loop", "batch_id", "stage").agg(max("n").as("n")))
    // ONE applied-deltas read up front, not one per batch inside
    // applyDelta: without the pre-filter every promotion would pay
    // O(total batches ever filed) ledger reads — quadratic over the
    // ledger's life (r11 review); applyDelta's own guard stays as the
    // race-safe backstop
    val applied = RollupIndex.appliedDeltas(spark, rollupPath)
    val batches = resolved.select("loop", "batch_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      .filterNot { case (loop, bid) => applied.contains(s"$loop#$bid") }
    batches.foreach { case (loop, bid) =>
      RollupIndex.applyDelta(
        resolved.filter(col("loop") === loop && col("batch_id") === bid)
          .select("loop", "stage", "n"),
        rollupPath, s"$loop#$bid", FunnelShape)
    }
  }

  /** The committed funnel rollup at its latest version. */
  def readRollup(spark: SparkSession, rollupPath: String): org.apache.spark.sql.DataFrame =
    RollupIndex.read(spark, rollupPath, FunnelShape)

  /** The compliance rollup a dashboard actually reads: replays resolve
    * per (loop, batch_id, stage) by MAX first — deterministic, and
    * correct because gate counts are replay-invariant while a replayed
    * batch can only UNDER-count its admissions (its own prior
    * admissions now reject; see the header) — then one bounded agg per
    * (loop, stage): batches seen and total rows through. Ledger-sized
    * input, stage-catalog-sized output — safe at any cadence.
    */
  def rollup(spark: SparkSession, logPath: String): org.apache.spark.sql.DataFrame =
    rollupOf(read(spark, logPath))

  /** The funnel aggregation over ANY ledger frame — ONE definition for
    * the parquet read path ([[rollup]]) and the oracle-checked planted
    * query (C90, `q_admission_funnel`), so the dashboard the compliance
    * job reads and the arithmetic the gate verifies can never diverge.
    */
  def rollupOf(ledger: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    ledger
      .groupBy("loop", "batch_id", "stage")
      .agg(max("n").as("n"))
      .groupBy("loop", "stage")
      .agg(count(lit(1)).as("n_batches"), sum("n").as("total"))
  }

  /** C90: the pipeline-level funnel dashboard as an oracle-checked
    * query — a deterministically PLANTED multi-loop ledger (four loops,
    * eight batches, three stages, derived purely from the documents
    * table so the oracle can re-derive it) with REPLAY rows for every
    * third batch whose admitted stage legitimately under-counts (a
    * replayed batch re-serves against an index already holding its own
    * admissions — the documented at-least-once residue; here the
    * replay's admit predicate is a strict subset of the original's), so
    * the query exercises exactly the production resolution rule: MAX
    * per (loop, batch_id, stage) FIRST, then the bounded per-stage
    * rollup. 12-row output at any SF.
    */
  def plantedLedger(documents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = documents.select(
      concat(lit("loop_"), (col("doc_id") % 4).cast("string")).as("loop"),
      (col("doc_id") % 8).as("batch_id"),
      col("n_chars"))
    def stages(df: org.apache.spark.sql.DataFrame,
               admit: org.apache.spark.sql.Column) =
      df.groupBy("loop", "batch_id").agg(
        count(lit(1)).as("a"),
        sum(when(col("n_chars") % 3 =!= 0, lit(1L)).otherwise(lit(0L))).as("k"),
        sum(when(admit, lit(1L)).otherwise(lit(0L))).as("ad"))
        .selectExpr("loop", "batch_id",
          "stack(3, '1_arrived', a, '2_kept', k, '3_admitted', ad) AS (stage, n)")
    stages(base, col("n_chars") % 3 === 1)
      .unionByName(stages(base.filter(col("batch_id") % 3 === 0),
        col("n_chars") % 6 === 1))
  }

  def admissionFunnel(documents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rollupOf(plantedLedger(documents))

  val admissionFunnelSql: String =
    """WITH base AS (
      |  SELECT 'loop_' || CAST(doc_id % 4 AS VARCHAR) AS "loop",
      |         doc_id % 8 AS batch_id, n_chars
      |  FROM documents),
      |orig AS (
      |  SELECT "loop", batch_id, CAST(count(*) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN n_chars % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |    CAST(sum(CASE WHEN n_chars % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ad
      |  FROM base GROUP BY 1, 2),
      |rep AS (
      |  SELECT "loop", batch_id, CAST(count(*) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN n_chars % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |    CAST(sum(CASE WHEN n_chars % 6 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ad
      |  FROM base WHERE batch_id % 3 = 0 GROUP BY 1, 2),
      |ledger AS (
      |  SELECT "loop", batch_id, u.s AS stage, u.n AS n FROM (
      |    SELECT "loop", batch_id, unnest([
      |      {'s': '1_arrived', 'n': a}, {'s': '2_kept', 'n': k},
      |      {'s': '3_admitted', 'n': ad}]) AS u FROM orig)
      |  UNION ALL
      |  SELECT "loop", batch_id, u.s AS stage, u.n AS n FROM (
      |    SELECT "loop", batch_id, unnest([
      |      {'s': '1_arrived', 'n': a}, {'s': '2_kept', 'n': k},
      |      {'s': '3_admitted', 'n': ad}]) AS u FROM rep)),
      |res AS (
      |  SELECT "loop", batch_id, stage, max(n) AS n
      |  FROM ledger GROUP BY 1, 2, 3)
      |SELECT "loop", stage, CAST(count(*) AS BIGINT) AS n_batches,
      |  CAST(sum(n) AS BIGINT) AS total
      |FROM res GROUP BY 1, 2""".stripMargin

  def funnelQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q_admission_funnel" -> ((s, d) =>
      admissionFunnel(graft.sources.Tables.documents(s, d))))

  def funnelOracle: Map[String, String] = Map(
    "q_admission_funnel" -> admissionFunnelSql)
}

object TakedownLog {

  def append(spark: SparkSession, logPath: String,
             receipts: Seq[TakedownReceipt], asOfUs: Long,
             jobId: String): Unit = {
    require(receipts.nonEmpty, "TakedownLog.append: no receipts to file")
    require(jobId.nonEmpty, "TakedownLog.append: jobId is the replay guard")
    if (filedJobs(spark, logPath).contains(jobId)) return
    graft.FailPoint.reach(logPath) // kill-point sweep boundary (test seam)
    import spark.implicits._
    receipts.toDF()
      .withColumn(
        "as_of_us", org.apache.spark.sql.functions.lit(asOfUs))
      .withColumn(
        "job_id", org.apache.spark.sql.functions.lit(jobId))
      .coalesce(1)
      .write.mode("append").parquet(logPath)
  }

  /** The jobIds already filed — the ledger is takedown-count-sized. An
    * ABSENT ledger is the empty set (first filing); an existing ledger
    * without the job_id column (pre-guard schema) REFUSES instead of
    * silently disabling the guard — a rerun against such a ledger would
    * double-file, the exact bug the guard exists to stop.
    */
  def filedJobs(spark: SparkSession, logPath: String): Set[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(new org.apache.hadoop.fs.Path(logPath)
        .toUri.getScheme match { case null => "file:///" case s => s + ":///" }),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(logPath))) return Set.empty
    val df = read(spark, logPath)
    require(df.columns.contains("job_id"),
      s"TakedownLog at $logPath predates the jobId replay guard (no job_id " +
        "column) — migrate the ledger (backfill a job_id) before appending; " +
        "proceeding would silently disable replay protection")
    df.select("job_id").distinct().collect().map(_.getString(0)).toSet
  }

  def read(spark: SparkSession, logPath: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(logPath)
}

private[operators] object Takedown {

  /** The receipt of one sub-table rewrite, every field from the attempt
    * that committed it ([[VersionedTable.Rewrite]]): `idsFound` is the
    * rewrite's own count of the rows its `hit` predicate matched in the
    * snapshot it folded — taken inside its write, so no query of its
    * own, and an optimistic retry that also drops a row a concurrent
    * writer just added counts that row — and `oldVersion` is the base
    * that attempt folded, `newVersion` the version it published.
    * `pruned`: the bucket-pruned rewrite, not the legacy full one.
    */
  def receipted(artifact: String, subTable: String, idsRequested: Long,
                pruned: Boolean)(rw: VersionedTable.Rewrite): TakedownReceipt = {
    val (oldMap, newMap) = (rw.base.buckets, rw.buckets)
    val rewritten =
      newMap.count { case (b, rel) => !oldMap.get(b).contains(rel) } +
        (oldMap.keySet -- newMap.keySet).size
    TakedownReceipt(artifact, subTable, idsRequested, rw.found, rewritten,
      rw.base.version, rw.version, pruned)
  }

  /** Remove the rows whose `idCol` is in `ids` from sub-table `sub` and
    * return the receipt. Bucket-pruned ONLY when the table's recorded
    * bucket contract is `bucketCols` — then the touched buckets are
    * `bucketKeys` (one value per contract column) hashed on the driver
    * ([[VersionedTable.bucketsOf]]), since a row can live nowhere else.
    * A table without that contract (written before it was recorded)
    * takes the full-snapshot rewrite keyed by `legacyKeys`: slower,
    * never wrong — pruning there could miss rows and report a
    * takedown done that wasn't.
    */
  def retractIds(spark: SparkSession, artifact: String, sub: String, subTable: String,
                 idCol: String, ids: Seq[Long], bucketCols: Seq[String],
                 bucketKeys: Seq[Seq[Any]], legacyKeys: Seq[String]): TakedownReceipt = {
    val hit = org.apache.spark.sql.functions.col(idCol).isInCollection(ids.toSet)
    val requested = ids.distinct.size.toLong
    VersionedTable.latest(spark, sub).filter(_.bucketCols.contains(bucketCols)) match {
      case Some(m) =>
        val touched = VersionedTable.bucketsOf(m.numBuckets.getOrElse(16),
          m.typesOf(bucketCols), bucketKeys).distinct
        receipted(artifact, subTable, requested, pruned = true)(
          VersionedTable.rewriteBuckets(spark, sub, bucketCols, touched, Some(hit))(
            _.filter(!hit)))
      case None =>
        receipted(artifact, subTable, requested, pruned = false)(
          VersionedTable.rewriteAll(spark, sub, legacyKeys, Some(hit))(_.filter(!hit)))
    }
  }

  /** Retire one named `suite` from a registry table bucketed by suite
    * alone ([[EvalRegistry.unregister]], [[MediaRegistry.unregister]]):
    * a whole suite lives in one bucket, so the rewrite touches that one
    * bucket dir. idsRequested = 1 named suite; idsFound = the suite's
    * rows present (0 = a never-registered suite, the idempotent
    * re-run). */
  def retractSuite(spark: SparkSession, artifact: String, sub: String, subTable: String,
                   suite: String): TakedownReceipt = {
    val hit = org.apache.spark.sql.functions.col("suite") === suite
    val m = VersionedTable.latest(spark, sub)
    val touched = VersionedTable.bucketsOf(m.flatMap(_.numBuckets).getOrElse(16),
      m.fold(Seq(Option.empty[DataType]))(_.typesOf(Seq("suite"))), Seq(Seq(suite)))
    receipted(artifact, subTable, 1L, pruned = true)(
      VersionedTable.rewriteBuckets(spark, sub, Seq("suite"), touched, Some(hit))(
        _.filter(!hit)))
  }
}
