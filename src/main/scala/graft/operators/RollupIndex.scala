package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.sources.Sinks.VersionedTable

/** The COMMITTED incrementally-maintained rollup (SURVEY.md §2 B43/B43b)
  * — materialized-aggregate maintenance, the third committed artifact
  * next to the ANN index (C61) and the dedup index (C66): corpus-wide
  * statistics a 100 TB deployment cannot afford to recompute by rescan
  * every time a batch lands.
  *
  * Reference domain: the reference recomputes its follower-stats
  * aggregates from the full table on every pipeline run
  * (analysis/interest_analyzer.py's per-run GROUP BYs); this is that
  * surface re-expressed as maintained state, which is what it becomes
  * when the table stops fitting a nightly rescan.
  *
  * GENERIC over rollup shape ([[RollupShape]]): any key-column list and
  * any mix of count / exact-decimal sum / long sum / min / max measure
  * specs — each a commutative MERGEABLE monoid, so partials combine in
  * any order to the same result. Two registered shapes exercise the
  * core: the lineitem money rollup (B43) and the per-(user, event_type)
  * event activity rollup (B43b: count, money sum, first/last seen).
  *
  * MULTI-WRITER state layout (merge-on-read): the state table holds one
  * partial-aggregate row per (key, delta_id) plus one LEDGER row per
  * applied delta — nothing is ever read-modify-written across deltas.
  * [[applyDelta]] therefore writes only key tuples its own delta_id
  * owns, and [[VersionedTable.mergeUpsert]]'s optimistic-retry commit
  * makes concurrent appliers of DIFFERENT deltas serialize safely (a
  * lost race redoes against the winner's snapshot; the writers' row
  * spaces are disjoint, so neither can clobber the other — the same
  * property SinksSpec proves for raw concurrent upserts). This lifts
  * the single-ingestor contract the round-8 merged-state layout
  * required, where two concurrent appliers would race the shared state
  * rows themselves. Reads merge partials per key on the fly
  * ([[read]]); [[foldPartials]] compacts the per-delta partials into
  * one folded row set per key when the partial count grows, preserving
  * the ledger so replay stays a no-op.
  *
  * Replay safety: ingest is AT-LEAST-ONCE (a restarted job re-submits
  * its batch), and additive state cannot detect a double-apply after
  * the fact. The ledger row commits IN THE SAME manifest transaction as
  * its delta's partial rows, so a crash can never separate them;
  * [[applyDelta]] no-ops for an applied id, and a replay that races its
  * own retry writes byte-identical rows (partialAgg is deterministic),
  * which latest-wins merges to one copy.
  *
  * Aggregate state types: counts/long sums as BIGINT, money sums as
  * exact DECIMAL(28,4) (10^24 headroom; associative, so merge order
  * can never change the result). Presentation (rounded doubles for
  * money) happens only at [[present]], per the SURVEY §6 convention, so
  * maintenance never accumulates float error.
  */
object RollupIndex {

  /** One mergeable measure: `kind` ∈ count | sum_dec | sum | min | max.
    * `src` is the fact column (ignored for count); `out` the state
    * column. sum_dec aggregates exact DECIMAL(18,4)→(28,4) (money);
    * sum aggregates BIGINT.
    */
  final case class AggSpec(kind: String, src: String, out: String)

  /** A rollup's shape: grouping keys + measure specs. */
  final case class RollupShape(keys: Seq[String], aggs: Seq[AggSpec])

  /** B43: per-(supplier, returnflag) lineitem money rollup. */
  val LineitemShape: RollupShape = RollupShape(
    Seq("l_suppkey", "l_returnflag"),
    Seq(AggSpec("count", "", "n_rows"),
      AggSpec("sum_dec", "l_quantity", "sum_qty"),
      AggSpec("sum_dec", "l_extendedprice", "sum_price")))

  /** B43b: per-(user, event_type) activity rollup — count, money sum,
    * first/last event time (micros). Expects a `ts_us` column
    * (unix_micros of the event time, the §6 convention).
    */
  val EventsShape: RollupShape = RollupShape(
    Seq("user_id", "event_type"),
    Seq(AggSpec("count", "", "n_rows"),
      AggSpec("sum_dec", "value", "sum_value"),
      AggSpec("min", "ts_us", "first_us"),
      AggSpec("max", "ts_us", "last_us")))

  /** Kept for callers of the historical lineitem-only surface. */
  val Keys: Seq[String] = LineitemShape.keys

  private def dec(c: Column): Column = c.cast("decimal(18,4)")
  private def money(c: Column): Column = round(c, 2).cast("double")
  private def dec28(c: Column): Column = c.cast("decimal(28,4)")
  // private[graft]: the streaming sink's fold-cadence guard probes the
  // state sub-table's manifest through this ONE definition of the layout
  private[graft] def statePath(path: String) = s"$path/state"

  /** The mergeable partial-aggregate state of a fact slice: one row per
    * key — each measure in its stable state type (BIGINT / exact
    * DECIMAL(28,4)), so repeated merges cannot widen the schema.
    */
  def partialAgg(fact: DataFrame, shape: RollupShape = LineitemShape): DataFrame = {
    val aggs = shape.aggs.map {
      case AggSpec("count", _, out) => count(lit(1)).as(out)
      case AggSpec("sum_dec", src, out) => dec28(sum(dec(col(src)))).as(out)
      case AggSpec("sum", src, out) => sum(col(src)).cast("long").as(out)
      case AggSpec("min", src, out) => min(col(src)).as(out)
      case AggSpec("max", src, out) => max(col(src)).as(out)
      case AggSpec(k, _, _) => throw new IllegalArgumentException(s"unknown agg kind $k")
    }
    fact.groupBy(shape.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two state frames: full-outer on the keys, measures combined
    * by their monoid (sums added with absent sides as identity, min/max
    * via null-skipping least/greatest). merge(a, b) ==
    * partialAgg(a.facts ∪ b.facts) exactly — the algebra the oracle
    * queries pin for BOTH registered shapes.
    */
  def mergeStates(a: DataFrame, b: DataFrame,
                  shape: RollupShape = LineitemShape): DataFrame = {
    val bb = b.select(shape.keys.map(col) ++
      shape.aggs.map(s => col(s.out).as(s"__b_${s.out}")): _*)
    val combined = shape.aggs.map { s =>
      val (x, y) = (col(s.out), col(s"__b_${s.out}"))
      s.kind match {
        case "count" | "sum" => (coalesce(x, lit(0L)) + coalesce(y, lit(0L))).as(s.out)
        case "sum_dec" =>
          dec28(coalesce(x, dec28(lit(0))) + coalesce(y, dec28(lit(0)))).as(s.out)
        case "min" => least(x, y).as(s.out) // least/greatest skip nulls
        case "max" => greatest(x, y).as(s.out)
      }
    }
    a.join(bb, shape.keys, "full_outer")
      .select(shape.keys.map(col) ++ combined: _*)
  }

  /** Re-aggregate many partial rows per key back to one — the same
    * monoid as [[mergeStates]] expressed as a group-by, used by the
    * merge-on-read path (associativity makes the two interchangeable).
    */
  private def combinePartials(partials: DataFrame, shape: RollupShape): DataFrame = {
    val aggs = shape.aggs.map { s =>
      s.kind match {
        case "count" | "sum" => sum(col(s.out)).cast("long").as(s.out)
        case "sum_dec" => dec28(sum(col(s.out))).as(s.out)
        case "min" => min(col(s.out)).as(s.out)
        case "max" => max(col(s.out)).as(s.out)
      }
    }
    partials.groupBy(shape.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Presentation: money measures as rounded doubles (§6 convention),
    * everything else in its state type.
    */
  def present(state: DataFrame, shape: RollupShape = LineitemShape): DataFrame =
    state.select(shape.keys.map(col) ++ shape.aggs.map { s =>
      if (s.kind == "sum_dec") money(col(s.out)).as(s.out) else col(s.out)
    }: _*)

  // --------------------------------------------- committed artifact

  private val RowPartial = "p"
  private val RowLedger = "l"
  /** [[foldPartials]] writes its folded rows under this reserved id. */
  private val FoldedId = ""

  private def stateCols(shape: RollupShape): Seq[String] =
    shape.keys ++ Seq("delta_id", "row_kind") ++ shape.aggs.map(_.out)

  /** Initialize the artifact from a fact slice (delta id recorded, so a
    * replayed bootstrap is as safe as a replayed increment).
    */
  def build(fact: DataFrame, path: String, deltaId: String,
            shape: RollupShape = LineitemShape): Unit =
    applyDelta(fact, path, deltaId, shape)

  /** Applied delta ids from the committed ledger rows — constant-size
    * (one row per ingest batch, ever), the artifact's replay guard.
    */
  def appliedDeltas(spark: SparkSession, path: String): Set[String] =
    try VersionedTable.read(spark, statePath(path))
      .filter(col("row_kind") === RowLedger)
      .select("delta_id").collect().map(_.getString(0)).toSet
    catch { case _: IllegalStateException => Set.empty } // no commits yet

  /** Apply one ingest batch: partial-agg the DELTA and commit its rows
    * under their own (key, delta_id) tuples plus one ledger row, all in
    * ONE manifest transaction. No shared row is ever read-modify-
    * written, so CONCURRENT appliers of different deltas are safe: each
    * writes a disjoint row space, and the table's optimistic commit
    * retry serializes them without lost updates (lifting the round-8
    * single-ingestor contract). Replay of an already-applied id is a
    * NO-OP; a replay racing its own retry writes byte-identical rows.
    */
  def applyDelta(delta: DataFrame, path: String, deltaId: String,
                 shape: RollupShape = LineitemShape): Unit = {
    require(deltaId.nonEmpty, s"delta id must be non-empty ('$FoldedId' is reserved)")
    val spark = delta.sparkSession
    val applied = appliedDeltas(spark, path)
    if (applied.contains(deltaId)) return
    val partial = partialAgg(delta, shape)
      .withColumn("delta_id", lit(deltaId))
      .withColumn("row_kind", lit(RowPartial))
    // ledger row: typed null keys/measures, real (delta_id, row_kind)
    val ledgerRow = spark.range(1).select(
      shape.keys.map(k => lit(null).cast(partial.schema(k).dataType).as(k)) ++
        Seq(lit(deltaId).as("delta_id"), lit(RowLedger).as("row_kind")) ++
        shape.aggs.map(s => lit(null).cast(partial.schema(s.out).dataType).as(s.out)): _*)
    VersionedTable.mergeUpsert(spark, statePath(path),
      partial.select(stateCols(shape).map(col): _*)
        .unionByName(ledgerRow)
        .withColumn("build_v", lit(applied.size + 1L)),
      shape.keys ++ Seq("delta_id", "row_kind"), "build_v", numBuckets = 16)
  }

  /** The presented rollup at the latest committed version (or at an
    * explicit state-table `version` — the knob that lets a composite
    * artifact's root snapshot pin a rollup sub-table as a READ
    * dependency, r11): merge the per-delta partials per key on the fly.
    * Merge-on-read touches |keys|·|unfolded deltas| rows; run
    * [[foldPartials]] when that grows past a cadence.
    */
  def read(spark: SparkSession, path: String,
           shape: RollupShape = LineitemShape,
           version: Option[Long] = None): DataFrame =
    present(combinePartials(
      VersionedTable.read(spark, statePath(path), version)
        .filter(col("row_kind") === RowPartial), shape), shape)

  /** Logical compaction: fold every delta's partial rows into one row
    * per key (under the reserved [[FoldedId]]), PRESERVING the ledger
    * rows so replayed deltas still no-op. Committed through
    * [[VersionedTable.replaceAll]] — an optimistic full-snapshot
    * rewrite, safe to run concurrently with live appliers: losing the
    * commit race refolds against the winner's snapshot, and an applier
    * losing to the fold redoes its disjoint-row merge on top of the
    * folded state. Idempotent (refolding folded state is the identity
    * plus a version bump).
    */
  /** [[foldPartials]] bracketed with the TakedownLog evidence
    * discipline (r13): the receipt's `idsFound` counts the UNFOLDED
    * partial rows the fold collapses (the merge-on-read debt being
    * paid) and `bucketsRewritten` the state-table rewrite — so a
    * maintenance sweep that folds a rollup leaves queryable evidence
    * of what it did, like every other ops job here. The fold itself is
    * unchanged: ledger rows preserved (replayed deltas still no-op),
    * idempotent, optimistic-commit safe next to live appliers.
    */
  def foldPartialsReceipted(spark: SparkSession, path: String,
                            shape: RollupShape = LineitemShape): TakedownReceipt =
    Takedown.receipted(path, "state", idsRequested = 0L, pruned = false)(
      VersionedTable.rewriteAll(spark, statePath(path), shape.keys ++ Seq("delta_id", "row_kind"),
        hit = Some(col("row_kind") === RowPartial && col("delta_id") =!= FoldedId))(
        partialsFold(shape)))

  def foldPartials(spark: SparkSession, path: String,
                   shape: RollupShape = LineitemShape): Unit =
    VersionedTable.replaceAll(spark, statePath(path),
      shape.keys ++ Seq("delta_id", "row_kind"))(partialsFold(shape))

  private def partialsFold(shape: RollupShape)(snap: DataFrame): DataFrame = {
    val folded = combinePartials(snap.filter(col("row_kind") === RowPartial), shape)
      .withColumn("delta_id", lit(FoldedId))
      .withColumn("row_kind", lit(RowPartial))
    folded.select(stateCols(shape).map(col): _*)
      .unionByName(snap.filter(col("row_kind") === RowLedger)
        .select(stateCols(shape).map(col): _*))
      .withColumn("build_v", lit(0L))
  }

  // ------------------------------------------------------ oracle query

  /** B43's registered query: split the fact table deterministically
    * into a base slice and an ingest delta (l_orderkey%4), run both
    * through the SAME partial-agg + merge core the artifact maintains,
    * and present. The oracle recomputes the rollup from the WHOLE fact
    * table in one pass — so the hash-compare pins the incremental
    * algebra itself: merge(agg(base), agg(delta)) == agg(base ∪ delta),
    * the property that makes refresh-from-delta valid at all.
    * RollupIndexSpec pins the committed path equal to this core.
    */
  def rollupIncremental(lineitem: DataFrame): DataFrame = {
    val base = lineitem.filter(pmod(col("l_orderkey"), lit(4L)) =!= 0L)
    val delta = lineitem.filter(pmod(col("l_orderkey"), lit(4L)) === 0L)
    present(mergeStates(partialAgg(base), partialAgg(delta)))
  }

  val rollupIncrementalSql: String =
    """SELECT l_suppkey, l_returnflag, count(*) AS n_rows,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY 1, 2""".stripMargin

  /** B43b's registered query — the same incremental algebra through the
    * GENERIC core on a different shape (event activity: count + money
    * sum + min/max first/last-seen micros), pinning that the
    * parameterized measure monoids, not just the lineitem sums, merge
    * exactly. Split by event_id%4, merged, vs the oracle's one-pass
    * group-by over all events.
    */
  def rollupEvents(events: DataFrame): DataFrame = {
    val prepared = events.withColumn("ts_us", unix_micros(col("ts")))
    val base = prepared.filter(pmod(col("event_id"), lit(4L)) =!= 0L)
    val delta = prepared.filter(pmod(col("event_id"), lit(4L)) === 0L)
    present(mergeStates(
      partialAgg(base, EventsShape), partialAgg(delta, EventsShape),
      EventsShape), EventsShape)
  }

  val rollupEventsSql: String =
    """SELECT user_id, event_type, count(*) AS n_rows,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
      |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rollup_incremental" -> ((s, d) => rollupIncremental(Tables.lineitem(s, d))),
    "q_rollup_events" -> ((s, d) => rollupEvents(Tables.events(s, d))))

  def oracle: Map[String, String] = Map(
    "q_rollup_incremental" -> rollupIncrementalSql,
    "q_rollup_events" -> rollupEventsSql)
}
