package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming mirrors of the stateful batch operators
  * (SURVEY.md §2 D). The reference pipeline polls and batches
  * (scheduler/job_scheduler.py:167 — every 30 min; analyzer poll loop in
  * main.py:113); the Spark-native continuous formulation is readStream →
  * transform → writeStream with event-time watermarks.
  *
  * Scale: state is partitioned by key (user_id / fingerprint) across
  * executors; watermarks bound state size — both prerequisites for an
  * unbounded 100 TB/day ingest.
  */
object EventStream {

  /** Canonical pipeline-snapshot loop names (r13): (loop, batch) is the
    * replay identity on a pipeline root, so the four admission loops
    * can share ONE root without colliding on batch ids — an auditor
    * pins the whole deployment with one `PipelineSnapshot.asOf` call
    * instead of correlating four roots by hand.
    */
  val CurationLoop = "curation"
  val EmbeddingLoop = "embedding"
  val SemanticLoop = "semantic"
  def mediaLoop(modality: String): String = s"media_$modality"

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(sessionId: Long, lastTsUs: Long, startTsUs: Long, nEvents: Long)

  case class SessionOut(user_id: Long, session_id: Long, n_events: Long, duration_us: Long,
                        start_us: Long)

  case class HostCapOut(doc_id: Long, host: String, host_rank: Long)

  /** Event time in exact microseconds from the timestamp's FULL
    * precision — `getTime` alone is millisecond-truncated, which would
    * make streaming session boundaries/durations diverge from the batch
    * twin (`unix_micros`) on sub-ms data.
    */
  def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** The events schema for file sources (matches [[Event]]; `ts` is a
    * standard micros timestamp — the driver testdata's TIMESTAMP(NANOS)
    * parquet goes through sources.Tables.events for batch reads).
    */
  val eventSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
  }

  /** File-source entry point — a real deployment's first step: the same
    * streaming plans ([[windowedCounts]], [[sessionizeStreamWatermarked]],
    * dedup) run unchanged over parquet files landing in a directory.
    * `maxFilesPerTrigger` bounds each micro-batch; new files are
    * discovered incrementally and exactly-once per the file-source
    * contract.
    */
  def eventFileSource(spark: SparkSession, path: String,
                      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Tumbling-window counts per event type with a watermark bounding
    * late data (and therefore state).
    */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming exact-dedup by content fingerprint — the first stage of a
    * streaming LLM-ingest pipeline. Uses dropDuplicatesWithinWatermark:
    * plain dropDuplicates("fp") NEVER evicts state when the event-time
    * column isn't part of the dedup key, so its state grows with every
    * distinct fingerprint forever. The WithinWatermark variant dedups on
    * fp alone but expires state once the watermark passes — bounded
    * state, with dedup guaranteed for duplicates arriving within the
    * watermark delay (the honest contract for an unbounded stream).
    */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Stateful sessionization core — the streaming twin of
    * operators.Reference.sessionize (same 30-min gap rule). Emits a
    * session when a gap closes it; the open session stays in per-user
    * state across micro-batches, so sessions spanning batch boundaries
    * are NOT split (the bug the batch-polling reference design cannot
    * avoid). With `timeouts` on, an event-time timeout also closes (and
    * evicts) sessions once the watermark passes last event + gap.
    */
  private def sessionFn(gapUs: Long, timeouts: Boolean)(
      userId: Long, batch: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (timeouts && state.hasTimedOut) {
      // watermark passed last event + gap: the open session is closed
      val st = state.get
      state.remove()
      return Iterator.single(
        SessionOut(userId, st.sessionId, st.nEvents, st.lastTsUs - st.startTsUs, st.startTsUs))
    }
    val sorted = batch.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val tUs = tsMicros(e.ts)
      if (st == null) {
        st = SessionState(1L, tUs, tUs, 1L)
      } else if (tUs - st.lastTsUs > gapUs) {
        out += SessionOut(userId, st.sessionId, st.nEvents, st.lastTsUs - st.startTsUs, st.startTsUs)
        st = SessionState(st.sessionId + 1, tUs, tUs, 1L)
      } else {
        st = st.copy(lastTsUs = tUs, nEvents = st.nEvents + 1)
      }
    }
    if (st != null) {
      val timeoutMs = st.lastTsUs / 1000 + gapUs / 1000 + 1
      if (timeouts && timeoutMs <= state.getCurrentWatermarkMs()) {
        // the gap already elapsed in event time — close immediately
        out += SessionOut(userId, st.sessionId, st.nEvents, st.lastTsUs - st.startTsUs, st.startTsUs)
        state.remove()
      } else {
        state.update(st)
        if (timeouts) state.setTimeoutTimestamp(timeoutMs)
      }
    }
    out.result().iterator
  }

  /** Unbounded-state variant (NoTimeout): sessions only close when the
    * same user's next event arrives. Fine for tests and bounded user
    * populations; deploy [[sessionizeStreamWatermarked]] on real
    * unbounded streams.
    */
  def sessionizeStream(events: Dataset[Event], gapUs: Long = 30L * 60 * 1000000)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionFn(gapUs, timeouts = false))
  }

  /** The deployable pipeline: watermark + event-time timeout. When the
    * watermark passes a user's last event + gap, the open session is
    * emitted as closed and the per-user state REMOVED — idle users cost
    * nothing and sessions close without needing a next event.
    *
    * Session identity: `session_id` is a per-state-lifetime ordinal — it
    * restarts at 1 after a timeout evicts the user's state (the counter
    * lives in the state, and keeping a tombstone to preserve it would
    * unbound state again). `start_us` is the stable session identity
    * across eviction; (user_id, start_us) is globally unique.
    */
  def sessionizeStreamWatermarked(events: Dataset[Event],
                                  gapUs: Long = 30L * 60 * 1000000,
                                  watermark: String = "30 minutes")(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFn(gapUs, timeouts = true))
  }

  /** Convenience: flush open sessions (batch-mode tail call after a
    * streaming run, or end-of-day close in tests).
    */
  def closeOpenSession(st: SessionState, userId: Long): SessionOut =
    SessionOut(userId, st.sessionId, st.nEvents, st.lastTsUs - st.startTsUs, st.startTsUs)

  /** Stream-stream attribution join — the streaming twin of the batch
    * as-of join (operators.Temporal.asOfLastClick): each purchase is
    * matched to the same user's clicks in the trailing `windowSec`
    * seconds. Both sides carry watermarks and the join condition bounds
    * event-time distance, so Spark can evict both sides' state once the
    * watermark passes — the REQUIRED shape for an unbounded
    * stream-stream join (an unbounded-condition join would accumulate
    * state forever). Inner join → append-mode output as matches become
    * final.
    *
    * Inputs: two streaming frames with (event_id, ts, user_id) columns.
    * Output: one row per (purchase, qualifying click) pair.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        windowSec: Long = 3600L,
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSec SECOND"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Streaming ANN: a stream of query vectors scored against a STATIC
    * LSH-bucketed corpus (stream-static equi-join on (table, bucket) —
    * no stream-side state, corpus buckets broadcast/partition-pruned).
    * This is the online-serving twin of operators.Embeddings.annLsh:
    * index once, score queries as they arrive.
    *
    * A query vector colliding with the same neighbor in several LSH
    * tables emits that pair once PER TABLE here — dedup is deliberately
    * NOT done on the stream (stream-side dropDuplicates without a
    * watermark accumulates unbounded state); [[streamingAnnTopK]] dedups
    * and ranks inside each micro-batch, where the frame is finite.
    *
    * Input stream schema: (query_id long, embedding array<float>).
    * Output: (query_id, n_id, cos) candidate scores (with per-table
    * duplicates).
    */
  def streamingAnnCandidates(queryStream: org.apache.spark.sql.DataFrame,
                             corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.Embeddings
    val corpusBuckets = Embeddings.lshBuckets(Embeddings.quantized(corpus))
    val qStream = queryStream
      .select(col("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")).as("qv"))
      .withColumn("nrm", graft.functions.Exprs.dotLong(col("qv"), col("qv")))
    val streamBuckets = Embeddings.lshBuckets(
      qStream.select(col("query_id").as("vec_id"), col("qv"), col("nrm")))
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"), col("t"), col("bucket"))
    streamBuckets
      .join(corpusBuckets, Seq("t", "bucket"))
      .select(
        col("query_id"), col("vec_id").as("n_id"),
        (graft.functions.Exprs.dotLong(col("q_qv"), col("qv")).cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double")))).as("cos"))
  }

  /** Streaming IVF ANN: the trained k-means codebook
    * (operators.Embeddings.kmeansCodebook) is materialized ONCE at
    * stream setup — 16 rows collected to the driver, the model-artifact
    * load every serving system does — and becomes a literal array in the
    * plan, so each arriving query's nprobe-list assignment is a pure
    * map-side expression (distance to 16 centroid literals, sort, keep
    * NProbe). Candidates come from a stream-static join against the
    * partition-prunable inverted lists; at scale only
    * NProbe/NumCentroids of the corpus is touched per query. Pair with
    * [[streamingAnnIvfTopK]] for the exact per-batch answer.
    *
    * Input stream schema: (query_id long, embedding array<float>).
    */
  def streamingAnnIvfCandidates(queryStream: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.operators.Embeddings
    val q = Embeddings.quantized(corpus)
    val cent = Embeddings.kmeansCodebook(q)
    // inverted lists: every corpus vector with its (single) list id
    val lists = Embeddings.ivfAssign(q, cent)
      .join(q, "vec_id")
      .select(col("c_id"), col("vec_id").as("n_id"), col("qv"), col("nrm"))
    // codebook -> plan literals (bounded: NumCentroids rows)
    val centLit = array(cent.orderBy("c_id").collect().map { r =>
      struct(
        lit(r.getLong(0)).as("c_id"),
        typedLit(r.getSeq[Long](1)).as("cqv"),
        lit(r.getLong(2)).as("cnrm"))
    }.toIndexedSeq: _*)
    val qStream = queryStream
      .select(col("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")).as("q_qv"))
      .withColumn("q_nrm", graft.functions.Exprs.dotLong(col("q_qv"), col("q_qv")))
      .withColumn("probe", explode(slice(array_sort(
        transform(centLit, c => struct(
          (col("q_nrm") - lit(2L) * graft.functions.Exprs.dotLong(col("q_qv"), c.getField("cqv"))
            + c.getField("cnrm")).as("d2"),
          c.getField("c_id").as("c_id")))), 1, Embeddings.NProbe)))
      .select(col("query_id"), col("q_qv"), col("q_nrm"), col("probe.c_id").as("c_id"))
    qStream
      .join(lists, Seq("c_id"))
      .select(
        col("query_id"), col("n_id"),
        (graft.functions.Exprs.dotLong(col("q_qv"), col("qv")).cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double")))).as("cos"))
  }

  /** Streaming ANN against the COMMITTED index ([[graft.operators
    * .AnnIndex]]): the serving topology a production deployment
    * actually runs — an indexing job builds/rebuilds the IVF-PQ
    * artifact offline and commits it transactionally; the serving
    * stream LOADS it (codebooks → plan literals, codes → a
    * stream-static join against the versioned table) and never trains.
    * Each arriving query routes to its NProbe lists via the coarse-
    * codebook literal, then ADC-scores ONLY the committed PQ codes in
    * those lists — no raw-vector I/O on the serve path at all, the
    * property that lets the scan body be ~16× smaller than the corpus.
    * The static side snapshots the index's latest committed version at
    * stream START (manifest read), so a concurrent rebuild never tears
    * mid-stream; restart the stream to pick up a new index version.
    *
    * Input stream schema: (query_id long, embedding array<float>).
    * Output: (query_id, n_id, approx_cos) ADC candidates; rank
    * per-batch with the [[streamingAnnIvfTopK]] pattern.
    */
  def streamingAnnCommittedCandidates(queryStream: DataFrame, indexPath: String): DataFrame = {
    import graft.operators.{AnnIndex, Embeddings}
    val spark = queryStream.sparkSession
    val ix = AnnIndex.load(spark, indexPath)
    val codes = AnnIndex.codes(spark, indexPath)
    val coarseLit = array(ix.coarse.map { case (cId, cqv, cnrm) =>
      struct(lit(cId).as("c_id"), typedLit(cqv).as("cqv"), lit(cnrm).as("cnrm"))
    }.toIndexedSeq: _*)
    val qStream = queryStream
      .select(col("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")).as("q_qv"))
      .withColumn("q_nrm", graft.functions.Exprs.dotLong(col("q_qv"), col("q_qv")))
      .withColumn("cids", slice(array_sort(
        transform(coarseLit, c => struct(
          (col("q_nrm") - lit(2L) * graft.functions.Exprs.dotLong(col("q_qv"), c.getField("cqv"))
            + c.getField("cnrm")).as("d2"),
          c.getField("c_id").as("c_id")))), 1, Embeddings.NProbe))
      // per-query ADC lookup tables BEFORE the probe explode — the
      // candidate score is then an array lookup per (query, code) pair
      // and the query row sheds q_qv (r14; see Embeddings.adcTable)
      .select(Seq(col("query_id"), col("q_nrm"), col("cids")) ++
        AnnIndex.adcTablesFor(ix, col("q_qv")): _*)
      .withColumn("probe", explode(col("cids")))
      .select(Seq(col("query_id"), col("q_nrm"), col("probe.c_id").as("c_id")) ++
        (0 until graft.operators.Embeddings.PqM).map(m => col(s"adc_$m")): _*)
    val (adot, anrm) = AnnIndex.adcColsFor(ix)
    qStream
      .join(codes, Seq("c_id"))
      .select(col("query_id"), col("vec_id").as("n_id"),
        (adot.cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(anrm.cast("double"))))
          .as("approx_cos"))
  }

  /** Per-micro-batch exact top-k over the streaming IVF candidates —
    * same bounded-frame rank as [[streamingAnnTopK]]. (A vector in two
    * probed lists can't duplicate — each corpus vector lives in exactly
    * one list — but the dedup keeps the contract uniform.)
    */
  def streamingAnnIvfTopK(queryStream: DataFrame, corpus: DataFrame,
                          k: Int = graft.operators.Embeddings.TopK)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    streamingAnnIvfCandidates(queryStream, corpus)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ranked = batch
          .dropDuplicates("query_id", "n_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("query_id").orderBy(col("cos").desc, col("n_id"))))
          .filter(col("rn") <= k)
        sink(ranked, batchId)
      }
      .start()

  /** Per-micro-batch exact top-k ANN serving: dedup the per-table
    * duplicate candidate pairs, rank per query (cosine desc, neighbor-id
    * tie-break), keep k, and hand each batch's exact answer to `sink`.
    * The rank window runs on a bounded micro-batch frame partitioned by
    * query_id — state never outlives the batch.
    */
  def streamingAnnTopK(queryStream: org.apache.spark.sql.DataFrame,
                       corpus: org.apache.spark.sql.DataFrame,
                       k: Int = graft.operators.Embeddings.TopK)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    streamingAnnCandidates(queryStream, corpus)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ranked = batch
          .dropDuplicates("query_id", "n_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("query_id").orderBy(col("cos").desc, col("n_id"))))
          .filter(col("rn") <= k)
        sink(ranked, batchId)
      }
      .start()

  /** Cumulative streaming heavy-hitter summary — the streaming twin of
    * [[graft.operators.TextOps.heavyHitters]]'s sketch pass: a GLOBAL
    * streaming aggregation whose entire state is one Misra-Gries buffer
    * (k counters) in the state store. Bounded state for an unbounded
    * stream — the property that makes frequency monitoring viable on a
    * 100 TB/day feed where an exact token groupBy's state would grow
    * with the vocabulary forever.
    *
    * Complete output mode re-emits the current summary each batch. The
    * MG superset guarantee holds cumulatively (any gram with frequency
    * > N/k of everything ingested so far is present); as in batch,
    * summary contents are estimates — run the exact-verify pass against
    * the corpus when a precise heavy set is needed.
    */
  def streamingHeavyHitters(docs: DataFrame, k: Int = 64): DataFrame =
    docs
      .select(explode(graft.functions.Exprs.ngrams(split(col("text"), " "), 2)).as("gram"))
      .agg(graft.functions.Exprs.misraGries(col("gram"), k).as("summary"))

  /** Streaming twin of [[graft.operators.Sketches.approxDistinctTokens]]
    * (C31): per-language token count + HLL++ distinct estimate as a
    * stateful streaming aggregation in complete mode. The state per
    * group is the fixed-width HLL register array — bounded for an
    * unbounded stream, the same property as the Misra-Gries twin. HLL
    * register merge is max-based and therefore ORDER-INDEPENDENT, so
    * after the same rows the streaming estimate is bit-identical to the
    * batch one (the equivalence spec asserts exact equality, unlike the
    * quantile twin below).
    */
  def streamingDistinctTokens(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        approx_count_distinct(col("token"), rsd).as("hll"))

  /** Streaming twin of [[graft.operators.Sketches.approxOrderQuantiles]]
    * (C32): per-status quantile summaries in complete mode. The
    * summary's rank-error contract (≤ n/accuracy) holds REGARDLESS of
    * merge order, but the point estimate may differ from the batch run
    * by merge order — so the equivalence spec asserts the batch-side
    * exact quantile window, not bit equality.
    */
  def streamingOrderQuantiles(orders: DataFrame, accuracy: Int = 1000): DataFrame =
    orders
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(o_totalprice, array(0.5, 0.9), $accuracy)").as("ap"))

  /** Streaming twin of [[graft.operators.Sketches.cmsTopkTokens]]'s
    * counter grid (C64): the Count-Min grid as a stateful streaming
    * aggregation in complete mode. State is at most depth·width cells
    * (16 KB at the defaults) — bounded for an unbounded stream, like
    * the MG and HLL twins — and cell increments are plain commutative
    * sums, so after the same rows the streaming grid is BIT-IDENTICAL
    * to the batch grid (the equivalence test asserts exact equality).
    * Point-frequency serving is then `min` over a probe's d cells
    * against this grid, exactly as in batch.
    */
  def streamingCmsGrid(docs: DataFrame, depth: Int = 4, width: Int = 1024): DataFrame =
    graft.operators.Sketches.cmsGrid(
      docs.select(explode(split(col("text"), " ")).as("token")), depth, width)

  /** Streaming twin of [[graft.operators.TextOps.lineDedup]] (C45):
    * boilerplate-line stripping over a document stream. Per micro-batch,
    * the batch's line frequencies MERGE into a persistent parquet index
    * keyed by (fp, batch_id) — the batch id makes a foreachBatch replay
    * overwrite its own prior rows instead of double-counting, so the
    * at-least-once contract degrades to effectively-once on the index —
    * and the batch's documents are cleaned against the CUMULATIVE
    * frequency as of the end of their own batch. A line becomes
    * boilerplate the moment its ndocs (summed over the index) reaches
    * `minDocs`; documents from earlier batches are not retro-cleaned
    * (the honest streaming contract — the batch operator is the
    * retroactive compaction pass). One batch carrying the whole corpus
    * is bit-identical to the batch operator, which is what the
    * equivalence spec asserts.
    *
    * Scale: the index is (fp, batch_id, n) — data-proportional but
    * narrow; the per-batch merge cost is bounded by
    * [[graft.sources.Sinks.mergeUpsert]]'s swap (move to the bucketed
    * variant when the index outgrows single-swap rewrites, exactly as
    * the C26 fingerprint index does).
    */
  def streamingLineDedup(docs: DataFrame, indexPath: String, outPath: String,
                         checkpoint: String, lineTok: Int = 4,
                         minDocs: Int = 2): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val lines = graft.operators.TextOps.docLines(batch, lineTok)
      val bf = graft.operators.TextOps.lineDocFreq(lines)
        .withColumnRenamed("ndocs", "n")
        .withColumn("batch_id", lit(batchId))
      graft.sources.Sinks.mergeUpsert(
        spark, indexPath, bf, Seq("fp", "batch_id"), "n")
      val freq = spark.read.parquet(indexPath)
        .groupBy("fp").agg(sum(col("n")).as("ndocs"))
      graft.operators.TextOps.stripBoilerplate(lines, freq, minDocs)
        .write.mode(SaveMode.Append).parquet(outPath)
    }

  /** Streaming twin of C26b ([[graft.operators.Sketches.dedupIncrementalBloom]]):
    * Bloom-pruned incremental dedup where "historical" = everything the
    * stream has committed in PRIOR batches. The fingerprint index is a
    * parquet set at `indexPath/fps` (merged per batch, same mergeUpsert
    * path as [[streamingLineDedup]]'s index); next to it lives a BLOOM
    * SIDECAR (`indexPath/bloom.bin` + `bloom.json`) — the compacted
    * probe structure each batch consults BEFORE the exact join, so the
    * join's shuffle carries only probable-duplicate rows, not the whole
    * ingest (the C26b semi-join reduction, continuously maintained).
    *
    * Rebuild-or-merge per batch:
    *  - while the index cardinality fits the sidecar's sized capacity,
    *    the batch's new fingerprints are folded in by BLOOM UNION —
    *    build a batch-only filter with the SAME (capacity, numBits)
    *    parameters and `mergeInPlace` (bitwise OR; Spark's
    *    `util.sketch.BloomFilter`, the exact class behind
    *    `graft_bloom_agg`) — constant driver-side work, no index scan;
    *  - when the index outgrows capacity (fpp would degrade), the
    *    sidecar is REBUILT from the full fps index at 2× headroom —
    *    amortized O(1) rebuilds, the standard doubling schedule.
    * The sidecar is advisory state: a crash between index merge and
    * sidecar write just means the next batch sees a stale (smaller)
    * filter — false-negative-free probing is preserved because missing
    * fingerprints only ADD exact-join work (`maybe` mishits), never skip
    * it... strictly: a fp in the index but not the filter would probe
    * `maybe=false` and report is_known=false — so the sidecar is
    * written FIRST (filter may over-contain: false positives fall to
    * the exact join and resolve correctly; the reverse order could
    * under-contain and lose known-flags on replay).
    *
    * Delivery: foreachBatch at-least-once; a replayed batch re-merges
    * the same fps (idempotent on the set) and re-probes against a
    * filter that may already contain them — its rows then resolve
    * through the exact join against the index, which by the
    * sidecar-first order already holds them, reporting is_known=true
    * for the replay (the honest at-least-once answer).
    */
  def streamingDedupIncrementalBloom(docs: DataFrame, indexPath: String,
                                     outPath: String, checkpoint: String,
                                     fpp: Double = 0.01): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, _) =>
      processBloomDedupBatch(batch, indexPath, outPath, fpp)
    }

  /** One micro-batch of the Bloom-pruned incremental dedup — factored
    * out so StreamingSpec can also drive it directly for the
    * batch-equivalence assertion. Order of operations (crash-safety):
    * probe/output against PRE-batch state, then sidecar
    * (over-containment is safe — false positives resolve in the exact
    * join), then index merge.
    */
  private[graft] def processBloomDedupBatch(batch: DataFrame, indexPath: String,
                                            outPath: String, fpp: Double): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpsPath = new org.apache.hadoop.fs.Path(root, "fps")
    val sidecarPath = new org.apache.hadoop.fs.Path(root, "bloom.sidecar")

    def readBytes(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      buf
    }
    def writeAtomic(p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(root, s".tmp-${p.getName}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"bloom sidecar rename $tmp -> $p failed")
    }
    // distributed Bloom build via the same aggregate the batch operator
    // uses (null for an empty frame — callers guard)
    val bloomViewId = java.util.UUID.randomUUID().toString.replace("-", "")
    def aggBloom(df: DataFrame, cap: Long, bits: Long): Array[Byte] = {
      // graft_bloom_agg is Spark's BloomFilterAggregate, which SILENTLY
      // clamps its arguments at spark.sql.optimizer.runtime.bloomFilter
      // .maxNumItems/maxNumBits (defaults 4M items / 64Mi bits). Past
      // the clamp the doubling rebuild would stop growing the filter
      // and fpp would quietly degrade while the sidecar meta still
      // claimed the sized capacity — so raise the session ceilings to
      // the geometry actually requested before aggregating.
      // Raise SCOPED to this one statement — the same ceilings also
      // size the optimizer's own injected runtime bloom filters, and a
      // permanent raise would let every later join in the session build
      // oversized filters. Restore the prior values afterwards.
      val conf = spark.conf
      val keys = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> cap,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> bits)
      val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
      keys.foreach { case (k, need) =>
        if (conf.getOption(k).forall(_.toLong < need)) conf.set(k, need.toString)
      }
      val v = s"graft_sbloom_$bloomViewId"
      df.createOrReplaceTempView(v)
      try spark.sql(
        s"SELECT graft_bloom_agg(xxhash64(fp), ${cap}L, ${bits}L) FROM $v")
        .head().getAs[Array[Byte]](0)
      finally {
        spark.catalog.dropTempView(v)
        saved.foreach {
          case (k, Some(old)) => conf.set(k, old)
          case (k, None) => conf.unset(k)
        }
      }
    }
    def optimalBits(n: Long): Long =
      math.max(64L, math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

    val fpBatch = fpBatch0(batch).persist()
    try {
      val newFps = fpBatch.select("fp").distinct()
      val batchN = newFps.count()
      val indexExists = fs.exists(fpsPath)

      // ---- 1. probe + output against PRE-batch state ----
      // sidecar file layout: 4-byte BE meta length + meta json + filter
      // bytes — ONE file, published by atomic rename, so the filter
      // geometry and its (capacity, numBits, count) meta can never tear
      // apart (a torn two-file write would wedge every later merge on
      // an IncompatibleMergeException at restart)
      val preSidecarFile: Option[(String, Array[Byte])] =
        if (!fs.exists(sidecarPath)) None
        else {
          val all = readBytes(sidecarPath)
          val mlen = java.nio.ByteBuffer.wrap(all, 0, 4).getInt
          Some((new String(all, 4, mlen, java.nio.charset.StandardCharsets.UTF_8),
            java.util.Arrays.copyOfRange(all, 4 + mlen, all.length)))
        }
      val preSidecar: Option[Array[Byte]] = preSidecarFile.map(_._2)
      val flagged = preSidecar match {
        case Some(bytes) =>
          fpBatch.withColumn("maybe",
            coalesce(call_function("graft_might_contain",
              lit(bytes), xxhash64(col("fp"))), lit(false)))
        case None =>
          // no filter yet: conservative — everything might be known
          // (resolves via the exact join); with no index either, the
          // join below is skipped and all rows are unknown
          fpBatch.withColumn("maybe", lit(indexExists))
      }
      val out =
        if (!indexExists)
          flagged.select(col("doc_id"), col("fp"), lit(false).as("is_known"))
        else {
          val hist = spark.read.parquet(fpsPath.toString)
          flagged.filter(col("maybe"))
            .join(hist.withColumn("__hit", lit(true)), Seq("fp"), "left")
            .select(col("doc_id"), col("fp"), coalesce(col("__hit"), lit(false)).as("is_known"))
            .unionByName(flagged.filter(!col("maybe"))
              .select(col("doc_id"), col("fp"), lit(false).as("is_known")))
        }
      out.write.mode(SaveMode.Append).parquet(outPath)

      // ---- 2. sidecar rebuild-or-merge (before the index merge) ----
      val meta: Option[(Long, Long, Long)] = // (capacity, numBits, count)
        preSidecarFile.flatMap { case (txt, _) =>
          def num(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
          (num("capacity"), num("numBits"), num("count")) match {
            case (Some(c), Some(b), Some(n)) => Some((c, b, n))
            case _ => None
          }
        }
      val (bloomBytes, cap, bits, cnt) = meta match {
        case Some((cap0, bits0, cnt0)) if cnt0 + batchN <= cap0 =>
          // MERGE: batch-only filter with IDENTICAL (capacity, numBits)
          // — same numHashFunctions — then bitwise-OR into the sidecar
          val addBytes = if (batchN == 0) null else aggBloom(newFps, cap0, bits0)
          val merged =
            if (addBytes == null) preSidecar.get
            else {
              val a = BloomFilter.readFrom(new java.io.ByteArrayInputStream(preSidecar.get))
              a.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(addBytes)))
              val bos = new java.io.ByteArrayOutputStream()
              a.writeTo(bos)
              bos.toByteArray
            }
          (merged, cap0, bits0, cnt0 + batchN)
        case _ =>
          // REBUILD from index ∪ batch at 2x headroom (doubling schedule)
          val all =
            if (indexExists)
              spark.read.parquet(fpsPath.toString).select("fp").union(newFps).distinct()
            else newFps
          val total = all.count()
          val cap = math.max(total * 2, 1024L)
          val bits = optimalBits(cap)
          (if (total == 0) null else aggBloom(all, cap, bits), cap, bits, total)
      }
      if (bloomBytes != null) {
        val metaBytes = s"""{"capacity":$cap,"numBits":$bits,"count":$cnt}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val buf = java.nio.ByteBuffer.allocate(4 + metaBytes.length + bloomBytes.length)
        buf.putInt(metaBytes.length).put(metaBytes).put(bloomBytes)
        writeAtomic(sidecarPath, buf.array())
      }

      // ---- 3. index merge (idempotent on the fp set) ----
      graft.sources.Sinks.mergeUpsert(
        spark, fpsPath.toString, newFps.withColumn("one", lit(1)),
        Seq("fp"), "one")
    } finally fpBatch.unpersist()
  }

  private def fpBatch0(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"), md5(col("text")).as("fp"))

  /** Streaming UPSERT exit path — the continuous twin of the reference's
    * `INSERT … ON CONFLICT DO UPDATE` (instagram_scraper.py:203): each
    * micro-batch is reduced to its latest row per key (max_by on the
    * version column — a batch can carry several updates for one key) and
    * MERGEd into the parquet target via [[graft.sources.Sinks.mergeUpsert]].
    *
    * Delivery contract: foreachBatch is at-least-once across restarts —
    * a replayed batch re-merges the same (key, version) rows, and
    * latest-wins-by-version makes that re-merge a no-op, so the TARGET
    * is effectively exactly-once as long as versions are monotone per
    * key (event ids / scrape timestamps are). State: none beyond the
    * micro-batch; the target rewrite cost is bounded by the bucketed
    * variant when the table outgrows single-swap rewrites.
    *
    * The non-key columns ride ONE `max_by(struct(…), version)` — one
    * independent `max_by` per column would let two rows sharing
    * (key, version) in a batch tear, merging columns from different
    * source rows. With the single struct the winner is a whole source
    * row; names are resolved via backtick-quoted references, so columns
    * needing quoting survive the round-trip.
    */
  def streamingUpsertSink(stream: DataFrame, path: String,
                          keys: Seq[String], versionCol: String,
                          checkpoint: String): StreamingQuery =
    startBatches(stream, checkpoint) { (batch, _) =>
      graft.sources.Sinks.mergeUpsert(batch.sparkSession, path,
        latestPerKey(batch, keys, versionCol), keys, versionCol)
    }

  /** Latest row per key within one micro-batch (whole-row max_by on the
    * version — per-column maxes could tear rows tied on (key, version)).
    */
  private def latestPerKey(batch: DataFrame, keys: Seq[String],
                           versionCol: String): DataFrame = {
    def qc(c: String) = col(s"`${c.replace("`", "``")}`")
    val others = batch.columns.filterNot(c => keys.contains(c) || c == versionCol)
    val packed = batch.groupBy(keys.map(qc): _*)
      .agg(
        max(qc(versionCol)).as(versionCol),
        (if (others.isEmpty) Seq.empty[org.apache.spark.sql.Column]
         else Seq(max_by(struct(others.toIndexedSeq.map(qc): _*), qc(versionCol)).as("__row"))): _*)
    packed
      .select(keys.map(qc) ++ Seq(qc(versionCol)) ++
        others.map(c => col("__row").getField(c).as(c)): _*)
      .select(batch.columns.toIndexedSeq.map(qc): _*)
  }

  /** Streaming perceptual image dedup (C12b's continuous twin): each
    * incoming media payload is fingerprinted by the STATELESS phash
    * kernel (real ImageIO decode in mapPartitions — the same body as
    * the batch operator, running unchanged on the streaming frame) and
    * checked against a static committed phash index via the banded
    * probe join. Every step is a projection, explode, or stream-static
    * equi-join: append mode, NO state store, and the first-equal-band
    * rule dedups multi-band matches statelessly — so an incoming crawl
    * image is flagged against the corpus index without shuffling the
    * index per batch or holding any streaming state. Undecodable
    * payloads quarantine in the kernel's null filter.
    */
  def streamingImagePhashMatches(media: DataFrame, indexFps: DataFrame,
                                 threshold: Int =
                                   graft.operators.ImageDedup.HammingThreshold): DataFrame = {
    import graft.operators.{BandedPairs, ImageDedup}
    val probe = ImageDedup.phashPayloads(media, "media_id")
    BandedPairs.probeJoin(probe, "media_id", indexFps, "doc_id", "phash",
      ImageDedup.NumBands, ImageDedup.BandBits, threshold)
  }

  /** Streaming perceptual VIDEO dedup (C12d's continuous twin) — the
    * same stateless contract as [[streamingImagePhashMatches]]: the
    * batch temporal-fingerprint kernel (real RIFF/AVI walk + DIB frame
    * decode in mapPartitions) runs unchanged on the streaming frame,
    * then the banded probe join checks incoming clips against a static
    * committed fingerprint index. Append mode, no state store;
    * undecodable clips quarantine in the kernel's null filter.
    */
  def streamingVideoPhashMatches(media: DataFrame, indexFps: DataFrame,
                                 threshold: Int =
                                   graft.operators.VideoDedup.HammingThreshold): DataFrame = {
    import graft.operators.{BandedPairs, VideoDedup}
    val probe = VideoDedup.vhashPayloads(media, "media_id")
    BandedPairs.probeJoin(probe, "media_id", indexFps, "doc_id", "vhash",
      VideoDedup.NumBands, VideoDedup.BandBits, threshold)
  }

  /** Streaming perceptual AUDIO dedup (C12c's continuous twin) — the
    * same stateless contract as [[streamingImagePhashMatches]]: the
    * batch energy-sign kernel (real javax.sound WAV decode in
    * mapPartitions) runs unchanged on the streaming frame, then the
    * banded probe join checks incoming clips against a static committed
    * fingerprint index. Append mode, no state store; undecodable clips
    * quarantine in the kernel's null filter.
    */
  def streamingAudioFpMatches(media: DataFrame, indexFps: DataFrame,
                              threshold: Int =
                                graft.operators.AudioDedup.HammingThreshold): DataFrame = {
    import graft.operators.{AudioDedup, BandedPairs}
    val probe = AudioDedup.fpPayloads(media, "media_id")
    BandedPairs.probeJoin(probe, "media_id", indexFps, "doc_id", "afp",
      AudioDedup.NumBands, AudioDedup.BandBits, threshold)
  }

  /** [[streamingAudioFpMatches]] probing the committed MediaIndex —
    * see [[streamingImagePhashServe]]. */
  def streamingAudioFpServe(media: DataFrame, indexPath: String,
                            threshold: Int =
                              graft.operators.AudioDedup.HammingThreshold,
                            pinGroupVersion: Option[Long] = None): DataFrame =
    streamingAudioFpMatches(media,
      mediaFpsFrame(media.sparkSession, indexPath, "aud", pinGroupVersion),
      threshold)

  /** The fps frame a media probe stream serves from: the latest
    * snapshot, or — with `pinGroupVersion` — one NAMED root snapshot
    * for the stream's whole lifetime (the reproducible-serving knob the
    * text probe got in r11: immune to concurrent extends AND retracts;
    * a compliance audit replaying pre-takedown verdicts pins exactly
    * this). Unknown/pruned groups refuse at stream START, not batch 0.
    */
  private def mediaFpsFrame(spark: SparkSession, indexPath: String,
                            modality: String,
                            pinGroupVersion: Option[Long]): DataFrame =
    pinGroupVersion match {
      case Some(g) =>
        graft.operators.MediaIndex.loadFpsAt(spark, indexPath, modality, g)
      case None => modality match {
        case "img" => graft.operators.MediaIndex.loadImageFps(spark, indexPath)
        case "vid" => graft.operators.MediaIndex.loadVideoFps(spark, indexPath)
        case _ => graft.operators.MediaIndex.loadAudioFps(spark, indexPath)
      }
    }

  /** [[streamingImagePhashMatches]] probing the COMMITTED
    * [[graft.operators.MediaIndex]] at `indexPath` — the production
    * form: the fingerprint frame loads from the versioned artifact
    * (snapshot pinned at stream start; restart to pick up newer
    * versions), so a takedown ([[graft.operators.MediaIndex.retract]])
    * is reflected at the next stream start without touching the probe
    * plan. Same stateless stream-static contract.
    */
  def streamingImagePhashServe(media: DataFrame, indexPath: String,
                               threshold: Int =
                                 graft.operators.ImageDedup.HammingThreshold,
                               pinGroupVersion: Option[Long] = None): DataFrame =
    streamingImagePhashMatches(media,
      mediaFpsFrame(media.sparkSession, indexPath, "img", pinGroupVersion),
      threshold)

  /** [[streamingVideoPhashMatches]] probing the committed MediaIndex —
    * see [[streamingImagePhashServe]]. */
  def streamingVideoPhashServe(media: DataFrame, indexPath: String,
                               threshold: Int =
                                 graft.operators.VideoDedup.HammingThreshold,
                               pinGroupVersion: Option[Long] = None): DataFrame =
    streamingVideoPhashMatches(media,
      mediaFpsFrame(media.sparkSession, indexPath, "vid", pinGroupVersion),
      threshold)

  /** Streaming HTML extraction (C60's continuous twin): the link-
    * density extractor is regexp/split/explode expressions plus one
    * doc_id-keyed agg whose groups are complete within a micro-batch
    * (a doc's blocks all come from its one row), so the batch operator
    * body runs UNCHANGED on a streaming (doc_id, html) frame — append
    * mode, no watermark, no state. This is the first hop of a live
    * crawl ingest: markup in, clean text out, feeding the quality/LM
    * gates downstream.
    */
  def streamingHtmlExtract(pages: DataFrame): DataFrame =
    graft.operators.Html.htmlExtract(pages, col("html"))

  /** Streaming Unicode normalization (C62's continuous twin): the
    * strip/NBSP/NFC pass is one codegen'd per-row projection — zero
    * state, zero shuffle — so the batch operator body runs UNCHANGED on
    * a streaming (doc_id, text) frame in append mode with no watermark.
    * In a live crawl it sits between HTML extraction and the
    * fingerprint/dedup hops, so the same logical text always hashes
    * identically no matter which crawler encoding produced it.
    */
  def streamingTextNormalize(docs: DataFrame): DataFrame =
    graft.operators.Curation.textNormalize(docs, col("text"))

  /** Streaming per-host document cap (C63's continuous twin — the crawl
    * FRONTIER admission rule): accept an arriving (doc_id, host) only
    * while its host has accepted fewer than `cap` docs so far, emitting
    * the admitted doc with its per-host rank. State per host is ONE
    * long (the running accepted count, capped — it stops changing once
    * full), so the state store is bounded by the host universe, never
    * by crawl volume, and hot mega-hosts cost exactly the same 8 bytes
    * as cold ones.
    *
    * Semantics are first-ARRIVED-wins — the true frontier rule on a
    * live crawl. The batch operator's smallest-doc_id rule is the same
    * decision under doc_id-ordered arrival (ties within a micro-batch
    * are broken by doc_id for determinism), which is exactly what the
    * equivalence test feeds; under out-of-order arrival the two
    * legitimately differ, like any as-of vs processing-time pair.
    */
  def streamingHostCap(
      docs: Dataset[(Long, String)],
      cap: Int = graft.operators.Curation.HostCap)(
      implicit spark: SparkSession): Dataset[HostCapOut] = {
    import spark.implicits._
    docs
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (host: String, batch: Iterator[(Long, String)], state: GroupState[Long]) => {
          var taken = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[HostCapOut]
          // doc_id order within the batch: deterministic regardless of
          // partition-internal row order
          batch.map(_._1).toSeq.sorted.foreach { id =>
            if (taken < cap) {
              taken += 1
              out += HostCapOut(id, host, taken)
            }
          }
          state.update(taken)
          out.result().iterator
        })
  }

  /** Streaming quality gate (C53's continuous twin): the hashed linear
    * classifier is a pure zero-shuffle per-row projection, so the batch
    * operator body runs UNCHANGED on a streaming (doc_id, text) frame —
    * append mode, no watermark, no state. This is the filter a live
    * ingest pipeline runs before anything stateful sees the document.
    */
  def streamingQualityGate(docs: DataFrame): DataFrame =
    graft.operators.Classify.qualityClassifier(docs)

  /** Streaming temperature gate (C74's continuous twin): arriving
    * (doc_id, source, text) rows draw their keep verdict against the
    * COMMITTED per-source rate table ([[graft.operators.TextOps
    * .loadTemperature]]) — a stream-static broadcast join plus the
    * exact integer draw, stateless, append mode, no watermark. The
    * verdict is a pure function of (doc_id, source, rate row), so a
    * doc admitted by the live gate is exactly the doc the batch mix
    * would keep at the committed snapshot (StreamingSpec pins
    * batch == stream verdict-for-verdict).
    */
  def streamingTemperatureGate(docs: DataFrame, rates: DataFrame): DataFrame =
    graft.operators.TextOps.temperatureDecisions(docs, rates)

  /** Streaming decontamination gate (C80's continuous twin): each
    * micro-batch gets its keep verdicts against the COMMITTED
    * eval-protection registry ([[graft.operators.EvalRegistry.load]]) —
    * a broadcast semi-join over eval-suite-sized fingerprints plus one
    * doc-keyed agg, so the per-doc verdict needs the
    * [[streamingLmGate]] foreachBatch shape (a streaming agg can't
    * emit per-row in append mode), and inherits its at-least-once
    * contract: every verdict row carries `batch_id`, a replayed batch
    * rewrites the same (batch_id, doc_id) pairs. No eval TEXT is ever
    * present at the gate; a benchmark registered mid-stream is picked
    * up by the next gate restart (the committed-snapshot contract all
    * artifact gates share).
    */
  def streamingDecontaminateGate(docs: DataFrame, registry: DataFrame,
                                 outPath: String, checkpoint: String): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, batchId) =>
      graft.operators.EvalRegistry.decontaminate(batch, registry)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming DSIR gate (C65's continuous twin): arriving (doc_id,
    * text) rows are importance-weighted against a COMMITTED ratio table
    * (the batch [[graft.operators.Dsir.lrTable]] output — train once on
    * the trusted target + raw pool, gate the live crawl continuously).
    * The scorer is the batch body verbatim: the 64 ratios are plan
    * literals and the weight folds inside one codegen'd `aggregate`
    * lambda, so the gate is a stateless zero-shuffle projection —
    * append mode, no watermark, no state. The keep rule compares
    * against a FIXED threshold chosen offline (a stream cannot know the
    * corpus mean; production picks the batch run's mean or a quantile).
    */
  def streamingDsirGate(docs: DataFrame, lr: Array[Long], keepMin: Long): DataFrame =
    graft.operators.Dsir.scoreAgainst(docs, lr)
      .withColumn("keep", col("dsir_fp") >= lit(keepMin))

  /** Streaming drift monitor (C67's continuous twin, the
    * streamingCmsGrid pattern): the live corpus's hashed-bucket feature
    * counts accumulate as a COMPLETE-mode aggregate (≤64 rows of state,
    * the constant-size-sketch property), and each micro-batch emits the
    * full drift table of the stream-so-far against a committed
    * REFERENCE snapshot's counts — the alarm wire a continuously-
    * ingesting pipeline watches to know when the C65 selection model
    * has gone stale. Exactly the batch kernel ([[graft.operators.Dsir
    * .driftRows]], BigInt-exact) fed by the streaming counts, so the
    * final micro-batch's table equals the batch monitor's
    * verdict-for-verdict once the same docs have arrived.
    */
  def streamingDriftMonitor(docs: DataFrame, refCounts: Map[Long, Long],
                            outPath: String, checkpoint: String): StreamingQuery = {
    import graft.operators.Dsir
    val counts = docs
      .select(explode(Dsir.featsCol).as("feat"))
      .select(Dsir.bucketCol(col("feat")).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
    counts.writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cur = batch.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val s = spark
        import s.implicits._
        Dsir.driftRows(refCounts, cur).toIndexedSeq
          .toDF("bkt", "c_a", "c_b", "share_a_fp", "share_b_fp", "drift_fp")
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("append").parquet(outPath)
      }
      .start()
  }

  /** Start `df` as an Append-mode stream checkpointed at `checkpoint`
    * that hands every non-empty micro-batch, with its id, to `body` —
    * the foreachBatch starter the admission loops and the append sinks
    * share.
    */
  private def startBatches(df: DataFrame, checkpoint: String)
                          (body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) body(batch.toDF(), batchId)
      }
      .start()

  /** One admission loop's own steps, each run by [[admitBatch]] at its
    * fixed place: `admitted` (the rows drawn novel against the served
    * group; the skeleton persists and counts it), `guard` (refusals
    * after the count, before any effect), `corpus` (the rows appended
    * for the admitted ones), `extend` (the index extend, with the
    * loop's version rule), `funnel` (the stage counts filed for `n`
    * admitted rows) and `pins` (dependency table versions the pipeline
    * snapshot records beside the index).
    */
  private final case class Admission(
      admitted: DataFrame,
      extend: DataFrame => Unit,
      funnel: Long => Seq[(String, Long)],
      guard: DataFrame => Unit = _ => (),
      corpus: DataFrame => DataFrame = identity,
      pins: Map[String, Long] = Map.empty)

  /** One micro-batch of an admission loop — the lifecycle the curation,
    * media, embedding and semantic loops share: capture the served
    * group → `verdict` → persist and count the admissions → guard →
    * corpus append → index extend → funnel filing → pipeline snapshot,
    * then the `maintain` step every `compactEvery` batches. `verdict`
    * receives the served group version and a `hold` that persists a
    * frame until the batch's effects are done.
    *
    * The served group: the index is re-read EVERY batch on purpose —
    * earlier batches' admissions must reject this batch's re-crawls,
    * and a mid-stream retract re-opens its slot at the next batch. Its
    * group version is captured here and the verdict pinned to it, so
    * the pipeline snapshot's served pin names exactly the pre-extend
    * state the verdicts read (r13).
    *
    * Restart safety hinges on the ORDER of the two effects: the corpus
    * append lands BEFORE the index extend. A crash between them means a
    * replayed batch re-serves against an index that does NOT yet hold
    * its admissions, classifies them novel again, and appends the same
    * (batch_id, id) rows a second time — a duplicate the stated
    * at-least-once provenance contract (the [[streamingLmGate]] rule)
    * already absorbs, and the re-extend is an idempotent latest-wins
    * merge. The reverse order would be unsound: extend-then-crash
    * leaves the admissions in the index, so the replay rejects them —
    * rows permanently indexed but never written to the corpus.
    * StreamingSpec pins the replay path of every loop, and its
    * kill-point sweeps kill the batch at every [[graft.FailPoint]]
    * boundary. Single-admitter regime, like the batch ingest it
    * mirrors.
    *
    * Id collisions: an admitted row is novel CONTENT, so a committed
    * index row under its id means the crawl re-used an id for
    * different bytes. The extend would latest-wins OVERWRITE the
    * committed row, silently un-indexing the old content (a takedown-
    * audit gap: its next re-crawl would probe as novel). Ids are the
    * global identity contract, so the id-keyed loops' `guard` fails the
    * batch loudly instead ([[refuseIdReuse]]).
    *
    * Versions: extends commit at `batchId + 1`, monotone per real
    * ingest, and a replayed extend re-merges identical rows at the same
    * version. The vector loops space them out — extends at the even
    * 2·(batchId+1), the in-loop rebalance at the odd 2·(batchId+1)+1 —
    * so the two writers are monotone and disjoint, and a REPLAYED
    * extend (even, lower) loses latest-wins to a rebalance that already
    * re-encoded its rows, which is right: the rebalanced codes are the
    * ones consistent with the current codebooks.
    *
    * Funnel evidence is filed AFTER the effects (the compliance surface
    * [[graft.operators.AdmissionLog]] documents), even for an all-
    * rejected batch — "nothing admitted" is evidence too. The pipeline
    * snapshot is the batch's LAST effect: it pins the index's GROUP
    * version (and `pins`) as one atomic "pipeline as of batch N"
    * reference, is published even for an all-rejected batch, and is
    * idempotent per batchId, so a crash after publish replays to the
    * identical tuple. The cadence runs after the batch's own effects: a
    * crash inside maintenance loses nothing (compaction is a pure file
    * rewrite behind a new manifest version, vacuum only drops
    * superseded versions; the replay re-runs both as cheap no-ops).
    */
  private def admitBatch(batch: DataFrame, batchId: Long, loop: String,
                         indexPath: String, outPath: String,
                         compactEvery: Int, funnelLogPath: Option[String],
                         pipelinePath: Option[String])
                        (verdict: (Long, DataFrame => DataFrame) => Admission)
                        (maintain: => Unit): Unit = {
    val spark = batch.sparkSession
    graft.GraftCache.releaseCreatedDuring(spark) {
      val servedGroup: Long = graft.sources.Sinks.VersionedTable
        .latestGroup(spark, indexPath).getOrElse(
          throw new IllegalStateException(
            s"$loop admission: no committed root snapshot at $indexPath"))._1
      var held = List.empty[DataFrame]
      val hold = (df: DataFrame) => { held = df.persist() :: held; held.head }
      try {
        val a = verdict(servedGroup, hold)
        val admitted = hold(a.admitted)
        val n = admitted.count()
        a.guard(admitted)
        if (n > 0) {
          graft.FailPoint.reach(outPath) // kill-point sweep boundary
          a.corpus(admitted).withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
          a.extend(admitted)
        }
        funnelLogPath.foreach { lp =>
          graft.FailPoint.reach(lp) // kill-point sweep boundary
          graft.operators.AdmissionLog.append(spark, lp, loop, batchId, a.funnel(n))
        }
        pipelinePath.foreach { pp =>
          graft.sources.Sinks.PipelineSnapshot.publish(spark, pp, batchId,
            grouped = Seq(indexPath), tables = a.pins.keys.toSeq.sorted,
            pin = a.pins, served = Map(indexPath -> servedGroup), loop = loop)
        }
      } finally held.foreach(_.unpersist())
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        maintain
    }
  }

  /** The id-collision guard (see [[admitBatch]]): fail the batch when an
    * admitted `id` already has a `committed` index row. */
  private def refuseIdReuse(admitted: DataFrame, id: String,
                            committed: DataFrame, who: String): Unit = {
    val collisions = admitted.select(id)
      .join(committed, Seq(id), "left_semi").count()
    require(collisions == 0L,
      s"$who: $collisions admitted $id(s) already exist in the index with " +
        "DIFFERENT content — id re-use would overwrite committed rows; fix " +
        "the crawl's id assignment (or retract the old ids first)")
  }

  /** The vector loops' batch counts, all from ONE aggregate over the
    * quantized batch (vec_id, qv): the rows `arrived`, the vec_id
    * groups (a null id is one group, as in a group-by) and the rows
    * the embedding loop's within-batch exact collapse keeps (one per
    * distinct qv among rows with an id; a null qv is one group). The
    * funnel files these instead of re-counting the batch after the
    * effects. */
  private[graft] final case class BatchCounts(arrived: Long, idGroups: Long, distinctQv: Long)

  private[graft] def batchCounts(q: DataFrame): BatchCounts = {
    def oneIfAny(c: org.apache.spark.sql.Column) = coalesce(max(when(c, 1L)), lit(0L))
    val id = col("vec_id")
    val r = q.agg(count(lit(1)),
      count_distinct(id) + oneIfAny(id.isNull),
      count_distinct(when(id.isNotNull, col("qv"))) +
        oneIfAny(id.isNotNull && col("qv").isNull)).head()
    BatchCounts(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The within-batch id discipline of the vector loops: a duplicated
    * vec_id (same or different content) would cross-multiply through
    * the verdict joins (assign x encode keyed on vec_id -> hybrid code
    * tuples) and append conflicting corpus rows under one id — refuse
    * loudly (r11 review). Fewer id groups than rows means a duplicate;
    * only then is the batch grouped again, to name how many ids repeat. */
  private def refuseDuplicateIds(rows: DataFrame, counts: BatchCounts, who: String): Unit =
    if (counts.idGroups != counts.arrived) {
      val dupIds = rows.groupBy("vec_id")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
      require(dupIds == 0L,
        s"$who: $dupIds vec_id(s) appear more than once in the batch — ids " +
          "must be unique per batch; collapse duplicates upstream")
    }

  /** The LIVE crawl-admission pipeline — [[graft.pipeline
    * .CurationPipeline]]'s continuous twin, serving the artifacts the
    * batch run committed: each arriving (doc_id, html) row is HTML-
    * extracted (C60), NFC-normalized (C62), quality-gated (C23) and
    * DSIR-gated (C65, committed ratio table + fixed threshold) — all
    * stateless scan stages — optionally DECONTAMINATED against the
    * committed eval registry (C80) — then classified against the
    * COMMITTED dedup index (C66): docs flagged `new` are ADMITTED —
    * appended to the output corpus AND merged into the index — so a
    * page arriving again in a LATER micro-batch is rejected as an exact
    * duplicate of its admitted self. That cross-batch memory lives
    * entirely in the transactional artifact (no Spark streaming state,
    * no watermark). [[admitBatch]] holds the restart-safety order.
    *
    * Maintenance cadence: every extend commits a new index version and
    * the superseded versions' dirs stay on disk for pinned readers —
    * thousands of micro-batches would grow the index directory without
    * bound (the upsert-heavy table's small-file/stale-version storm).
    * Every `compactEvery` batches the loop runs
    * [[graft.operators.DedupIndex.maintain]] (bucket compaction +
    * version vacuum, both optimistic snapshot-isolated commits), so
    * in-flight serves are never torn and classifications are
    * byte-identical across it (StreamingSpec drives 3 cadences and
    * pins both the bounded on-disk file count and the verdict equality
    * against an unmaintained control).
    *
    * `registryPath`: when set, the C80 eval-protection registry gates
    * admission too — a doc sharing any committed benchmark fingerprint
    * is REJECTED before it can reach the corpus or the index. The one
    * curation stage whose absence is invisible to every other gate
    * (a benchmark answer is high-quality, in-distribution, and novel —
    * quality, DSIR, and dedup all wave it through), so the production
    * admission path must carry it, not just the standalone gate.
    *
    * `dsirPath`: serve the DSIR gate from the COMMITTED ratio table
    * instead of the in-memory `lr` array (which is then ignored) — the
    * registryPath contract applied to the third gate artifact: the
    * table is re-read each batch, so a retrained ratio table committed
    * mid-stream protects the NEXT batch, and the pipeline snapshot pins
    * the exact version each batch's verdicts used.
    *
    * `nearRegistryPath` (r13): gate admission with the C100 containment
    * lens too — a PARAPHRASED benchmark passage (which the exact
    * registry provably misses) is rejected before it can reach the
    * corpus or the index. Requires `EvalRegistry.registerNear` on the
    * path first (usually the registryPath itself — the near
    * fingerprints are sub-tables beside the exact ones).
    */
  def streamingCurationAdmission(docs: DataFrame, indexPath: String,
                                 lr: Array[Long], dsirKeepMin: Long,
                                 outPath: String, checkpoint: String,
                                 compactEvery: Int = 16,
                                 registryPath: Option[String] = None,
                                 funnelLogPath: Option[String] = None,
                                 pipelinePath: Option[String] = None,
                                 dsirPath: Option[String] = None,
                                 nearRegistryPath: Option[String] = None): StreamingQuery = {
    // Fail fast at START, not in batch 0: with a registryPath set, every
    // micro-batch re-reads the registry, and an uncommitted table (stream
    // configured before the first register(), or a typo'd path) would
    // otherwise crash-loop the foreachBatch with an opaque read error.
    // Registering BEFORE starting the gated stream is the contract.
    registryPath.foreach { rp =>
      require(graft.operators.EvalRegistry.isRegistered(docs.sparkSession, rp),
        s"streamingCurationAdmission: registryPath=$rp has no committed eval " +
          "registry — call EvalRegistry.register(...) before starting the " +
          "stream (or omit registryPath to run without decontamination)")
    }
    dsirPath.foreach { dp =>
      require(graft.sources.Sinks.VersionedTable.latestManifest(
          docs.sparkSession, graft.operators.Dsir.tablePath(dp)).isDefined,
        s"streamingCurationAdmission: dsirPath=$dp has no committed ratio " +
          "table — call Dsir.commit(...) before starting the stream (or " +
          "omit dsirPath to gate with the in-memory lr array)")
    }
    nearRegistryPath.foreach { np =>
      require(graft.operators.EvalRegistry
          .isNearRegistered(docs.sparkSession, np),
        s"streamingCurationAdmission: nearRegistryPath=$np has no committed " +
          "near fingerprints — call EvalRegistry.registerNear(...) before " +
          "starting the stream (or omit nearRegistryPath)")
    }
    startBatches(docs, checkpoint) { (batch, batchId) =>
      curationAdmitBatch(batch, batchId, indexPath, lr,
        dsirKeepMin, outPath, compactEvery = compactEvery,
        registryPath = registryPath, funnelLogPath = funnelLogPath,
        pipelinePath = pipelinePath, dsirPath = dsirPath,
        nearRegistryPath = nearRegistryPath)
    }
  }

  /** The admission loop's gate chain — ONE definition shared by the
    * live batch body ([[curationAdmitBatch]]) and the pinned audit
    * replay ([[curationVerdictsAt]]), so the two can never drift:
    * HTML extract -> mojibake repair -> normalize -> quality rules ->
    * DSIR floor -> optional decontamination. Returns (normalized,
    * preDecon, gated) — callers count/serve/join as they need.
    *
    * `registryNear` (r13): the C100 containment lens as a fourth gate —
    * a lightly PARAPHRASED benchmark passage passes the exact lens
    * (no 8-gram survives) but is caught here; gated AFTER the exact
    * lens, BEFORE the dedup serve, for the same reason the exact lens
    * is: a contaminated doc must never reach the extend.
    */
  private def curationGateChain(batch: DataFrame, lrUsed: Array[Long],
                                dsirKeepMin: Long,
                                registry: Option[DataFrame],
                                registryNear: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.{Curation, Dsir, EvalRegistry, Html, TextOps}
    val extracted = Html.htmlExtract(batch, col("html"))
      .select(col("doc_id"),
        // C75 repair before normalize — the batch facade's ordering
        graft.functions.Exprs.fixMojibake(col("clean_text")).as("clean_text"))
    val normalized = Curation.textNormalize(extracted, col("clean_text"))
      .select(col("doc_id"), col("norm_text").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val preDecon = normalized
      .join(TextOps.qualityRules(normalized).filter(col("keep"))
        .select("doc_id"), "doc_id")
      .join(Dsir.scoreAgainst(normalized, lrUsed)
        .filter(col("dsir_fp") >= dsirKeepMin).select("doc_id"), "doc_id")
    // C80 decontamination BEFORE the dedup serve: a contaminated doc
    // must never reach the extend (once indexed, later copies of the
    // benchmark would be rejected as dups of an admitted doc — the
    // verdict would look right while the corpus stayed poisoned).
    val gatedExact = registry match {
      case None => preDecon
      case Some(reg) =>
        preDecon.join(
          EvalRegistry.decontaminate(preDecon, reg)
            .filter(col("keep")).select("doc_id"), "doc_id")
    }
    val gated = registryNear match {
      case None => gatedExact
      case Some(regN) =>
        gatedExact.join(
          EvalRegistry.decontaminateNear(gatedExact, regN)
            .filter(col("keep")).select("doc_id"), "doc_id")
    }
    (normalized, preDecon, gated)
  }

  /** AUDIT replay of the admission gate chain against "the pipeline as
    * of snapshot `pipelineVersion`" (r12 — the read the cross-artifact
    * snapshot exists for): every dependency resolves through the
    * snapshot's pins — the DSIR ratio table and eval registry at their
    * pinned manifest versions (captured at READ by the live batch), the
    * dedup index at the snapshot's SERVED group pin (the pre-extend
    * state the batch's verdicts actually read, r13) — so auditing batch
    * N with snapshot N re-derives batch N's verdict rows EXACTLY,
    * immune to every retrain/extend/retract since, including the
    * batch's own. Pre-r13 snapshots carry no served pin; the audit then
    * falls back to the post-effect group pin, under which the batch's
    * own admissions re-draw as already-indexed dups (the r12
    * semantics). Output one row per input doc:
    * (doc_id, gate_kept, kind, would_admit) — kind is 'gated_out' for
    * docs the pre-dedup gates dropped.
    */
  def curationVerdictsAt(htmlBatch: DataFrame, pipelineRoot: String,
                         pipelineVersion: Long, indexPath: String,
                         dsirKeepMin: Long,
                         registryPath: Option[String] = None,
                         dsirPath: Option[String] = None,
                         fallbackLr: Array[Long] = Array.empty,
                         nearRegistryPath: Option[String] = None): DataFrame = {
    import graft.operators.{DedupIndex, Dsir, EvalRegistry}
    val spark = htmlBatch.sparkSession
    val snap = graft.sources.Sinks.PipelineSnapshot
      .at(spark, pipelineRoot, pipelineVersion)
    val lrUsed = dsirPath
      .map(dp => Dsir.loadLrAt(spark, dp, snap.tablePin(Dsir.tablePath(dp))))
      .getOrElse(fallbackLr)
    val registry = registryPath.map(rp =>
      EvalRegistry.loadAt(spark, rp, snap.tablePin(EvalRegistry.tablePath(rp))))
    val registryNear = nearRegistryPath.map(np =>
      EvalRegistry.loadNearAt(spark, np,
        snap.tablePin(EvalRegistry.nearTablePath(np))))
    val (_, _, gated) =
      curationGateChain(htmlBatch, lrUsed, dsirKeepMin, registry, registryNear)
    val verdicts = DedupIndex.serveAt(gated.select("doc_id", "text"),
      indexPath,
      snap.servedGroupPin(indexPath).getOrElse(snap.groupPin(indexPath)))
    htmlBatch.select("doc_id")
      .join(gated.select(col("doc_id"), lit(true).as("gate_kept")), Seq("doc_id"), "left")
      .join(verdicts.select("doc_id", "kind"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("gate_kept"), lit(false)).as("gate_kept"),
        coalesce(col("kind"), lit("gated_out")).as("kind"),
        (coalesce(col("gate_kept"), lit(false)) && col("kind") === "new")
          .as("would_admit"))
  }

  /** One micro-batch of the curation admission loop — the foreachBatch
    * body, factored out so the replay path is testable without a live
    * stream: the gate chain, then [[admitBatch]] with the dedup index's
    * serve and extend.
    */
  private[graft] def curationAdmitBatch(batch: DataFrame, batchId: Long,
                                        indexPath: String, lr: Array[Long],
                                        dsirKeepMin: Long, outPath: String,
                                        compactEvery: Int = 0,
                                        registryPath: Option[String] = None,
                                        funnelLogPath: Option[String] = None,
                                        pipelinePath: Option[String] = None,
                                        dsirPath: Option[String] = None,
                                        nearRegistryPath: Option[String] = None): Unit = {
    import graft.operators.{AdmissionLog, DedupIndex, Dsir, EvalRegistry}
    val spark = batch.sparkSession
    admitBatch(batch, batchId, CurationLoop, indexPath, outPath, compactEvery,
        funnelLogPath, pipelinePath) { (servedGroup, _) =>
      // dependency versions captured AT READ and the reads pinned to
      // them, so the pipeline snapshot records exactly the tables these
      // verdicts used even under a concurrent retrain/re-register; the
      // committed tables are re-read EVERY batch on purpose — a
      // mid-stream retrain protects the NEXT batch
      def pinned(root: Option[String], table: String => String,
                 what: String): Option[(String, Long)] = root.map { r =>
        table(r) -> graft.sources.Sinks.VersionedTable
          .latestManifest(spark, table(r)).getOrElse(
            throw new IllegalStateException(
              s"curationAdmitBatch: no committed $what at $r"))._1
      }
      val dsirPin = pinned(dsirPath, Dsir.tablePath, "DSIR ratio table")
      val lrUsed = dsirPath.zip(dsirPin)
        .map { case (dp, (_, v)) => Dsir.loadLrAt(spark, dp, v) }
        .getOrElse(lr)
      val regPin = pinned(registryPath, EvalRegistry.tablePath, "eval registry")
      val registry = registryPath.zip(regPin)
        .map { case (rp, (_, v)) => EvalRegistry.loadAt(spark, rp, v) }
      val nearPin = pinned(nearRegistryPath, EvalRegistry.nearTablePath,
        "near registry")
      val registryNear = nearRegistryPath.zip(nearPin)
        .map { case (np, (_, v)) => EvalRegistry.loadNearAt(spark, np, v) }
      val (_, preDecon, gated) =
        curationGateChain(batch, lrUsed, dsirKeepMin, registry, registryNear)
      // funnel gate counts are taken BEFORE the batch's effects so the
      // filed evidence describes exactly the frames the verdicts used
      // (counting after the effects leaves a window where concurrent
      // artifact commits could make the funnel internally inconsistent;
      // r11 review). Counts re-run the gate chain's scans, so the knob
      // is opt-in; at micro-batch sizes the cost is the batch, not the
      // corpus.
      val funnelGates = funnelLogPath.map { _ =>
        val nPre = preDecon.count()
        // without any registry, gated eq preDecon - don't re-scan for it
        val nGated =
          if (registryPath.isEmpty && nearRegistryPath.isEmpty) nPre
          else gated.count()
        (batch.count(), nPre, nGated)
      }
      val verdicts = DedupIndex.serveAt(gated.select("doc_id", "text"),
        indexPath, servedGroup)
      Admission(
        admitted = gated.join(
          verdicts.filter(col("kind") === "new").select("doc_id"), "doc_id"),
        extend = a => DedupIndex.extend(a.select("doc_id", "text"), indexPath,
          buildV = batchId + 1),
        funnel = { n =>
          val (nArrived, nPre, nGated) = funnelGates.get
          Seq("1_arrived" -> nArrived, "2_quality_dsir_kept" -> nPre,
            "3_decontaminated_kept" -> nGated, "4_admitted" -> n)
        },
        pins = (dsirPin ++ regPin ++ nearPin).toMap)
    } {
      // serve-cap drop telemetry on the maintenance cadence (r12): the
      // band table scan is corpus-sized, so it never rides the per-batch
      // funnel (whose documented cost is the batch). Deterministic per
      // committed state, so replays refile identical rows — the MAX
      // resolution rule holds.
      funnelLogPath.foreach { lp =>
        val (hot, dropped) = DedupIndex.bandCapStats(spark, indexPath)
        AdmissionLog.append(spark, lp, "curation_bands", batchId, Seq(
          "1_hot_buckets" -> hot,
          "2_capped_rows" -> dropped))
      }
      DedupIndex.maintain(spark, indexPath)
    }
  }

  /** The MEDIA admission loop — [[streamingCurationAdmission]]'s
    * per-modality twin over the committed [[graft.operators.MediaIndex]]
    * (C12e): until round 11 the streaming media probes were serve-ONLY
    * (`streamingImagePhashServe` et al. classified arrivals against a
    * static index snapshot), so a novel image admitted in one batch was
    * NOT probed against by the next — re-crawls of this hour's uploads
    * slipped through until someone manually re-built the index. This
    * loop closes it with the C66 pattern: serve → admit novel
    * fingerprints → extend the modality's sub-table → maintain every N
    * batches. Cross-batch memory lives entirely in the transactional
    * artifact; no Spark streaming state, no watermark. The corpus rows
    * are the admitted payloads, keyed (batch_id, media_id).
    *
    * `modality` ∈ img/vid/aud; the seed sub-table must be committed
    * before start (build with the seed crawl, or an empty frame to
    * bootstrap) — validated here so a typo'd path fails at start, not
    * as a batch-0 crash-loop.
    */
  def streamingMediaAdmission(media: DataFrame, indexPath: String,
                              outPath: String, checkpoint: String,
                              modality: String,
                              compactEvery: Int = 16,
                              funnelLogPath: Option[String] = None,
                              pipelinePath: Option[String] = None): StreamingQuery = {
    val m = graft.operators.MediaIndex.mode(modality) // validates the name
    require(graft.operators.MediaIndex.isBuilt(media.sparkSession, indexPath, m.name),
      s"streamingMediaAdmission: no committed '${m.name}' sub-table at $indexPath — " +
        "commit the seed index first (MediaIndex.buildImages/buildVideos/buildAudio " +
        "with the seed crawl, or an empty frame to bootstrap)")
    startBatches(media, checkpoint) { (batch, batchId) =>
      mediaAdmitBatch(batch, batchId, indexPath, outPath, m.name,
        compactEvery = compactEvery, funnelLogPath = funnelLogPath,
        pipelinePath = pipelinePath)
    }
  }

  /** One micro-batch of the media admission loop — the foreachBatch
    * body, factored out so the replay path is testable without a live
    * stream. `batch` is (media_id: Long, payload: binary).
    *
    * Per-batch cost shape: the codec kernel (the dominant cost — real
    * image/video/audio decode) runs ONCE per batch; the resulting
    * fingerprint frame feeds the within-batch collapse, the serve
    * probe, AND the extend. The serve is the shared banded probe join
    * (occupancy-capped index side), so batch cost is O(batch) in the
    * index — flat as admissions accumulate (ScaleAudit pins it).
    * Undecodable payloads quarantine in the kernel's null filter and
    * are neither admitted nor appended.
    */
  private[graft] def mediaAdmitBatch(batch: DataFrame, batchId: Long,
                                     indexPath: String, outPath: String,
                                     modality: String,
                                     compactEvery: Int = 0,
                                     funnelLogPath: Option[String] = None,
                                     pipelinePath: Option[String] = None): Unit = {
    import graft.operators.{BandedPairs, MediaIndex}
    val m = MediaIndex.mode(modality)
    admitBatch(batch, batchId, mediaLoop(m.name), indexPath, outPath,
        compactEvery, funnelLogPath, pipelinePath) { (servedGroup, hold) =>
      val fps = hold(m.kernel(batch.select(col("media_id"), col("payload")), "media_id"))
      // Within-batch exact collapse FIRST: two copies of the same novel
      // image in one batch are both novel vs the index — without this,
      // both would be admitted. Identical fingerprints keep the
      // smallest media_id (the de-windowed groupBy + semi-join keeper
      // shape; within-batch NEAR-dups below the exact-match bar are
      // admitted together by design — the arrival stream's batch
      // boundaries must not change which near-dups a corpus keeps).
      val keepers = fps.groupBy(m.fpCol)
        .agg(min("media_id").as("media_id")).select("media_id")
      val kept = fps.join(keepers, Seq("media_id"), "left_semi")
      val index = MediaIndex.loadFpsAt(batch.sparkSession, indexPath,
        m.name, servedGroup)
      val matches = BandedPairs.probeJoin(kept, "media_id",
        index, "doc_id", m.fpCol, m.numBands, m.bandBits, m.threshold)
      Admission(
        admitted = kept.join(
          matches.select("media_id").distinct(), Seq("media_id"), "left_anti"),
        guard = refuseIdReuse(_, "media_id",
          index.select(col("doc_id").as("media_id")),
          s"mediaAdmitBatch($modality, batch $batchId)"),
        corpus = a => batch.join(a.select("media_id"), "media_id"),
        extend = a => MediaIndex.extendFps(
          a.withColumnRenamed("media_id", "doc_id"),
          indexPath, m.name, buildV = batchId + 1),
        // decoded counts off the PERSISTED fps frame, so the codec
        // kernel never re-runs for telemetry; arrived - decoded is the
        // undecodable-quarantine count a compliance job watches
        funnel = n => Seq(
          "1_arrived" -> batch.count(),
          "2_decoded" -> fps.count(),
          "3_batch_distinct" -> kept.count(),
          "4_admitted" -> n))
    } { MediaIndex.maintain(batch.sparkSession, indexPath) }
  }

  /** The EMBEDDING admission loop — the C66 pattern over the committed
    * [[graft.operators.AnnIndex]], closing the per-modality set (text →
    * DedupIndex, media → MediaIndex, embeddings → AnnIndex): arriving
    * (vec_id, embedding) rows draw a QUANTIZED verdict against the
    * committed codes — the index stores PQ codes, not raw vectors, so
    * the verdict is code-tuple collision (deterministic: an exact
    * re-crawl always encodes to the identical tuple) plus an ADC-cosine
    * near-dup extension at `tau` (measured on the ADC scale — pass
    * > 1 to run collision-only; see [[graft.operators.AnnIndex
    * .matchedIds]]) — novel
    * vectors append to the output corpus and their codes EXTEND the
    * index ([[graft.operators.AnnIndex.extend]]: encoded with the
    * COMMITTED codebooks, nothing retrains mid-stream), so a re-crawl
    * of this batch's admissions is rejected by the next batch.
    * Cross-batch memory lives entirely in the transactional artifact
    * (re-read every batch); no Spark streaming state, no watermark.
    * The maintain cadence runs [[graft.operators.Artifacts.maintainAll]]
    * — the unified GC sweeping codebooks + codes.
    *
    * `rebalanceLoadPct`: when set (> 0), the maintain cadence also runs
    * [[graft.operators.AnnIndex.rebalance]] at that occupancy bar —
    * the C86b diagnostic-to-action loop running INSIDE the admission
    * loop, at the odd versions [[admitBatch]] reserves for it. Requires
    * collision-only verdicts (tau > 1, enforced): a rebalance retrains
    * the codebooks and shifts the whole ADC scale, so an in-loop
    * rebuild under an ADC tau would silently mis-gate from that batch
    * on (re-measuring is an operator action — `commitAdmissionTau` —
    * not a cadence); the collision rule is rebalance-proof because
    * probe and index re-encode with the SAME new codebooks.
    *
    * `exactRescore`: upgrade the near-dup verdict from the ADC scale to
    * EXACT cosines against the stored vectors (requires the IndexRefine
    * split; `tau` must then be measured with `commitAdmissionTau(…,
    * exact = true)`). Because exact scores are codebook-independent,
    * this is the ONE near-dup mode that composes with the in-loop
    * rebalance: a rebuild shifts candidate recall (the honest ANN
    * trade), never the verdict scale.
    */
  def streamingEmbeddingAdmission(vecs: DataFrame, indexPath: String,
                                  outPath: String, checkpoint: String,
                                  tau: Double,
                                  compactEvery: Int = 16,
                                  funnelLogPath: Option[String] = None,
                                  rebalanceLoadPct: Long = 0L,
                                  exactRescore: Boolean = false,
                                  pipelinePath: Option[String] = None): StreamingQuery = {
    require(graft.sources.Sinks.VersionedTable
        .latestManifest(vecs.sparkSession, s"$indexPath/codes").isDefined,
      s"streamingEmbeddingAdmission: no committed AnnIndex at $indexPath — " +
        "build the seed index first (AnnIndex.build with the seed corpus)")
    require(rebalanceLoadPct <= 0L || tau > 1.0 || exactRescore,
      "streamingEmbeddingAdmission: in-loop rebalance requires rebuild-proof " +
        "verdicts — collision-only (tau > 1) or exactRescore (exact cosines " +
        "are codebook-independent); a rebuild shifts the ADC scale under a " +
        "fixed ADC tau, so re-measure with commitAdmissionTau instead")
    require((rebalanceLoadPct <= 0L && !(exactRescore && tau <= 1.0)) ||
        graft.operators.AnnIndex.hasVectors(vecs.sparkSession, indexPath),
      s"streamingEmbeddingAdmission: in-loop rebalance and exactRescore both " +
        s"need the vectors sub-table at $indexPath — build the seed with " +
        "storeVectors = true (codes are lossy)")
    startBatches(vecs, checkpoint) { (batch, batchId) =>
      embeddingAdmitBatch(batch, batchId, indexPath, outPath, tau,
        compactEvery = compactEvery, funnelLogPath = funnelLogPath,
        rebalanceLoadPct = rebalanceLoadPct, exactRescore = exactRescore,
        pipelinePath = pipelinePath)
    }
  }

  /** One micro-batch of the embedding admission loop — the foreachBatch
    * body, factored out for replay testing. `batch` is (vec_id: Long,
    * embedding: array<float>), the embeddings-table shape.
    */
  private[graft] def embeddingAdmitBatch(batch: DataFrame, batchId: Long,
                                         indexPath: String, outPath: String,
                                         tau: Double,
                                         compactEvery: Int = 0,
                                         funnelLogPath: Option[String] = None,
                                         rebalanceLoadPct: Long = 0L,
                                         exactRescore: Boolean = false,
                                         pipelinePath: Option[String] = None): Unit = {
    import graft.operators.AnnIndex
    val who = s"embeddingAdmitBatch(batch $batchId)"
    admitBatch(batch, batchId, EmbeddingLoop, indexPath, outPath,
        compactEvery, funnelLogPath, pipelinePath) { (servedGroup, _) =>
      val q = graft.operators.Embeddings.quantized(batch)
      val counts = batchCounts(q)
      refuseDuplicateIds(q, counts, who)
      // within-batch exact collapse (the media loop's rule): identical
      // quantized vectors keep the smallest vec_id; within-batch NEAR
      // dups below the exact bar are admitted together by design —
      // batch boundaries must not change which near-dups a corpus keeps
      val keepers = q.groupBy("qv").agg(min("vec_id").as("vec_id"))
        .select("vec_id")
      val kept = q.join(keepers, Seq("vec_id"), "left_semi")
      // quantized verdict vs the committed codes: code-tuple collision
      // (deterministic — an exact re-crawl always matches) plus the
      // ADC near-dup extension at the measured tau (see
      // AnnIndex.matchedIds for why collision is the primary rule)
      Admission(
        admitted = kept
          .join(AnnIndex.matchedIdsAt(kept, indexPath, tau, servedGroup,
              exactRescore),
            Seq("vec_id"), "left_anti")
          .select("vec_id")
          .join(batch, Seq("vec_id")),
        guard = refuseIdReuse(_, "vec_id",
          AnnIndex.codes(batch.sparkSession, indexPath).select("vec_id"), who),
        extend = AnnIndex.extend(_, indexPath, buildV = 2L * (batchId + 1)),
        funnel = n => Seq(
          "1_arrived" -> counts.arrived,
          "2_batch_distinct" -> counts.distinctQv,
          "3_admitted" -> n))
    } { maintainAnn(batch.sparkSession, indexPath, batchId, rebalanceLoadPct) }
  }

  /** The vector loops' maintain step: the unified GC, then the optional
    * in-loop rebalance at the odd version 2·(batchId+1)+1. */
  private def maintainAnn(spark: SparkSession, indexPath: String,
                          batchId: Long, rebalanceLoadPct: Long): Unit = {
    graft.operators.Artifacts.maintainAll(spark, indexPath)
    if (rebalanceLoadPct > 0L)
      graft.operators.AnnIndex.rebalance(spark, indexPath,
        buildV = 2L * (batchId + 1) + 1L, maxLoadPct = rebalanceLoadPct)
  }

  /** The SEMANTIC admission loop (C44c) — [[graft.operators.AnnIndex
    * .semDedupServe]] as the gate inside the serve→admit→extend→
    * maintain lifecycle, closing the loop symmetry for semantic dedup
    * the way [[streamingEmbeddingAdmission]] did for the quantized
    * verdict: arriving (vec_id, embedding) rows are SemDeDup-gated
    * against the committed index (committed co-clustered content at
    * exact cos ≥ tau always wins; keep-first within the batch — both
    * rules are the gate's own, so the loop adds no second verdict),
    * kept rows append to the output corpus and their vectors + codes
    * EXTEND the index, so a semantic dup of this batch's admissions is
    * dropped by the next batch. Requires the IndexRefine split (the
    * gate rescores exactly; extends keep the vectors complete).
    *
    * The in-loop rebalance composes here WITHOUT any tau restriction:
    * the gate's scores are exact cosines (codebook-independent), a
    * rebuild only re-draws cluster boundaries — the honest recall
    * shift, same as `exactRescore`'s contract.
    */
  def streamingSemDedupAdmission(vecs: DataFrame, indexPath: String,
                                 outPath: String, checkpoint: String,
                                 tau: Double,
                                 compactEvery: Int = 16,
                                 funnelLogPath: Option[String] = None,
                                 rebalanceLoadPct: Long = 0L,
                                 pipelinePath: Option[String] = None): StreamingQuery = {
    require(graft.sources.Sinks.VersionedTable
        .latestManifest(vecs.sparkSession, s"$indexPath/codes").isDefined,
      s"streamingSemDedupAdmission: no committed AnnIndex at $indexPath — " +
        "build the seed index first (AnnIndex.build with the seed corpus)")
    require(graft.operators.AnnIndex.hasVectors(vecs.sparkSession, indexPath),
      s"streamingSemDedupAdmission: no vectors sub-table at $indexPath — the " +
        "semantic gate rescores exactly; build the seed with storeVectors = true")
    startBatches(vecs, checkpoint) { (batch, batchId) =>
      semDedupAdmitBatch(batch, batchId, indexPath, outPath, tau,
        compactEvery = compactEvery, funnelLogPath = funnelLogPath,
        rebalanceLoadPct = rebalanceLoadPct, pipelinePath = pipelinePath)
    }
  }

  /** One micro-batch of the semantic admission loop — the foreachBatch
    * body, factored out for replay testing.
    */
  private[graft] def semDedupAdmitBatch(batch: DataFrame, batchId: Long,
                                        indexPath: String, outPath: String,
                                        tau: Double,
                                        compactEvery: Int = 0,
                                        funnelLogPath: Option[String] = None,
                                        rebalanceLoadPct: Long = 0L,
                                        pipelinePath: Option[String] = None): Unit = {
    import graft.operators.AnnIndex
    val who = s"semDedupAdmitBatch(batch $batchId)"
    admitBatch(batch, batchId, SemanticLoop, indexPath, outPath,
        compactEvery, funnelLogPath, pipelinePath) { (servedGroup, _) =>
      val counts = batchCounts(graft.operators.Embeddings.quantized(batch))
      refuseDuplicateIds(batch, counts, who)
      // ONE verdict: the gate's own committed-wins + keep-first rules —
      // an id re-crawl self-pairs at cos 1.0 and drops, so no separate
      // exact-collapse stage is needed here
      Admission(
        admitted = batch
          .join(AnnIndex.semDedupServeAt(batch, indexPath, tau, servedGroup)
            .filter(col("is_kept")).select("vec_id"), Seq("vec_id")),
        guard = refuseIdReuse(_, "vec_id",
          AnnIndex.codes(batch.sparkSession, indexPath).select("vec_id"), who),
        extend = AnnIndex.extend(_, indexPath, buildV = 2L * (batchId + 1)),
        funnel = n => Seq("1_arrived" -> counts.arrived, "2_admitted" -> n))
    } { maintainAnn(batch.sparkSession, indexPath, batchId, rebalanceLoadPct) }
  }

  /** Streaming BPE encode against the COMMITTED tokenizer
    * ([[graft.operators.TextOps.commitBpe]]): the k learned merges are
    * plan literals chained as greedy folds — a stateless zero-shuffle
    * projection, append mode, no watermark. The serving property that
    * matters: every stream batch encodes with the SAME committed merge
    * order, so token ids stay compatible across the whole deployment
    * (an encoder that retrains per job would not).
    */
  def streamingBpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.operators.TextOps.bpeEncodeWith(docs, merges)

  /** [[streamingBpeEncode]] served FROM the committed tokenizer bundle
    * (C43e) — the artifact-serving twin the other gates already have:
    * merges load ONCE at stream start from `bundlePath`, so every
    * micro-batch encodes with that snapshot (a concurrent
    * `extendTokenizer` never shifts token ids mid-stream — restart to
    * adopt a new build, the [[streamingDedupCommittedProbe]] contract).
    * Fails fast at start on an uncommitted or typo'd bundle (the
    * registryPath discipline) instead of crash-looping batch 0.
    */
  def streamingBpeEncodeBundle(docs: DataFrame, bundlePath: String): DataFrame = {
    val spark = docs.sparkSession
    require(graft.operators.TextOps.isTokenizerCommitted(spark, bundlePath),
      s"streamingBpeEncodeBundle: no committed tokenizer bundle at " +
        s"$bundlePath — run commitTokenizer (or commitBpe) before starting " +
        "the encode stream")
    streamingBpeEncode(docs,
      graft.operators.TextOps.loadBpeMerges(spark, bundlePath))
  }

  /** [[streamingBpeEncodeBundle]]'s BYTE twin (r13): encode with the
    * bundle's committed byte model (`merges_bytes`) — same load-once-
    * at-start snapshot semantics, same fail-fast on a bundle without
    * the byte table (a pre-r13 char-only bundle).
    */
  def streamingBpeEncodeBytesBundle(docs: DataFrame, bundlePath: String): DataFrame = {
    val spark = docs.sparkSession
    require(graft.sources.Sinks.VersionedTable
        .latestManifest(spark, s"$bundlePath/merges_bytes").isDefined,
      s"streamingBpeEncodeBytesBundle: no committed BYTE merges at " +
        s"$bundlePath — run commitTokenizer (byteMode = true) before " +
        "starting the encode stream")
    graft.operators.TextOps.bpeEncodeBytesWith(docs,
      graft.operators.TextOps.loadBpeMergesBytes(spark, bundlePath))
  }

  /** Streaming dedup against the COMMITTED corpus index
    * ([[graft.operators.DedupIndex]]) — the crawl-admission topology a
    * production pipeline actually runs: an ingest job builds/extends
    * the fingerprint+signature+band artifact transactionally; the
    * admission stream classifies each arriving (doc_id, text) row
    * against it (exact / near / new) WITHOUT ever reading corpus text.
    * The index frames are snapshotted at stream start (manifest read —
    * a concurrent extend never tears mid-stream; restart to see it).
    * A doc's verdict needs a per-doc min over its candidate matches, so
    * the classifier runs inside foreachBatch (per-batch-complete: a
    * doc's candidates all derive from its one row) — no streaming
    * state, no watermark.
    *
    * Delivery contract: AT-LEAST-ONCE with in-row replay provenance,
    * the [[streamingLmGate]] rule — each verdict row carries its
    * `batch_id`, so a replayed micro-batch rewrites the same
    * (batch_id, doc_id) pairs and consumers dedup exactly.
    *
    * `pinGroupVersion`: serve the stream's WHOLE lifetime from one
    * NAMED root snapshot ([[graft.sources.Sinks.ArtifactSnapshot
    * .readAt]]) — the reproducible-serving knob on top of the default
    * stream-start snapshot (which is merely the latest at start).
    */
  def streamingDedupCommittedProbe(docs: DataFrame, indexPath: String,
                                   outPath: String, checkpoint: String,
                                   pinGroupVersion: Option[Long] = None): StreamingQuery = {
    val (corpFps, corpSigs, corpBands) =
      graft.operators.DedupIndex.loadFrames(docs.sparkSession, indexPath,
        pinGroupVersion)
    startBatches(docs, checkpoint) { (batch, batchId) =>
      // scope the classifier's tracked persists to this micro-batch:
      // each batch has a distinct plan, so without the release the
      // cache registry would grow one entry per batch, forever
      graft.GraftCache.releaseCreatedDuring(batch.sparkSession) {
        graft.operators.DedupIndex
          .matchAgainst(batch, corpFps, corpSigs, corpBands)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }
    }
  }

  /** Streaming CONTAINMENT probe against the committed corpus shingle
    * lens (C72's continuous twin, the [[streamingDedupCommittedProbe]]
    * pattern): each arriving (doc_id, text) micro-batch is classified
    * contained/new by [[graft.operators.DedupIndex.matchContainment]]
    * from the rsh table SNAPSHOTTED at stream start (manifest read — a
    * concurrent extend never tears mid-stream; restart to see it), with
    * batch_id replay provenance. Runs in foreachBatch because the
    * estimator needs per-batch-complete aggregates (bottom-k sample,
    * per-pair hit counts, argmax) — no streaming state, no watermark,
    * corpus text never read.
    */
  def streamingContainProbe(docs: DataFrame, indexPath: String,
                            outPath: String, checkpoint: String): StreamingQuery = {
    val corpusSh = graft.operators.DedupIndex
      .loadContainFrame(docs.sparkSession, indexPath)
    startBatches(docs, checkpoint) { (batch, batchId) =>
      graft.GraftCache.releaseCreatedDuring(batch.sparkSession) {
        graft.operators.DedupIndex
          .matchContainment(batch, corpusSh)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }
    }
  }

  /** Streaming SEMANTIC-dedup gate from the COMMITTED index (C44b's
    * continuous twin, the [[streamingDedupCommittedProbe]] pattern):
    * each arriving (vec_id, embedding) micro-batch draws SemDeDup
    * verdicts from [[graft.operators.AnnIndex.semDedupServe]] —
    * committed coarse clusters, codes-table corpus assignments, exact
    * cosines against the stored vectors (IndexRefine split required,
    * checked at START so a codes-only index fails fast, not in batch 0).
    * Runs in foreachBatch because the verdict needs per-batch-complete
    * aggregates (max-prior, keep-first); the artifact's ROOT SNAPSHOT
    * is resolved per batch like the admission loops — a concurrent
    * extend lands atomically between batches. No streaming state, no
    * watermark; batch_id replay provenance.
    */
  def streamingSemDedupGate(vecs: DataFrame, indexPath: String,
                            outPath: String, checkpoint: String,
                            tau: Double): StreamingQuery = {
    require(graft.operators.AnnIndex.hasVectors(vecs.sparkSession, indexPath),
      s"streamingSemDedupGate: no vectors sub-table at $indexPath — the gate " +
        "rescores exactly; build the index with storeVectors = true")
    startBatches(vecs, checkpoint) { (batch, batchId) =>
      graft.GraftCache.releaseCreatedDuring(batch.sparkSession) {
        graft.operators.AnnIndex
          .semDedupServe(batch, indexPath, tau)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outPath)
      }
    }
  }

  /** Streaming LM fluency gate (C55's continuous twin): incoming
    * (doc_id, text) rows are scored per micro-batch against a COMMITTED
    * bigram model (the batch [[graft.operators.Classify.lmTrain]]
    * output) — train once on the curated corpus, gate the live crawl
    * continuously. Per-doc aggregation is per-batch-complete (a doc's
    * bigrams all come from its one row), so the scorer runs inside
    * foreachBatch against the static model frames — no streaming state,
    * no watermark; grams the model never saw drop out of the join (the
    * back-off rule), exactly like the batch scorer.
    *
    * Delivery contract: AT-LEAST-ONCE with in-row replay provenance.
    * foreachBatch can re-run a micro-batch after a failure/restart, and
    * a blind parquet append would then hold duplicate score rows that
    * downstream cannot tell apart. Each row therefore carries its
    * `batch_id`: a replayed batch rewrites the same (batch_id, doc_id)
    * pairs, so consumers dedup exactly with
    * `row_number() over (partition by doc_id, batch_id ...) = 1` — or
    * `max_by(score, batch_id)` per doc — instead of guessing. (The
    * versioned-sink variant below gets exactly-once from latest-wins
    * merge instead; a gate's score stream is append-shaped, so
    * provenance-plus-dedup-key is the idiomatic contract here.)
    */
  def streamingLmGate(docs: DataFrame, cb: DataFrame, cw: DataFrame,
                      outPath: String, checkpoint: String): StreamingQuery =
    startBatches(docs, checkpoint) { (batch, batchId) =>
      graft.operators.Classify.lmScoreAgainst(batch, cb, cw)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
    }

  /** Streaming rollup maintenance (B43's continuous twin) — the
    * EXACTLY-ONCE aggregate exit: each micro-batch partial-aggs its
    * rows and merges into the committed rollup state
    * ([[graft.operators.RollupIndex.applyDelta]]) with the batch id as
    * the delta id, so a replayed micro-batch hits the artifact's ledger
    * and no-ops — additive state plus an idempotence ledger turns
    * foreachBatch's at-least-once into exactly-once counting, with no
    * streaming state, no watermark, and the fact rows never stored.
    *
    * Fold cadence: every delta adds one partial-row set per touched
    * key, so a sink applying one delta per micro-batch grows the
    * merge-on-read row count LINEARLY IN BATCHES forever — after a
    * week at a 10 s trigger, every read would be merging ~60k partials
    * per key. Every `foldEvery` batches the sink runs
    * [[graft.operators.RollupIndex.foldPartials]] (the optimistic
    * logical rewrite that collapses partials to one row per key while
    * PRESERVING the ledger, so replays stay no-ops across the fold) —
    * exactly the [[streamingCurationAdmission]] `compactEvery`
    * discipline, state-size maintenance on the ingest cadence. The
    * fold runs AFTER the batch's own applyDelta: a crash inside it
    * loses nothing (the fold is a pure logical rewrite; the replayed
    * batch re-applies against whichever snapshot won and the ledger
    * no-ops it).
    */
  def streamingRollupSink(facts: DataFrame, indexPath: String,
                          checkpoint: String,
                          shape: graft.operators.RollupIndex.RollupShape =
                            graft.operators.RollupIndex.LineitemShape,
                          foldEvery: Int = 16): StreamingQuery =
    facts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.RollupIndex.applyDelta(
            batch.toDF(), indexPath, s"stream-batch-$batchId", shape)
        // the fold fires on its cadence even when THIS batch is empty —
        // a source systematically idle on the cadence-designated batch
        // id would otherwise never fold and partials would grow
        // unbounded again (it needs only an initialized table)
        if (foldEvery > 0 && batchId % foldEvery == foldEvery - 1 &&
            graft.sources.Sinks.VersionedTable.latestManifest(
              batch.sparkSession,
              graft.operators.RollupIndex.statePath(indexPath)).isDefined)
          graft.operators.RollupIndex.foldPartials(
            batch.sparkSession, indexPath, shape)
      }
      .start()

  /** [[streamingUpsertSink]] writing through the TRANSACTIONAL table
    * format ([[graft.sources.Sinks.VersionedTable]]) instead of the
    * swap-rename MERGE: each micro-batch commits one new manifest
    * version, so concurrent readers get snapshot isolation (never a
    * mid-swap window), other writers can merge the same table
    * concurrently (optimistic retry), and replayed batches re-commit
    * idempotently under latest-wins — the streaming exit path a
    * multi-writer 100 TB deployment actually needs.
    */
  def streamingUpsertVersionedSink(stream: DataFrame, path: String,
                                   keys: Seq[String], versionCol: String,
                                   checkpoint: String,
                                   numBuckets: Int = 64): StreamingQuery =
    startBatches(stream, checkpoint) { (batch, _) =>
      graft.sources.Sinks.VersionedTable.mergeUpsert(batch.sparkSession,
        path, latestPerKey(batch, keys, versionCol), keys, versionCol,
        numBuckets)
    }
}
