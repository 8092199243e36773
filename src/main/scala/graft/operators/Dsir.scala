package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCache
import graft.functions.Exprs
import graft.sources.Tables

/** DSIR-style data selection via hashed-ngram importance weights
  * (SURVEY.md §2 C65) — the published importance-resampling recipe for
  * picking pretraining data that LOOKS LIKE a trusted target corpus
  * (Xie et al., "Data Selection for Language Models via Importance
  * Resampling", NeurIPS 2023): estimate a target distribution p and a
  * raw-pool distribution q over HASHED n-gram buckets, weight every raw
  * document by its target/raw likelihood ratio, and keep/resample the
  * high-weight tail. Between the static heuristics (C9/C23) and the
  * trained classifier (C53), this is the third selection family a
  * production pipeline runs: distribution matching.
  *
  * Reference domain: the reference pipeline has no selection layer at
  * all (it stores every scraped caption verbatim); this lens exists for
  * the brief's LLM-pipeline surface, shaped like the rest of the
  * curation family.
  *
  * Deterministic re-expression (the C48/C55 fixed-point trade): the
  * paper's per-feature log-ratio sum Σ c·(log p̂ − log q̂) is replaced by
  * the fixed-point LIKELIHOOD-RATIO sum Σ ⌊Scale·p̂/q̂⌋ per feature —
  * transcendental logs are not bit-reproducible across engines, while
  * integer floor division is, and the ratio keeps the property a
  * selection gate actually consumes: target-like buckets score high,
  * raw-typical buckets score ≈Scale, never-in-target buckets score low.
  * Laplace (+1 per bucket) smoothing on both sides, exactly as in the
  * paper's hashed generative model.
  *
  * Exactness: the per-bucket ratio lr(b) = ⌊Scale·(ct+1)·(Nr+B) /
  * ((cr+1)·(Nt+B))⌋ is computed in UNBOUNDED integers (BigInt on the
  * driver from the collected 64-row count table; HUGEINT in the DuckDB
  * oracle), so the two engines agree bit-for-bit with no overflow at
  * any corpus size. The lr VALUE is bounded by Scale·(Nr+B)/(Nt+B)
  * (target ⊆ raw ⇒ cr ≥ ct): int64-safe for any raw/target ratio below
  * ~10¹², i.e. any real corpus. A doc's score sum is ≤ n_feats·lr_max.
  *
  * Scale shape (the 100 TB story):
  *  - TRAIN is one scan: explode features, hash to [[NumBuckets]]
  *    buckets, ONE map-side-combinable hash agg to ≤64 (bucket) rows
  *    carrying both the raw count and the conditional target count —
  *    the model is a constant-size artifact like the k-means codebooks,
  *    and the target pass rides the same scan as the raw pass (a
  *    `sum(when(...))` conditional, not a second read).
  *  - SCORE is ZERO-shuffle: the 64 ratios bake into an array literal
  *    and each doc folds Σ lr(bucket(feat)) inside one codegen'd
  *    `aggregate` lambda riding the parquet scan — the C53 shape; no
  *    join, no explode, no per-feature rows at all.
  *  - The keep gate compares against the corpus-mean weight via a
  *    1-row broadcast — the B20 above-average pattern.
  */
object Dsir {

  /** Hashed feature buckets. Deliberately small: bucket counts must be
    * a broadcastable model artifact at ANY corpus size, and the paper's
    * own ablations show coarse hashed models select well (collisions
    * are the hashing trick's accepted noise, same trade as C53).
    */
  val NumBuckets = 64

  /** Fixed-point scale for the likelihood ratio (10⁶ — the repo-wide
    * C55/C48 convention). A raw-typical bucket scores ≈ Scale.
    */
  val Scale = 1000000L

  /** The trusted target slice: src0's documents stand in for the
    * curated high-quality corpus (Wikipedia/books in the paper). Any
    * predicate works — the model only sees the resulting counts.
    */
  val TargetSource = "src0"

  /** feature → bucket, engine-portable SQL (md5/instr/substr only) —
    * the ORACLE's definition. 'ds_' salts the hash domain away from
    * C53's 'tk_' weights.
    */
  def bucketSql(feat: String): String =
    s"(${TextOps.hexPrefixValSql(s"md5(concat('ds_', $feat))")} % $NumBuckets)"

  /** The Spark side's bucket: the native [[Exprs.Md5BucketMod]]
    * expression — VALUE-identical to [[bucketSql]] (the first 8 md5 hex
    * nibbles are the first 4 digest bytes) but one eval instead of ~24
    * string ops per feature, which matters most inside the scorer's
    * interpreted `aggregate` lambda (swap measured ~3× on the train
    * pass at 100×).
    */
  def bucketCol(feat: Column): Column =
    Exprs.md5Bucket(feat, "ds_", NumBuckets)

  /** Unigrams ++ '_'-joined bigrams of `text` — C53's feature family. */
  private[graft] def featsCol: Column = {
    val toks = split(col("text"), " ")
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit("_"), b))
    concat(toks, bigrams)
  }

  /** One-scan bucket count table: (bkt, cr, ct) with cr the raw-pool
    * count and ct the target-slice count — ≤ [[NumBuckets]] rows.
    */
  def bucketCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(featsCol).as("feat"))
      .select(bucketCol(col("feat")).as("bkt"), col("source"))
      .groupBy("bkt")
      .agg(
        count(lit(1)).as("cr"),
        sum(when(col("source") === TargetSource, 1L).otherwise(0L)).as("ct"))

  /** Train the model: the 64 per-bucket fixed-point likelihood ratios,
    * exact via BigInt (never overflows regardless of corpus size).
    * Buckets no raw feature hashes into keep lr = 0 — they can never be
    * looked up. A constant-size driver artifact memoized through
    * [[GraftCache.memoArtifact]] exactly like the k-means codebooks —
    * C65/C65b/C67 share one training per corpus plan per session, and
    * `releaseAll` re-trains on session reset (the codebook rule).
    */
  def lrTable(documents: DataFrame): Array[Long] = {
    val spark = documents.sparkSession
    val memo = GraftCache.memoArtifact(spark,
      ("dsirLr", documents.queryExecution.analyzed.canonicalized)) {
      val s = spark
      import s.implicits._
      lrTableUncached(documents).toIndexedSeq.zipWithIndex
        .map { case (v, k) => (k, v) }.toDF("bkt", "lr")
    }
    // a 64-row LocalRelation: this collect is driver-local, no job
    val m = memo.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until NumBuckets).map(m).toArray
  }

  /** The pure per-bucket ratio kernel: ⌊Scale·(ct+1)·(Nr+B) /
    * ((cr+1)·(Nt+B))⌋ in unbounded integers. PropertySpec pins the
    * analytic int64-fit argument (target ⊆ raw ⇒ ct ≤ cr ⇒ lr ≤
    * Scale·(Nr+B)/(Nt+B)), non-negativity, and monotonicity in ct.
    */
  def lrOf(ct: Long, cr: Long, nt: BigInt, nr: BigInt): Long = {
    val b = BigInt(NumBuckets)
    val v = (BigInt(Scale) * (BigInt(ct) + 1) * (nr + b)) /
      ((BigInt(cr) + 1) * (nt + b))
    require(v.isValidLong, s"DSIR lr overflow: $v (ct=$ct cr=$cr nt=$nt nr=$nr)")
    v.toLong
  }

  private def lrTableUncached(documents: DataFrame): Array[Long] = {
    val counts = bucketCounts(documents).collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val nr = BigInt(counts.valuesIterator.map(_._1).sum)
    val nt = BigInt(counts.valuesIterator.map(_._2).sum)
    (0 until NumBuckets).map { k =>
      counts.get(k) match {
        case None => 0L
        case Some((cr, ct)) => lrOf(ct, cr, nt, nr)
      }
    }.toArray
  }

  /** Score a (doc_id, text) frame against a TRAINED ratio table: pure
    * zero-shuffle projection — the whole weight folds inside one
    * codegen'd `aggregate` lambda over the feature array, so the scorer
    * runs at scan throughput on batch AND streaming frames (the
    * streaming gate reuses this body verbatim).
    */
  def scoreAgainst(documents: DataFrame, lr: Array[Long]): DataFrame = {
    val lrLit = Exprs.litLongArray(lr.toIndexedSeq)
    documents
      .select(col("doc_id"), featsCol.as("feats"))
      .select(
        col("doc_id"),
        size(col("feats")).cast("long").as("n_feats"),
        aggregate(col("feats"), lit(0L),
          (acc, t) => acc + element_at(lrLit, (bucketCol(t) + 1).cast("int")))
          .as("dsir_fp"))
  }

  /** C65: (doc_id, n_feats, dsir_fp, keep) — hashed-ngram importance
    * weight per doc plus the above-corpus-mean keep gate (the paper
    * resamples ∝ weight; a deterministic oracle needs a fixed rule, and
    * above-mean is the B20 pattern with exact integer floor-mean).
    */
  def dsirWeights(documents: DataFrame): DataFrame = {
    val scored = GraftCache.persistTracked(scoreAgainst(documents, lrTable(documents)))
    val stats = scored.agg(sum("dsir_fp").as("w_sum"), count(lit(1)).as("n_docs"))
    scored
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"), col("n_feats"), col("dsir_fp"),
        (col("dsir_fp") >= expr("w_sum div n_docs")).as("keep"))
  }

  val dsirWeightsSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, source, unnest(toks) AS feat FROM t
       |  UNION ALL
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || '_' || toks[i + 1])) AS feat
       |  FROM t),
       |fb AS (SELECT doc_id, source, ${bucketSql("feat")} AS bkt FROM f),
       |bc AS (SELECT bkt, count(*) AS cr,
       |         sum(CASE WHEN source = '$TargetSource' THEN 1 ELSE 0 END) AS ct
       |       FROM fb GROUP BY 1),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bc),
       |lr AS (SELECT bkt,
       |         CAST((CAST($Scale AS HUGEINT) * (ct + 1) * (nr + $NumBuckets))
       |              // (CAST(cr + 1 AS HUGEINT) * (nt + $NumBuckets)) AS BIGINT) AS lr
       |       FROM bc, tot),
       |sc AS (SELECT fb.doc_id, count(*) AS n_feats,
       |         CAST(sum(lr.lr) AS BIGINT) AS dsir_fp
       |       FROM fb JOIN lr USING (bkt) GROUP BY 1),
       |st AS (SELECT sum(dsir_fp) AS w_sum, count(*) AS n_docs FROM sc)
       |SELECT doc_id, n_feats, dsir_fp, dsir_fp >= (w_sum // n_docs) AS keep
       |FROM sc, st""".stripMargin

  // ------------------------------------------------- C65b: the draw

  /** C65b: the paper's actual RESAMPLING step — draw each doc with
    * probability proportional to its importance weight (Bernoulli /
    * Poisson resampling, the parallelizable variant of the paper's
    * sampling-without-replacement): p(doc) = avg_fp / max(avg_fp),
    * decided by the deterministic per-doc hash draw u = md5-prefix mod
    * [[Scale]] — keep iff u·max_avg < avg_fp·[[Scale]]. Per-FEATURE
    * average weight (floor division) rather than the raw sum, so doc
    * length doesn't masquerade as target affinity and the int64 cross-
    * multiplication stays bounded (u < 10⁶, avg_fp ≤ lr_max ≈
    * 10⁶·raw/target — product ≤ ~10¹⁴ at any corpus size). Hash-keyed,
    * never random(): the same doc draws the same verdict on every
    * engine, partitioning, and rerun — C35's split-assignment property.
    * Shape: the scorer's zero-shuffle scan plus one 1-row max broadcast.
    */
  def dsirResample(documents: DataFrame): DataFrame = {
    val scored = graft.GraftCache.persistTracked(
      scoreAgainst(documents, lrTable(documents))
        .withColumn("avg_fp", expr("dsir_fp div n_feats")))
    val mx = scored.agg(max("avg_fp").as("max_avg"))
    scored
      .crossJoin(broadcast(mx))
      .select(
        col("doc_id"), col("avg_fp"),
        (expr(TextOps.hexPrefixValSql("md5(concat('rs_', CAST(doc_id AS STRING)))")) % Scale
          * col("max_avg") < col("avg_fp") * lit(Scale)).as("sampled"))
  }

  val dsirResampleSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, source, unnest(toks) AS feat FROM t
       |  UNION ALL
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || '_' || toks[i + 1])) AS feat
       |  FROM t),
       |fb AS (SELECT doc_id, source, ${bucketSql("feat")} AS bkt FROM f),
       |bc AS (SELECT bkt, count(*) AS cr,
       |         sum(CASE WHEN source = '$TargetSource' THEN 1 ELSE 0 END) AS ct
       |       FROM fb GROUP BY 1),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bc),
       |lr AS (SELECT bkt,
       |         CAST((CAST($Scale AS HUGEINT) * (ct + 1) * (nr + $NumBuckets))
       |              // (CAST(cr + 1 AS HUGEINT) * (nt + $NumBuckets)) AS BIGINT) AS lr
       |       FROM bc, tot),
       |sc AS (SELECT fb.doc_id,
       |         CAST(sum(lr.lr) AS BIGINT) // count(*) AS avg_fp
       |       FROM fb JOIN lr USING (bkt) GROUP BY 1),
       |mx AS (SELECT max(avg_fp) AS max_avg FROM sc)
       |SELECT doc_id, avg_fp,
       |  (${TextOps.hexPrefixValSql("md5('rs_' || CAST(doc_id AS VARCHAR))")} % $Scale)
       |    * max_avg < avg_fp * $Scale AS sampled
       |FROM sc, mx""".stripMargin

  // ----------------------------------------- committed model artifact

  private def lrPath(path: String) = s"$path/lr"

  /** The committed ratio table: one plain table, no root snapshot. */
  private val layout = Artifacts.Layout("Dsir", Seq(Artifacts.Sub("lr")))

  /** Commit the trained ratio table through the transactional format —
    * the same promotion the codebooks (C61) got: a serving/streaming
    * gate LOADS the model instead of retraining, and a retrain commits
    * atomically under the readers.
    */
  def commit(spark: SparkSession, lr: Array[Long], path: String, buildV: Long = 0L): Unit = {
    import spark.implicits._
    graft.sources.Sinks.VersionedTable.mergeUpsert(spark, lrPath(path),
      lr.toIndexedSeq.zipWithIndex.map { case (v, k) => (k.toLong, v, buildV) }
        .toDF("bkt", "lr", "build_v"),
      Seq("bkt"), "build_v", numBuckets = 1)
  }

  /** Load the committed ratio table (constant-size: [[NumBuckets]]
    * rows) back into the literal array the scorer folds over.
    */
  def loadLr(spark: SparkSession, path: String): Array[Long] =
    lrFrom(graft.sources.Sinks.VersionedTable.read(spark, lrPath(path)))

  /** The ratio table's underlying VersionedTable path — what a
    * cross-artifact pipeline snapshot pins ([[graft.sources.Sinks
    * .PipelineSnapshot]]; single plain table, so the pin is a manifest
    * version).
    */
  def tablePath(path: String): String = lrPath(path)

  /** [[loadLr]] at a PINNED manifest version — the pipeline-snapshot
    * read path: refuses on a vacuumed version (the named-read
    * strictness; keep the pin inside the retention window).
    */
  def loadLrAt(spark: SparkSession, path: String, version: Long): Array[Long] =
    lrFrom(layout.readAt(spark, path, "lr", version))

  private def lrFrom(df: DataFrame): Array[Long] = {
    val rows = df.select("bkt", "lr").collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    require(rows.keySet == (0 until NumBuckets).toSet,
      s"Dsir: committed lr table must hold buckets 0..${NumBuckets - 1}")
    (0 until NumBuckets).map(rows).toArray
  }

  // ------------------------------------------------ C67: drift monitor

  /** Fixed-point share scale for the drift monitor: shares are
    * ⌊10⁹·c/N⌋, so per-bucket drift resolves to parts-per-billion and
    * every product stays far inside int64 at ANY corpus size (shares
    * < 10⁹, 64 buckets ⇒ total < 6.4×10¹⁰).
    */
  val ShareScale = 1000000000L

  /** The pure drift kernel over two bucket-count maps — shared by the
    * batch monitor and the streaming mirror. BigInt share arithmetic
    * (the lrTable rule): 10⁹·c overflows int64 once a bucket passes
    * ~9×10⁹ features, which a 100 TB corpus does — the oracle mirrors
    * with HUGEINT, so both engines are exact at any scale.
    */
  def driftRows(a: Map[Long, Long], b: Map[Long, Long]): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val nA = BigInt(a.valuesIterator.sum); val nB = BigInt(b.valuesIterator.sum)
    (a.keySet ++ b.keySet).toSeq.sorted.map { bkt =>
      val cA = a.getOrElse(bkt, 0L); val cB = b.getOrElse(bkt, 0L)
      val sA = (BigInt(ShareScale) * cA / nA.max(1)).toLong
      val sB = (BigInt(ShareScale) * cB / nB.max(1)).toLong
      (bkt, cA, cB, sA, sB, math.abs(sA - sB))
    }
  }

  /** Bucketed feature counts of a (…, text) frame as a driver map —
    * ONE map-side-combinable hash agg to ≤ [[NumBuckets]] rows. The
    * same body shapes the streaming mirror's complete-mode aggregate.
    */
  def featBucketCounts(docs: DataFrame): Map[Long, Long] =
    docs.select(explode(featsCol).as("feat"))
      .select(bucketCol(col("feat")).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** C67: corpus drift between two snapshots — the monitoring check a
    * continuously-ingesting pipeline runs after every extend (C66's
    * admit loop, a new source landing, a scraper change): has the
    * token distribution moved? Per hashed feature bucket (the C65
    * model's own feature space, so drift is measured exactly where
    * selection decisions live): both snapshots' counts off ONE
    * conditional scan, shares in exact fixed point, drift =
    * |share_a − share_b| — the L1/total-variation distance per bucket,
    * parts-per-billion. ≤ [[NumBuckets]] output rows at any corpus
    * size; one map-side-combinable agg, zero joins. The registered
    * query's snapshots are the deterministic doc_id-parity halves
    * (standing in for corpus version N vs N+1); callers pass any two
    * frames.
    */
  def driftBetween(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    val both = a.select(col("text"), lit(true).as("in_a"))
      .unionByName(b.select(col("text"), lit(false).as("in_a")))
    // the only distributed work: ONE conditional hash agg to ≤64 rows
    val counts = both
      .select(col("in_a"), explode(featsCol).as("feat"))
      .select(bucketCol(col("feat")).as("bkt"), col("in_a"))
      .groupBy("bkt")
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("c_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rows = driftRows(
      counts.map(c => c._1 -> c._2).toMap.filter(_._2 > 0),
      counts.map(c => c._1 -> c._3).toMap.filter(_._2 > 0))
    val s = spark
    import s.implicits._
    rows.toIndexedSeq.toDF("bkt", "c_a", "c_b", "share_a_fp", "share_b_fp", "drift_fp")
  }

  // Null doc_ids are dropped EXPLICITLY on both engines: Spark's
  // pmod === 0/1 predicates are null-false (dropping such rows), but
  // the oracle's CASE WHEN doc_id % 2 = 0 would route a NULL id into
  // the ELSE branch (c_b) — a silent divergence on any corpus with
  // null ids unless both sides agree up front.
  def corpusDrift(documents: DataFrame): DataFrame =
    driftBetween(
      documents.filter(col("doc_id").isNotNull &&
        pmod(col("doc_id"), lit(2L)) === 0L),
      documents.filter(col("doc_id").isNotNull &&
        pmod(col("doc_id"), lit(2L)) === 1L))

  val corpusDriftSql: String =
    s"""WITH t AS (SELECT doc_id % 2 = 0 AS in_a, string_split(text, ' ') AS toks FROM documents WHERE doc_id IS NOT NULL),
       |f AS (
       |  SELECT in_a, unnest(toks) AS feat FROM t
       |  UNION ALL
       |  SELECT in_a, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || '_' || toks[i + 1])) AS feat
       |  FROM t),
       |bc AS (SELECT ${bucketSql("feat")} AS bkt,
       |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
       |       FROM f GROUP BY 1),
       |tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM bc)
       |SELECT bkt, c_a, c_b,
       |  CAST((CAST($ShareScale AS HUGEINT) * c_a) // greatest(n_a, 1) AS BIGINT) AS share_a_fp,
       |  CAST((CAST($ShareScale AS HUGEINT) * c_b) // greatest(n_b, 1) AS BIGINT) AS share_b_fp,
       |  CAST(abs((CAST($ShareScale AS HUGEINT) * c_a) // greatest(n_a, 1)
       |         - (CAST($ShareScale AS HUGEINT) * c_b) // greatest(n_b, 1)) AS BIGINT) AS drift_fp
       |FROM bc, tot""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir_weights" -> ((s, d) => dsirWeights(Tables.documents(s, d))),
    "q_dsir_resample" -> ((s, d) => dsirResample(Tables.documents(s, d))),
    "q_corpus_drift" -> ((s, d) => corpusDrift(Tables.documents(s, d))))

  def oracle: Map[String, String] = Map(
    "q_dsir_weights" -> dsirWeightsSql,
    "q_dsir_resample" -> dsirResampleSql,
    "q_corpus_drift" -> corpusDriftSql)
}
