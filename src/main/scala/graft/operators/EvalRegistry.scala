package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exprs
import graft.sources.Tables

/** C80: the committed eval-protection registry — C15's benchmark
  * decontamination promoted to an ARTIFACT, the way production
  * pretraining actually runs it: benchmark suites are registered ONCE
  * (their shingle fingerprints committed through `VersionedTable`),
  * and every ingest batch thereafter is decontaminated against the
  * committed registry WITHOUT the eval text being present — the
  * registry stores 16-hex-char shingle hashes, so eval answers never
  * ride along with the pipeline (the leak-safety property a shared
  * registry needs), and a new benchmark extends the registry by plain
  * key-merge (hash-keyed upsert IS set union; replays no-op).
  *
  * Scale shape: the registry is EVAL-SUITE-sized (thousands of docs ×
  * ~50 shingles), orders of magnitude under the corpus — it broadcasts
  * to the probe join, the corpus side streams once, and the per-doc
  * verdict is one keyed agg. C15 stays the in-session flag pass; this
  * is its build-once/serve-forever twin, exactly the C26→C66
  * promotion.
  */
object EvalRegistry {

  val W = 8
  private val toks = split(col("text"), " ")
  private def regPath(p: String) = s"$p/eval_shingles"

  /** The registry's lifecycle: the exact lens and the two near lenses
    * ([[registerNear]]), each a suite-bucketed table; no root snapshot
    * (pipeline snapshots pin each lens's manifest version). */
  private val layout = Artifacts.Layout("EvalRegistry",
    Seq("eval_shingles", "eval_shingles_w3", "eval_bands").map(Artifacts.Sub(_)))

  /** Distinct 64-bit (16 hex char) shingle-hash fingerprints of a
    * benchmark frame — the SAME hash C15 joins on, so the two lenses
    * can never classify apart.
    */
  def shingleHashes(benchDocs: DataFrame, w: Int = W): DataFrame =
    benchDocs
      .select(explode(Exprs.shingles(toks, w)).as("s"))
      .select(substring(md5(col("s")), 1, 16).as("h"))
      .distinct()

  /** Register a benchmark SUITE: commit its fingerprints under the
    * suite name. Extending with a NEW benchmark is the same call — the
    * (suite, hash)-keyed upsert is set union, and re-registering the
    * same suite is a no-op. The suite column exists for the LIFECYCLE:
    * benchmarks get retired and rotated, and a registry of bare hashes
    * could never unregister one safely (a dropped hash might also
    * belong to a still-protected suite). Rows are keyed (suite, h) and
    * BUCKETED by suite, so [[unregister]] is a bucket-pruned rewrite
    * and a hash shared by two suites keeps protecting until its LAST
    * registrant leaves.
    */
  // Size assumption: bucketing by suite alone puts a whole suite's
  // fingerprints in ONE bucket dir, so register() rewrites that suite's
  // rows in one hot bucket — fine for eval registries (benchmarks are
  // thousands of docs, not corpora; the registry is catalog-sized by
  // nature). If registries ever grow corpus-shaped, move to a
  // (suite, h-range) bucket scheme with unregister enumerating the
  // suite's bucket range — the replaceBuckets contract already allows it.
  def register(benchDocs: DataFrame, path: String, buildV: Long = 0L,
               suite: String = "default"): Unit =
    graft.sources.Sinks.VersionedTable.mergeUpsert(
      benchDocs.sparkSession, regPath(path),
      shingleHashes(benchDocs)
        .withColumn("suite", lit(suite))
        .withColumn("build_v", lit(buildV)),
      Seq("suite", "h"), "build_v", numBuckets = 16,
      bucketKeys = Seq("suite"))

  /** Retire a benchmark suite — the registry's takedown: drop the
    * suite's rows from every registered lens (bucket-pruned: suites
    * bucket whole, so each lens rewrites one bucket), leaving every
    * OTHER suite's rows — including hashes the retired suite shared —
    * still protecting. One receipt per lens present (idsRequested = 1
    * named suite; idsFound = its rows there, 0 on an idempotent
    * re-run); refuses a path with no registry at all.
    */
  def unregister(spark: SparkSession, path: String,
                 suite: String): Seq[TakedownReceipt] =
    layout.unregister(spark, path, suite)

  def load(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.VersionedTable.read(spark, regPath(path))
      .select("h").distinct()

  /** The registry's underlying VersionedTable path — what a
    * cross-artifact pipeline snapshot pins ([[graft.sources.Sinks
    * .PipelineSnapshot]]: the registry is a single plain table, so its
    * pin is a manifest version, not a group).
    */
  def tablePath(path: String): String = regPath(path)

  /** [[load]] at a PINNED manifest version — the pipeline-snapshot read
    * path: refuses on a vacuumed version (never silently falls forward;
    * keep the pin inside the maintenance sweep's retention budget).
    */
  def loadAt(spark: SparkSession, path: String, version: Long): DataFrame =
    layout.readAt(spark, path, "eval_shingles", version).select("h").distinct()

  /** True iff the registry at `path` has at least one committed version —
    * the cheap existence probe stream starters use to fail fast on a
    * typo'd / not-yet-registered path instead of crash-looping the first
    * micro-batch ([[load]] throws on an uncommitted table).
    */
  def isRegistered(spark: SparkSession, path: String): Boolean =
    graft.sources.Sinks.VersionedTable
      .latestManifest(spark, regPath(path)).isDefined

  /** Per-doc decontamination verdict against a registry frame
    * (committed or in-session): n_shared distinct fingerprint hits and
    * the keep flag — EVERY probe doc gets a row (the keep verdict is
    * the product; C15 reports only the contaminated). Stateless, so
    * the streaming twin runs it unchanged per micro-batch.
    */
  def decontaminate(docs: DataFrame, registry: DataFrame): DataFrame = {
    // per-doc DISTINCT hash set map-side (doc_id keys the corpus, so
    // array_distinct within the row IS the distinct (doc, h) set — r14,
    // guide §2.4): n_shared was countDistinct(h) per doc, which planned
    // a dedup exchange; over the per-row-distinct frame a plain count
    // of registry hits is the same number with no dedup machinery.
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(
        transform(Exprs.shingles(toks, W),
          s => substring(md5(s), 1, 16)))).as("h"))
    val hits = sh.join(broadcast(registry), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) === 0L).as("keep"))
  }

  // ---------------- C100: FUZZY decontamination (r13) ----------------
  //
  // C80's exact 8-token shingles miss a lightly paraphrased benchmark
  // passage — drop every 7th token and NO 8-gram survives intact, so
  // the doc sails through with n_shared = 0 while still being ~4/7 the
  // benchmark verbatim. Two near lenses close it, both serving from
  // committed FINGERPRINTS (never eval text):
  //  - containment (the PaLM/GPT-3 n-gram-overlap rule, the primary
  //    verdict): w=3 shingle hashes of the suite are registered; a
  //    probe doc is contaminated when >= NearKeepPct % of ITS distinct
  //    3-gram hashes are registered. Deterministic arithmetic — the
  //    token-dropped paraphrase keeps >= ~55% of its 3-grams and is
  //    always caught; novel docs share only background trigrams.
  //  - MinHash-LSH bands (the C2/C66 machinery composed against the
  //    registry): the suite's band keys are registered; any band-key
  //    collision flags the probe. O(NumBands) keys per probe doc vs
  //    O(shingles) for containment — the cheaper screen, with LSH's
  //    probabilistic recall (P(hit) = 1-(1-J^2)^NumBands).
  // Scale: both registries stay eval-suite-sized and BROADCAST; the
  // corpus side streams once; the verdict is one keyed agg per doc —
  // exactly C80's shape.

  val WNear = 3
  /** Contaminated when n_hit * 100 >= NearKeepPct * n_grams. 40% sits
    * between the paraphrase floor (~55% of 3-grams survive an every-
    * 7th-token drop) and natural-language background trigram overlap.
    */
  val NearKeepPct = 40
  private def nearPath(p: String) = s"$p/eval_shingles_w3"
  private def bandsPath(p: String) = s"$p/eval_bands"

  /** Register a suite's NEAR fingerprints: w=3 shingle hashes (the
    * containment lens) + MinHash band keys (the LSH screen), committed
    * as two more suite-bucketed sub-tables next to [[register]]'s exact
    * shingles. Same lifecycle: (suite, key)-keyed upsert is set union,
    * re-registering no-ops, [[unregister]] retires all three lenses.
    */
  def registerNear(benchDocs: DataFrame, path: String, buildV: Long = 0L,
                   suite: String = "default"): Unit = {
    graft.sources.Sinks.VersionedTable.mergeUpsert(
      benchDocs.sparkSession, nearPath(path),
      shingleHashes(benchDocs, WNear)
        .withColumn("suite", lit(suite))
        .withColumn("build_v", lit(buildV)),
      Seq("suite", "h"), "build_v", numBuckets = 16,
      bucketKeys = Seq("suite"))
    graft.sources.Sinks.VersionedTable.mergeUpsert(
      benchDocs.sparkSession, bandsPath(path),
      Dedup.minhashBands(Dedup.minhashSignature(benchDocs, WNear))
        .select("b", "band_key").distinct()
        .withColumn("suite", lit(suite))
        .withColumn("build_v", lit(buildV)),
      Seq("suite", "b", "band_key"), "build_v", numBuckets = 16,
      bucketKeys = Seq("suite"))
  }

  def loadNear(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.VersionedTable.read(spark, nearPath(path))
      .select("h").distinct()

  def loadBands(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.VersionedTable.read(spark, bandsPath(path))
      .select("b", "band_key").distinct()

  /** The near sub-tables' paths — pipeline-snapshot pin targets, like
    * [[tablePath]]. */
  def nearTablePath(path: String): String = nearPath(path)
  def bandsTablePath(path: String): String = bandsPath(path)

  /** [[loadNear]] at a PINNED manifest version — the pipeline-snapshot
    * read path ([[loadAt]]'s near twin): refuses on a vacuumed version.
    */
  def loadNearAt(spark: SparkSession, path: String, version: Long): DataFrame =
    layout.readAt(spark, path, "eval_shingles_w3", version).select("h").distinct()

  /** True iff the NEAR fingerprints are committed — the stream-start
    * fail-fast probe for loops gating with [[decontaminateNear]]. */
  def isNearRegistered(spark: SparkSession, path: String): Boolean =
    graft.sources.Sinks.VersionedTable
      .latestManifest(spark, nearPath(path)).isDefined

  /** Per-doc CONTAINMENT verdict: of the probe doc's distinct w=3
    * shingle hashes, how many are registered — contaminated when the
    * registered fraction reaches `keepPct` % (pure integer compare; a
    * doc too short to shingle is vacuously kept).
    */
  def decontaminateNear(docs: DataFrame, registryW3: DataFrame,
                        keepPct: Int = NearKeepPct): DataFrame = {
    // per-doc distinct 3-gram hash set map-side (r14): the old explode →
    // DISTINCT paid a corpus shuffle for a per-row set property
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(
        transform(Exprs.shingles(toks, WNear),
          s => substring(md5(s), 1, 16)))).as("h"))
    val stats = sh
      .join(broadcast(registryW3.select(col("h"), lit(1).as("reg"))),
        Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("reg"), lit(0))).cast("long").as("n_hit"))
    docs.select("doc_id").join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) * 100 <
          lit(keepPct) * coalesce(col("n_grams"), lit(0L)) ||
          coalesce(col("n_grams"), lit(0L)) === 0L).as("keep"))
  }

  /** Per-doc LSH-band verdict: the probe's NumBands MinHash band keys
    * against the registered band keys — any collision flags the doc.
    * O(NumBands) join keys per doc (vs O(shingles) for containment):
    * the cheap screen for corpus-scale sweeps, with LSH's recall curve.
    */
  def decontaminateNearLsh(docs: DataFrame, registryBands: DataFrame): DataFrame = {
    val bands = Dedup.minhashBands(Dedup.minhashSignature(docs, WNear))
    // n_bands_hit was countDistinct(b), which plans distinct-aggregate
    // machinery (an extra dedup exchange) on the CORPUS side. But the
    // probe frame carries exactly one row per (doc_id, b) by
    // construction (minhashBands explodes a fixed NumBands-element
    // array), so after the equi-join against a (b, band_key)-distinct
    // registry each (doc_id, b) survives at most once — a plain count
    // IS the distinct band count (r15; the r14 decontaminate rewrite,
    // guide §2.4). The registry side is deduped HERE (it is eval-suite
    // sized and broadcast, so the dedup is a few rows) so a caller
    // handing in a non-distinct band table cannot inflate the count.
    val hits = bands
      .join(broadcast(registryBands.dropDuplicates("b", "band_key")),
        Seq("b", "band_key"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands_hit"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bands_hit"), lit(0L)).as("n_bands_hit"),
        (coalesce(col("n_bands_hit"), lit(0L)) === 0L).as("keep"))
  }

  /** The PLANTED paraphrase transform shared by the near queries and
    * their oracles: drop every 7th token. No 8-gram of the result maps
    * to an original 8-gram (token runs are 6 long), so C80's exact lens
    * scores n_shared = 0 — while ~4/7 of the 3-grams survive intact,
    * which is what the near lenses exist to catch.
    */
  private[graft] val paraphrase =
    expr("""array_join(transform(
      |  filter(sequence(1, size(split(text, ' '))), i -> i % 7 != 0),
      |  i -> element_at(split(text, ' '), i)), ' ')""".stripMargin)

  private val paraphraseSql =
    """array_to_string(list_transform(
      |  list_filter(range(1, len(string_split(text, ' ')) + 1),
      |    i -> i % 7 <> 0),
      |  i -> string_split(text, ' ')[i]), ' ')""".stripMargin

  /** Probe frame for the near queries: the train slice (the salted
    * novels that must pass) plus every bench doc PARAPHRASED under a
    * shifted id (the leak that must be caught). */
  private def nearProbes(documents: DataFrame): DataFrame =
    documents.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionByName(documents.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          paraphrase.as("text")))

  private def nearRegistryDir(spark: SparkSession, documents: DataFrame,
                              key: String): String = {
    val dirDf = graft.GraftCache.memoArtifact(spark, ("eval_registry_near", key)) {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-evalregn").toString
      registerNear(documents.filter(col("doc_id") % 10 === 0), dir)
      Seq(dir).toDF("dir")
    }
    dirDf.collect()(0).getString(0)
  }

  /** C100: containment decontamination vs the committed w3 registry. */
  def decontaminateNearVsRegistry(spark: SparkSession, documents: DataFrame,
                                  key: String): DataFrame = {
    val dir = nearRegistryDir(spark, documents, key)
    decontaminateNear(nearProbes(documents), loadNear(spark, dir))
  }

  /** C100b: LSH band screen vs the committed band registry. */
  def decontaminateNearLshVsRegistry(spark: SparkSession, documents: DataFrame,
                                     key: String): DataFrame = {
    val dir = nearRegistryDir(spark, documents, key)
    decontaminateNearLsh(nearProbes(documents), loadBands(spark, dir))
  }

  // ---------------- C104: RETRO-decontamination verdicts (r13) --------
  //
  // The admission-time gates (C80 exact + C100 near) protect batches
  // admitted AFTER a registry lands — but a registry update (a new
  // benchmark registered, the near lens deployed after months of
  // exact-only gating) leaves already-committed corpus docs
  // unprotected. The retro sweep runs BOTH lenses over the committed
  // corpus in one pass and hands the hits to the takedown machinery
  // ([[graft.operators.Corpus.retroDecontaminate]]). This is the
  // sweep's detection core, one definition shared by the job and the
  // oracle-checked query so the two can never drift.

  /** Combined per-doc verdict of both committed lenses, exact lens
    * winning: (doc_id, n_shared, n_grams, n_hit, kind) with kind ∈
    * 'exact' (shares a registered 8-gram) | 'near' (≥ keepPct % of its
    * 3-grams registered) | 'clean'. `registryW3 = None` runs the exact
    * lens alone (a pre-r13 registry without near fingerprints — the
    * near columns then report 0 and 'near' never fires). Scale: both
    * registries broadcast, the corpus streams once per lens, verdicts
    * are keyed aggs — C80's shape, nothing pairwise.
    */
  def retroVerdicts(docs: DataFrame, registry: DataFrame,
                    registryW3: Option[DataFrame],
                    keepPct: Int = NearKeepPct): DataFrame = {
    val exact = decontaminate(docs, registry)
      .select(col("doc_id"), col("n_shared"))
    val near = registryW3 match {
      case Some(r) => decontaminateNear(docs, r, keepPct)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          col("keep").as("near_keep"))
      case None => docs.select(col("doc_id"), lit(0L).as("n_grams"),
        lit(0L).as("n_hit"), lit(true).as("near_keep"))
    }
    exact.join(near, "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_grams"), col("n_hit"),
        when(col("n_shared") > 0, lit("exact"))
          .when(!col("near_keep"), lit("near"))
          .otherwise(lit("clean")).as("kind"))
  }

  /** One committed registry dir carrying BOTH lenses' fingerprints for
    * the bench slice — the state a production registry is in after
    * `register` + `registerNear` (memoized per session; a released
    * cache re-pays the build on cold runs).
    */
  private def retroRegistryDir(spark: SparkSession, documents: DataFrame,
                               key: String): String = {
    val dirDf = graft.GraftCache.memoArtifact(spark, ("eval_registry_retro", key)) {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-evalregr").toString
      val bench = documents.filter(col("doc_id") % 10 === 0)
      register(bench, dir)
      registerNear(bench, dir)
      Seq(dir).toDF("dir")
    }
    dirDf.collect()(0).getString(0)
  }

  /** C104: the retro sweep's detection pass as a registered query — the
    * corpus is the near-probe frame (train slice + paraphrased bench
    * docs: exactly the docs an exact-only admission era let through),
    * the registry carries both lenses. The paraphrases must come back
    * 'near' (n_shared = 0 — the exact lens provably misses them), any
    * verbatim overlap 'exact', the salted novels 'clean'.
    */
  def retroContaminatedVsRegistry(spark: SparkSession, documents: DataFrame,
                                  key: String): DataFrame = {
    val dir = retroRegistryDir(spark, documents, key)
    retroVerdicts(nearProbes(documents), load(spark, dir),
      Some(loadNear(spark, dir)))
  }

  val retroContaminatedSql: String =
    s"""WITH $nearProbesSqlCtes,
       |regx AS (SELECT DISTINCT
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(W)})), 1, 16) AS h
       |  FROM documents WHERE doc_id % 10 = 0),
       |shx AS (SELECT DISTINCT doc_id,
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(W)})), 1, 16) AS h
       |  FROM probe),
       |hx AS (SELECT shx.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM shx JOIN regx USING (h) GROUP BY shx.doc_id),
       |regn AS (SELECT DISTINCT
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(WNear)})), 1, 16) AS h
       |  FROM documents WHERE doc_id % 10 = 0),
       |shn AS (SELECT DISTINCT doc_id,
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(WNear)})), 1, 16) AS h
       |  FROM probe),
       |sn AS (SELECT shn.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(count(regn.h) AS BIGINT) AS n_hit
       |  FROM shn LEFT JOIN regn ON shn.h = regn.h GROUP BY shn.doc_id)
       |SELECT p.doc_id,
       |  CAST(coalesce(hx.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(coalesce(sn.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(sn.n_hit, 0) AS BIGINT) AS n_hit,
       |  CASE WHEN coalesce(hx.n_shared, 0) > 0 THEN 'exact'
       |       WHEN coalesce(sn.n_grams, 0) > 0
       |         AND coalesce(sn.n_hit, 0) * 100 >=
       |             $NearKeepPct * coalesce(sn.n_grams, 0)
       |       THEN 'near' ELSE 'clean' END AS kind
       |FROM probe p
       |LEFT JOIN hx ON p.doc_id = hx.doc_id
       |LEFT JOIN sn ON p.doc_id = sn.doc_id""".stripMargin

  private def nearProbesSqlCtes: String =
    s"""para AS (SELECT doc_id + 1000000 AS doc_id, $paraphraseSql AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |probe AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL SELECT doc_id, text FROM para)""".stripMargin

  val decontaminateNearSql: String =
    s"""WITH $nearProbesSqlCtes,
       |reg AS (SELECT DISTINCT
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(WNear)})), 1, 16) AS h
       |  FROM documents WHERE doc_id % 10 = 0),
       |sh AS (SELECT DISTINCT doc_id,
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(WNear)})), 1, 16) AS h
       |  FROM probe),
       |stats AS (
       |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(count(reg.h) AS BIGINT) AS n_hit
       |  FROM sh LEFT JOIN reg ON sh.h = reg.h
       |  GROUP BY sh.doc_id)
       |SELECT p.doc_id,
       |  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_hit,
       |  (coalesce(s.n_hit, 0) * 100 < $NearKeepPct * coalesce(s.n_grams, 0)
       |    OR coalesce(s.n_grams, 0) = 0) AS keep
       |FROM probe p LEFT JOIN stats s ON p.doc_id = s.doc_id""".stripMargin

  val decontaminateNearLshSql: String =
    s"""WITH $nearProbesSqlCtes,
       |rsig AS (SELECT doc_id, ${Dedup.minhashSigSqlExpr} AS mh
       |  FROM documents WHERE doc_id % 10 = 0),
       |rbands AS (SELECT DISTINCT b, md5(mh[2*b+1] || mh[2*b+2]) AS band_key
       |  FROM rsig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS b)),
       |sig AS (SELECT doc_id, ${Dedup.minhashSigSqlExpr} AS mh FROM probe),
       |pbands AS (SELECT doc_id, b, md5(mh[2*b+1] || mh[2*b+2]) AS band_key
       |  FROM sig, (SELECT unnest(range(0, ${Dedup.NumBands})) AS b)),
       |hits AS (
       |  SELECT doc_id, CAST(count(DISTINCT p.b) AS BIGINT) AS n_bands_hit
       |  FROM pbands p JOIN rbands r ON p.b = r.b AND p.band_key = r.band_key
       |  GROUP BY doc_id)
       |SELECT p.doc_id,
       |  CAST(coalesce(h.n_bands_hit, 0) AS BIGINT) AS n_bands_hit,
       |  coalesce(h.n_bands_hit, 0) = 0 AS keep
       |FROM probe p LEFT JOIN hits h ON p.doc_id = h.doc_id""".stripMargin

  /** The registered query: register the benchmark slice (doc_id % 10
    * == 0, C15's stand-in suite) into a session temp registry ONCE
    * (the memoized-artifact convention — a released cache re-pays the
    * build on cold runs), then decontaminate the train slice from the
    * LOADED registry — the full commit→load→serve path under the
    * oracle gate.
    */
  def decontaminateVsRegistry(spark: SparkSession, documents: DataFrame,
                              key: String): DataFrame = {
    val dirDf = graft.GraftCache.memoArtifact(spark, ("eval_registry", key)) {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-evalreg").toString
      register(documents.filter(col("doc_id") % 10 === 0), dir)
      Seq(dir).toDF("dir")
    }
    val dir = dirDf.collect()(0).getString(0)
    decontaminate(documents.filter(col("doc_id") % 10 =!= 0), load(spark, dir))
  }

  val decontaminateSql: String =
    s"""WITH sh AS (SELECT doc_id,
       |    substr(md5(unnest(${TextOps.shinglesSqlExpr(W)})), 1, 16) AS h
       |  FROM documents),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
       |hits AS (
       |  SELECT sh.doc_id, CAST(count(DISTINCT sh.h) AS BIGINT) AS n_shared
       |  FROM sh JOIN bench USING (h)
       |  WHERE sh.doc_id % 10 <> 0
       |  GROUP BY sh.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(hits.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(hits.n_shared, 0) = 0 AS keep
       |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
       |WHERE d.doc_id % 10 <> 0""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_decontaminate" -> ((s, d) =>
      decontaminateVsRegistry(s, Tables.documents(s, d), d)),
    "q_decontaminate_near" -> ((s, d) =>
      decontaminateNearVsRegistry(s, Tables.documents(s, d), d)),
    "q_decontaminate_near_lsh" -> ((s, d) =>
      decontaminateNearLshVsRegistry(s, Tables.documents(s, d), d)),
    "q_retro_contaminated" -> ((s, d) =>
      retroContaminatedVsRegistry(s, Tables.documents(s, d), d)))

  def oracle: Map[String, String] = Map(
    "q_decontaminate" -> decontaminateSql,
    "q_decontaminate_near" -> decontaminateNearSql,
    "q_decontaminate_near_lsh" -> decontaminateNearLshSql,
    "q_retro_contaminated" -> retroContaminatedSql)
}
