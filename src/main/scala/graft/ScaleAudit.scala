package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up audit harness: materializes an N× replica of a testdata SF
  * (default 10× sf0.1 ≈ sf1) with FK-consistent key shifts, executes the
  * headline fact-scan queries against it, and reports the FINAL adaptive
  * plans — catching any shape that only looked right because the smaller
  * SF fit in one partition (e.g. an AQE broadcast decision that flips to
  * a shuffle join once the build side outgrows the threshold).
  *
  * Replication preserves every FK relation (each key domain shifts by
  * `i × (max(domain)+1)` on BOTH sides of its joins) and all value
  * distributions; fixed catalogs (region/nation) are copied, matching
  * how a real corpus grows: more entities, same dimensions.
  *
  * Usage: `sbt 'runMain graft.ScaleAudit [mult] [query ...]'` — the
  * scaled copy lands under target/scaled_<mult>x (repo-local, ignored)
  * and is rebuilt only when absent, so repeat runs time queries only.
  * Hard assertions (exit non-zero on violation):
  *  - no query's final plan contains a cartesian product;
  *  - q10's rank-before-enrich keeps TakeOrderedAndProject and its
  *    k-row ranked side still BROADCASTS into customer at the scaled SF
  *    (the property that makes the enrich joins touch k rows, not
  *    |customers|);
  *  - q18's top-k stays TakeOrderedAndProject (no global sort).
  */
object ScaleAudit {

  // key column -> (owning table, owning column) defining its shift domain
  private val domains: Map[String, (String, String)] = Map(
    "c_custkey" -> (("customer", "c_custkey")),
    "o_custkey" -> (("customer", "c_custkey")),
    "o_orderkey" -> (("orders", "o_orderkey")),
    "l_orderkey" -> (("orders", "o_orderkey")),
    "p_partkey" -> (("part", "p_partkey")),
    "l_partkey" -> (("part", "p_partkey")),
    "s_suppkey" -> (("supplier", "s_suppkey")),
    "l_suppkey" -> (("supplier", "s_suppkey")),
    "event_id" -> (("events", "event_id")),
    "user_id" -> (("events", "user_id")),
    "doc_id" -> (("documents", "doc_id")),
    "vec_id" -> (("embeddings", "vec_id")))

  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val defaultQueries = Seq(
    "q18_large_orders", "q2_min_cost_supplier", "q10_returned_items",
    "q1_pricing_summary", "q_sessionize", "q_token_count",
    "q_dedup_minhash_lsh",
    // round-5 continuation: the widest new fact spines — Q8's five-table
    // share, Q9's profit rollup, Q21's single-scan per-order collapse,
    // and the line-dedup explode→freq→reassemble chain
    "q8_market_share", "q9_product_profit", "q21_waiting_suppliers",
    "q_line_dedup",
    // round-5 batch 3: the new corpus-wide spines — BM25's
    // dictionary-filtered tf chain, DistributedRank's bucket/prefix-sum
    // composition, the vocabulary self-derived rarity join, and the
    // per-key count double-agg
    "q_bm25", "q_percentile_norm", "q_token_rarity", "q_key_skew",
    // round-6: the iterative/graph family — fixpoints whose round
    // structure must hold when components get 10× heavier: triangle
    // wedges, hub-capped FoF, the bigint PageRank loop, both CC engines
    "q_triangles", "q_friend_recs", "q_pagerank",
    "q_dedup_clusters", "q_dedup_clusters_ls",
    // round-6 additions: the BPE trainer/encoder corpus spines and the
    // bucket-offset global permutation
    "q_bpe_train", "q_bpe_encode", "q_corpus_shuffle",
    // round-7 additions: the video codec lens (shares the capped
    // BandedPairs engine — the mega-bucket hazard lives there), the
    // zero-shuffle classifier (must STAY shuffle-free at scale), and
    // the LPA fixpoint (per-round edge-keyed joins; replicas share the
    // 20 hub nodes, so hub degree grows 10x — LPA cost must stay
    // O(edges), no quadratic wedge blowup like uncapped FoF)
    "q_video_phash", "q_quality_classifier", "q_community_lpa",
    // round-7 batch 2: the exact embedding statistics — bounded-key
    // aggs ((label,dim) / (i,j) / the 64-row moment slice) that must
    // not grow output with the corpus
    "q_label_centroids", "q_gram_matrix", "q_embed_outliers",
    "q_rate_spikes",
    // round-8 additions: the curation front door (normalize must stay a
    // shuffle-free scan rider), the domain cap (bounded heap must not
    // regress to a per-host window), and the CMS grid (constant-size
    // sketch must keep broadcasting however big the corpus)
    "q_text_normalize", "q_url_host_cap", "q_cms_topk",
    // round-8 batch 2: the selection weigher (its scorer must stay a
    // shuffle-free scan rider at any corpus size) and the committed-
    // index dedup probe (its candidate fan-out must stay bounded by
    // batch × bands × occupancy-cap — the C2 bound — however big the
    // corpus side grows)
    "q_dsir_weights", "q_dedup_vs_corpus",
    // round-8 batch 3: incremental rollup maintenance — the merge
    // algebra must hold and the state stay key-bounded as facts grow
    "q_rollup_incremental",
    // round-8 batch 4: the resample draw (rides the memoized trainer)
    // and the drift monitor (≤64 rows out at any corpus size)
    "q_dsir_resample", "q_corpus_drift",
    // round-8 batch 5: the WARC front door (length-framed record
    // splitting must stay an embarrassingly-parallel mapPartitions
    // walk — no shuffle beyond the file grouping)
    "q_warc_ingest",
    // round-9 additions: the two data-derived mixers (bounded
    // source-catalog aggs — the rate table and the waterfill input must
    // stay catalog-sized however big the corpus), the encoding-repair
    // scan rider, the native repetition profile (replaced an
    // O(distinct·len) per-doc quadratic — must stay scan-shaped), and
    // semi-hard negative mining (broadcast probes + bounded heap, band
    // filter map-side)
    "q_temperature_mix", "q_unimax_mix", "q_mojibake_repair",
    "q_repetition_profile", "q_hard_negatives",
    // round-9 batch 2: the native-JSON front door (per-file parallel,
    // in-band quarantine), the lang-keyed fertility rollup riding the
    // zero-shuffle encode, and the artifact-shaped negative miner
    // (partition-pruned probe lists, never a corpus pair join)
    "q_jsonl_ingest", "q_tokenizer_fertility", "q_ann_hard_negatives",
    // the eval-registry probe join must stay broadcast (registry is
    // eval-suite-sized) and the verdict agg doc-keyed as the corpus grows
    "q_decontaminate",
    // round-11: corpus-wide bitext mining — candidate generation must
    // stay a co-routed block join (per-block cost = |routed y| × |x in
    // list|, bounded by list occupancy) with the ADC shortlist bounding
    // the exact rescore; no corpus cross product may creep in as the
    // non-pivot side grows 10×
    "q_bitext_mine_corpus")

  def buildScaled(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    // events.ts stays a raw nanos long end-to-end: the flag reads the
    // TIMESTAMP(NANOS) source as int64 and the copy writes plain BIGINT,
    // which Tables.events' `ts div 1000` consumes identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val bases: Map[(String, String), Long] = domains.values.toSet.map {
      tc: (String, String) =>
        val (t, c) = tc
        val m = spark.read.parquet(s"$base/$t.parquet")
          .agg(max(col(c).cast("long"))).head()
        tc -> (if (m.isNullAt(0)) 1L else m.getLong(0) + 1L)
    }.toMap
    graft.sources.Tables.all.foreach { t =>
      val df = spark.read.parquet(s"$base/$t.parquet")
      val keys = shiftCols.getOrElse(t, Seq.empty)
      val scaled =
        if (keys.isEmpty) df
        else (0 until mult).map { i =>
          df.select(df.columns.toIndexedSeq.map { c =>
            if (keys.contains(c)) (col(c) + lit(i * bases(domains(c)))).as(c)
            else col(c)
          }: _*)
        }.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val names = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    // dir name carries the base SF: a 50x-of-sf0.01 replica must never
    // be silently reused by a 50x-of-sf0.1 run (the exists-check below
    // would otherwise hand it a 10x-smaller corpus than requested)
    val out = s"target/scaled_${mult}x_${new java.io.File(base).getName}"
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      println(s"[scale] building ${mult}x replica of $base at $out")
      buildScaled(spark, base, out, mult)
    }

    var bad = 0
    // a timing breach on a visibly contended host (1-minute loadavg
    // above half the cores) is a WARN, not a violation: wall-clock
    // bounds on a shared box are only meaningful when it is quiet
    def loadFlag(cond: Boolean, msg: String): Unit = if (cond) {
      val load1 = Bench.loadavg().fold(0.0)(_.head)
      if (load1 > Runtime.getRuntime.availableProcessors() / 2.0)
        println(s"[scale] WARN (contended, loadavg $load1) $msg")
      else { bad += 1; println(s"[scale] FAIL $msg") }
    }
    // pseudo-names target composite lenses below without a registered
    // query of their own; anything else unknown is a typo and must fail
    // LOUDLY — a silently-dropped name would print "0 violations" for a
    // benchmark that never ran
    val pseudoNames = Set("admission_loop", "media_admission_loop", "embedding_admission_loop", "semantic_admission_loop", "hotkey_dewindow", "bpe_vocab_loop", "takedown_loop", "retro_decon_loop")
    val unknown = names.filterNot(n =>
      SparkEntry.queries.contains(n) || pseudoNames.contains(n))
    if (unknown.nonEmpty) {
      println(s"[scale] FAIL unknown query/lens names: ${unknown.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    val results = names.filter(SparkEntry.queries.contains).map { n =>
      GraftCache.releaseAll(spark)
      // construction inside the timer: the memoized iterative queries
      // (BPE trainer, PageRank, CC) run their fixpoints at
      // DataFrame-BUILD time, which an action-only timer would misreport
      // as instant
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, out)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      def count(op: String) = op.r.findAllIn(plan).size
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")
        .map(j => j -> count(j)).filter(_._2 > 0)
      println(f"[scale] $n%-24s $sec%7.2fs rows=$rows%-8d " +
        joins.map { case (j, c) => s"$j×$c" }.mkString(" "))
      if (count("CartesianProduct") > 0) {
        bad += 1; println(s"[scale] FAIL $n: cartesian product in final plan")
      }
      (n, sec, rows, plan)
    }
    results.find(_._1 == "q10_returned_items").foreach { case (_, _, _, plan) =>
      if (!plan.contains("TakeOrderedAndProject")) {
        bad += 1; println("[scale] FAIL q10: top-k lost TakeOrderedAndProject")
      }
      if ("BroadcastHashJoin".r.findAllIn(plan).size < 2) {
        bad += 1
        println("[scale] FAIL q10: k-row ranked side no longer broadcasts into the enrich joins")
      }
    }
    results.find(_._1 == "q18_large_orders").foreach { case (_, _, _, plan) =>
      if (!plan.contains("TakeOrderedAndProject")) {
        bad += 1; println("[scale] FAIL q18: top-k lost TakeOrderedAndProject")
      }
    }
    results.find(_._1 == "q21_waiting_suppliers").foreach { case (_, _, _, plan) =>
      // PlanSpec pins the single lineitem scan (AQE off); here the AQE
      // final plan must keep the top-k as sort+limit at 10×
      if (!plan.contains("TakeOrderedAndProject")) {
        bad += 1; println("[scale] FAIL q21: top-k lost TakeOrderedAndProject")
      }
    }
    results.find(_._1 == "q_quality_classifier").foreach { case (_, _, _, plan) =>
      // the classifier's whole value at scale is riding the scan: any
      // Exchange appearing at 10x means something broke the projection
      if (plan.contains("Exchange")) {
        bad += 1; println("[scale] FAIL q_quality_classifier: classifier no longer shuffle-free")
      }
    }
    results.find(_._1 == "q_friend_recs").foreach { case (_, _, _, plan) =>
      // the top-k must stay the bounded heap aggregate — a rank window
      // sneaking back in would sort every candidate per user at scale
      if (plan.contains("Window")) {
        bad += 1; println("[scale] FAIL q_friend_recs: rank window replaced the bounded heap")
      }
    }
    results.find(_._1 == "q_text_normalize").foreach { case (_, _, _, plan) =>
      // normalization's whole value is riding the scan: any Exchange at
      // 10x means the projection grew a shuffle
      if (plan.contains("Exchange")) {
        bad += 1; println("[scale] FAIL q_text_normalize: normalization no longer shuffle-free")
      }
    }
    results.find(_._1 == "q_url_host_cap").foreach { case (_, _, _, plan) =>
      // the per-host cap must stay the MinKLong heap (a rank window
      // would sort a mega-host's full page list in one task) and the
      // blocklist must stay a broadcast anti-join
      if (plan.contains("WindowExec") || "\\bWindow\\b".r.findFirstIn(plan).isDefined) {
        bad += 1; println("[scale] FAIL q_url_host_cap: rank window replaced the bounded heap")
      }
      if (!plan.contains("BroadcastHashJoin")) {
        bad += 1; println("[scale] FAIL q_url_host_cap: blocklist anti-join no longer broadcasts")
      }
    }
    results.find(_._1 == "q_cms_topk").foreach { case (_, _, _, plan) =>
      // probe selection must stay TakeOrderedAndProject; the sketch grid
      // must keep broadcasting (it is constant-size by construction)
      if (!plan.contains("TakeOrderedAndProject")) {
        bad += 1; println("[scale] FAIL q_cms_topk: probe top-k lost TakeOrderedAndProject")
      }
      if ("BroadcastExchange".r.findAllIn(plan).size < 2) {
        bad += 1; println("[scale] FAIL q_cms_topk: grid/total no longer broadcast to the probes")
      }
    }
    // DSIR (round-8): the full registered query legitimately shuffles
    // (train agg + the floor-mean gate), but the SCORING body — the
    // piece that touches every corpus row — must stay an Exchange-free
    // scan rider at scale, and the exact-ratio guard (lr fits int64)
    // must hold on the scaled corpus counts.
    if (names.contains("q_dsir_weights")) {
      GraftCache.releaseAll(spark)
      val docs = graft.sources.Tables.documents(spark, out)
      val lr = operators.Dsir.lrTable(docs) // require() inside = the int64 guard
      val plan = operators.Dsir.scoreAgainst(docs, lr)
        .queryExecution.executedPlan.toString
      if (plan.contains("Exchange")) {
        bad += 1; println("[scale] FAIL q_dsir_weights: scorer no longer shuffle-free")
      } else println(s"[scale] q_dsir_weights scorer Exchange-free at ${mult}x (lr_max=${lr.max})")
    }
    // Committed-index dedup probe (round-8): the serve path's candidate
    // fan-out is the scale hazard — every batch doc may probe at most
    // NumBands × MaxBucketOccupancy corpus docs, REGARDLESS of corpus
    // size (oversized buckets drop, the C2 rule). The scaled corpus
    // replicates every planted text mult× with distinct doc_ids, so
    // band occupancy genuinely grows with mult — exactly the mega-
    // bucket pressure the cap exists for.
    if (names.contains("q_dedup_vs_corpus")) {
      GraftCache.releaseAll(spark)
      val docs = graft.sources.Tables.documents(spark, out)
      val batch = operators.DedupIndex.plantedBatch(docs)
      val bBands = operators.Dedup.minhashBands(operators.Dedup.minhashSignature(batch))
      val cBands = operators.Dedup.capBands(operators.DedupIndex.bands(docs))
      val nCand = bBands
        .join(cBands.select(col("b"), col("band_key"), col("doc_id").as("c_id")),
          Seq("b", "band_key"))
        .count()
      val nBatch = batch.count()
      val bound = nBatch * operators.Dedup.NumBands * operators.Dedup.MaxBucketOccupancy
      println(s"[scale] q_dedup_vs_corpus candidates: $nCand over $nBatch batch docs (bound $bound)")
      if (nCand > bound) {
        bad += 1
        println(s"[scale] FAIL q_dedup_vs_corpus: candidate fan-out $nCand exceeds batch×bands×cap $bound")
      }
    }
    // Incremental rollup (round-8): the maintained state must stay
    // KEY-bounded (one row per (suppkey, returnflag) — dim-proportional,
    // never fact-proportional) and the merge algebra exact at scale:
    // merge(agg(base), agg(delta)) row counts equal the one-pass rollup.
    if (names.contains("q_rollup_incremental")) {
      GraftCache.releaseAll(spark)
      val li = graft.sources.Tables.lineitem(spark, out)
      val merged = SparkEntry.queries("q_rollup_incremental")(spark, out)
      val nState = merged.count()
      val nKeys = li.select("l_suppkey", "l_returnflag").distinct().count()
      if (nState != nKeys) {
        bad += 1
        println(s"[scale] FAIL q_rollup_incremental: state rows $nState != live keys $nKeys")
      } else println(s"[scale] q_rollup_incremental state key-bounded: $nState rows at ${mult}x")
    }
    // The two CC engines (O(diameter) min-label vs O(log n) star
    // alternation) must still agree label-for-label on the 10× dup
    // graph — the strongest convergence assertion available without
    // instrumenting round counts: a fixpoint stopping one round early
    // in either engine splits a cluster and breaks the equality.
    if (names.contains("q_dedup_clusters") && names.contains("q_dedup_clusters_ls")) {
      GraftCache.releaseAll(spark)
      val a = SparkEntry.queries("q_dedup_clusters")(spark, out)
      val b = SparkEntry.queries("q_dedup_clusters_ls")(spark, out)
        .withColumnRenamed("cluster_id", "cluster_id_ls")
        .select("doc_id", "cluster_id_ls")
      val diff = a.join(b, "doc_id")
        .filter(col("cluster_id") =!= col("cluster_id_ls")).count()
      if (diff != 0) {
        bad += 1; println(s"[scale] FAIL CC engines disagree on $diff docs at ${mult}x")
      } else println(s"[scale] CC engines agree label-for-label at ${mult}x")
    }
    if (names.contains("q_pagerank")) {
      GraftCache.releaseAll(spark)
      // rank mass is conserved-or-leaked, never created: ranks start at
      // Scale/n (total mass = Scale ≡ 1.0) and every round redistributes
      // with floor divisions — the total can only shrink (dangling +
      // floor leaks). A loop bug that double-ships contributions pushes
      // the sum PAST Scale at 10x graph size.
      val pr = SparkEntry.queries("q_pagerank")(spark, out)
      val agg = pr.agg(sum(col("rank_scaled")).as("s"), count(lit(1)).as("n")).head()
      val (s, n) = (agg.getLong(0), agg.getLong(1))
      if (s > 1000000000000L) {
        bad += 1; println(s"[scale] FAIL q_pagerank: rank mass created ($s over $n nodes)")
      } else println(f"[scale] q_pagerank mass conserved: ${s / 1e12}%.4f of 1.0 across $n nodes")
    }
    if (names.contains("q_corpus_shuffle")) {
      GraftCache.releaseAll(spark)
      // the shuffle rank must be a PERMUTATION at scale: any bucket
      // boundary error (off-by-one offsets, ties split across buckets)
      // shows up as a duplicate or hole in the rank sequence
      val r = SparkEntry.queries("q_corpus_shuffle")(spark, out)
        .agg(min(col("shuffle_rank")), max(col("shuffle_rank")),
          countDistinct(col("shuffle_rank")), count(lit(1))).head()
      val (lo, hi, nd, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (lo != 1L || hi != n || nd != n) {
        bad += 1
        println(s"[scale] FAIL q_corpus_shuffle: ranks not a permutation (min=$lo max=$hi distinct=$nd n=$n)")
      } else println(s"[scale] q_corpus_shuffle is an exact 1..$n permutation at ${mult}x")
    }
    // SemDeDup population cap: the within-cluster self-join is quadratic
    // per cluster BY DESIGN, so the scaled entry point must grow k with
    // the corpus (the paper's rule) and keep every cluster's population
    // bounded — a codebook stuck at the 16-centroid test artifact would
    // put n/16 vectors in one cluster and the pairwise join would
    // explode quadratically with corpus growth. Pins: (a) the codebook
    // actually sized past the test artifact, (b) no cluster exceeds
    // 8x the target population (k-means imbalance allowance; the
    // quadratic cost of an 8x cluster is a bounded 64x of target —
    // independent of corpus size, which is the property that matters).
    if (names.contains("q_semdedup") || names == defaultQueries) {
      GraftCache.releaseAll(spark)
      val target = 512L
      val sd = operators.Embeddings.semDedupScaled(
        graft.sources.Tables.embeddings(spark, out), targetClusterSize = target)
      val pops = sd.groupBy("c_id").count()
      val st = pops.agg(max("count"), count(lit(1)), sum("count")).head()
      val (maxPop, kEff, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
      println(s"[scale] q_semdedup scaled: n=$n effective_k=$kEff max_cluster=$maxPop (target $target)")
      if (n > operators.Embeddings.NumCentroids * target &&
          kEff <= operators.Embeddings.NumCentroids) {
        bad += 1
        println(s"[scale] FAIL q_semdedup: codebook did not scale past the test artifact (k=$kEff)")
      }
      if (maxPop > 8 * target) {
        bad += 1
        println(s"[scale] FAIL q_semdedup: cluster population $maxPop exceeds 8x target $target")
      }
    }
    // Packing-shard auto-sizing (round-8): packSequences' default shard
    // count derives from the cluster, and the property that matters at
    // scale is that NO (lang, shard) running-sum window partition holds
    // more than ~lang_corpus/shards rows — the bound that keeps the
    // per-shard sequential fill from re-becoming a whole-corpus sort.
    // ε = 2× allows residue imbalance; a regression to a box-constant
    // shard count (or a broken shard expression collapsing residues)
    // blows straight past it on the scaled corpus.
    if (names == defaultQueries) {
      GraftCache.releaseAll(spark)
      val docs = graft.sources.Tables.documents(spark, out)
      val auto = operators.TextOps.resolvedShards(docs, 0)
      val parts = docs
        .groupBy(col("lang"), pmod(col("doc_id"), lit(auto.toLong)).as("shard"))
        .agg(count(lit(1)).as("rows"))
      val maxPart = parts.agg(max("rows")).head().getLong(0)
      val maxLang = docs.groupBy("lang").count().agg(max("count")).head().getLong(0)
      val bound = 2L * maxLang / auto + 1
      println(s"[scale] packing shards: auto=$auto max_window_partition=$maxPart " +
        s"bound=$bound (largest lang $maxLang)")
      if (maxPart > bound) {
        bad += 1
        println(s"[scale] FAIL packing: a (lang, shard) window partition holds $maxPart rows > $bound")
      }
    }
    // DistributedRank crossover: q_token_budget_mix deliberately trades
    // a bounded-key running-sum window (one task per language, however
    // big the language) for range-bucketed prefix sums with offset-based
    // bucket PRUNING. Small or evenly-mixed corpora cannot embarrass a
    // single-task sort (measured: 1M docs / 10 even langs → window wins
    // 1.4×; even 20M docs / 5 even langs → window wins 1.6×, its
    // 4M-row per-task sorts cheaper than DR's three scans), so the
    // crossover is demonstrated where the hazard actually lives and
    // real corpora actually sit: LANGUAGE SKEW. 20M synthetic docs with
    // a 99%-dominant language put ~19.8M rows through ONE window task —
    // the serialization the operator exists to avoid — while
    // DistributedRank's scans stay fully parallel and every bucket past
    // the token budget is pruned before its local window. Assertion:
    // DR must win outright there — if it cannot, revert to the window.
    if (names.contains("q_token_budget_mix") || names == defaultQueries) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.storage.StorageLevel
      GraftCache.releaseAll(spark)
      val big = spark.range(0L, 20000000L, 1L, 64).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(100L)) < 99L, lit("lang_dominant"))
          // minority ids all satisfy id%100==99, so id%4 would be the
          // CONSTANT 3 (100 = 0 mod 4) — rotate on id/100 instead to
          // get four genuine minority languages
          .otherwise(concat(lit("lang_"), pmod(floor(col("id") / 100L), lit(4)))).as("lang"),
        (lit(50L) + pmod(col("id"), lit(100L))).as("n_tok"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nBig = big.count() // materialize: both variants read the same cache
      def timeIt(df: => DataFrame): Double = {
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }
      val budget = 500000L
      val wLocal = Window.partitionBy("lang", operators.DistributedRank.BucketCol)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dr = operators.DistributedRank
        .withBucketOffsets(big, "lang", "doc_id", col("n_tok"), 1024)
        .filter(col(operators.DistributedRank.OffsetCol) < budget)
        .withColumn("cum_tok",
          col(operators.DistributedRank.OffsetCol) + sum(col("n_tok")).over(wLocal))
        .filter(col("cum_tok") - col("n_tok") < budget)
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val windowVariant = big
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") - col("n_tok") < budget)
      // warm both once (JIT/codegen), then time. Wall-clock assertions
      // on a shared box are nondeterministic (round 6's bench was
      // exonerated for exactly that), so: min of 2 runs each (drops one
      // load spike), a 1.2x margin before failing, and on a visibly
      // contended host (loadavg > half the cores) the breach is a WARN,
      // not a gate failure.
      timeIt(dr); timeIt(windowVariant)
      val drSec = math.min(timeIt(dr), timeIt(dr))
      val winSec = math.min(timeIt(windowVariant), timeIt(windowVariant))
      big.unpersist(blocking = true)
      println(f"[scale] DistributedRank crossover at $nBig docs / 5 langs: " +
        f"DR $drSec%.2fs vs single-task window $winSec%.2fs")
      loadFlag(drSec > winSec * 1.2,
        "DistributedRank has not crossed over the single-task window at this size")
    }
    // DistributedRank equal-DEPTH buckets under order-value skew
    // (round-9): equal-WIDTH range buckets degenerate when the order
    // column's VALUES skew — a corpus where 90% of docs share one
    // n_chars value plus a 10% tail collapses into one bucket and
    // re-creates the unsplittable local window the scaffold exists to
    // kill. Equal-depth approx-percentile cuts must bound every bucket
    // at ~2n/buckets PLUS the largest tie class (ties must share a
    // bucket — the offset algebra needs earlier buckets strictly
    // smaller, so a dominant value is irreducibly one bucket).
    // Deterministic row-count assertions, no wall-clock.
    if (names.contains("q_percentile_norm") || names == defaultQueries) {
      val n = 2000000L
      val buckets = 1024
      val tieVal = 900000000000L // far above the tail: equal width would collapse
      val planted = spark.range(0L, n, 1L, 32).select(
        col("id").as("doc_id"), lit("all").as("g"),
        when(pmod(col("id"), lit(10L)) < 9L, lit(tieVal))
          .otherwise(col("id")).as("ordv"))
      val occ = operators.DistributedRank
        .withBucketOffsets(planted, "g", "ordv", lit(1L), buckets)
        .groupBy(col(operators.DistributedRank.BucketCol), col("ordv") === tieVal)
        .count().collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      val tieClass = occ.filter(_._2).map(_._3).sum
      val perBucket = occ.groupBy(_._1).map { case (_, rs) => rs.map(_._3).sum }
      val ideal = math.ceil(2.0 * n / buckets).toLong
      val maxB = perBucket.max
      val nonTieBuckets = occ.filter(!_._2).map(_._1).distinct.length
      val maxNonTie = occ.filter(!_._2).groupBy(_._1)
        .map { case (_, rs) => rs.map(_._3).sum }.max
      println(f"[scale] DistributedRank 90%%-tie occupancy: max=$maxB " +
        f"(tie class=$tieClass, bound=${tieClass + ideal}), " +
        f"tail spread over $nonTieBuckets buckets (max non-tie $maxNonTie)")
      if (maxB > tieClass + ideal) {
        bad += 1
        println(s"[scale] FAIL equal-depth occupancy: $maxB > tie+2n/buckets")
      }
      if (nonTieBuckets < buckets / 20) {
        bad += 1
        println(s"[scale] FAIL tail collapsed into $nonTieBuckets buckets " +
          "(equal-width degeneration)")
      }
      if (maxNonTie > 3L * n / buckets) {
        bad += 1
        println(s"[scale] FAIL non-tie bucket occupancy $maxNonTie > 3n/buckets")
      }
    }

    // BPE trainer at REAL vocab scale (round-9): the trainer is one
    // distributed vocab aggregation + a driver-side incremental merge
    // loop, so k=1024 must cost roughly what k=256 costs plus a few
    // driver-seconds — NOT 4x (the round-8 chained-plans shape would be
    // linear-in-k full Spark jobs, and 32k merges would be unusable).
    if (names.contains("q_bpe_train") || names == defaultQueries) {
      GraftCache.releaseAll(spark)
      val docs = sources.Tables.documents(spark, out)
      def train(k: Int): Double = {
        val t0 = System.nanoTime()
        // fresh limit-n plan per k defeats nothing (memo keys include k)
        val m = operators.TextOps.bpeTrain(docs, k)
        val rows = m.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] bpeTrain(k=$k%4d) $sec%7.2fs merges=$rows")
        sec
      }
      val t256 = train(256)
      val t1024 = train(1024)
      // The replica corpus's synthetic vocab dries up after <100 merges,
      // so ALSO drive the full 1024 rounds against a 500k-distinct-word
      // hex vocab (16-char alphabet -> dense pair space that never dries
      // this early) through the same distributed-agg + driver-loop path.
      // every word is a singleton here, so the driver-capacity lens
      // opts out of the production floor (minCount = 1) — its job is
      // the 500k-word driver loop, not the prune
      val rich = spark.range(0L, 500000L, 1L, 32)
        .select(substring(md5(col("id").cast("string")), 1, 8).as("text"))
      val tRich0 = System.nanoTime()
      val richMerges = operators.TextOps.bpeTrain(rich, 1024, minCount = 1L).count()
      val tRich = (System.nanoTime() - tRich0) / 1e9
      println(f"[scale] bpeTrain(k=1024, 500k-word vocab) $tRich%7.2fs merges=$richMerges")
      if (richMerges < 1024 || tRich > 120.0) {
        bad += 1
        println(f"[scale] FAIL bpeTrain rich-vocab: $richMerges merges in $tRich%.2fs " +
          "(want 1024 merges, seconds not minutes)")
      }
      // Round-10: the Heaps'-law singleton bomb — every doc carries 8
      // core-vocab words (count >> floor) plus one doc-unique typo/hash
      // token. The RAW distinct vocab grows linearly with the corpus
      // (200k singletons here, billions on a crawl); the FLOORED vocab
      // the driver collects must stay core-sized. Pins both the bound
      // (kept == 2000 core words, tail-independent) and that training
      // still runs over the floored table.
      {
        val n = 200000L
        val heavy = spark.range(0L, n, 1L, 32).select(
          concat(
            expr("concat_ws(' ', transform(sequence(0, 7), " +
              "i -> concat('w', CAST((id * 7 + i * 13) % 2000 AS STRING))))"),
            lit(" zz"), md5(col("id").cast("string"))).as("text"))
        val vocabAll = heavy.select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val raw = vocabAll.count()
        val kept = vocabAll.filter(col("cnt") >= operators.TextOps.BpeMinCount).count()
        val t0 = System.nanoTime()
        val hm = operators.TextOps.bpeTrain(heavy, 64).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] bpe singleton bomb: raw vocab $raw, floored collect $kept, " +
          f"$hm merges in $sec%.2fs")
        if (kept > 4000 || raw < n) {
          bad += 1
          println(s"[scale] FAIL bpe floor: collect $kept not tail-independent (raw $raw)")
        }
        if (hm < 16) {
          bad += 1
          println(s"[scale] FAIL bpe floor: training dried up over the floored vocab ($hm merges)")
        }
      }
      // generous absolute ceiling (seconds-not-minutes is the contract)
      // plus a shape bound: quadrupling k may add driver-loop time but
      // must not re-pay the distributed pass 4x. Same contended-box
      // hygiene as the crossover lens.
      val shapeOk = t1024 <= math.max(t256 * 2.5, t256 + 20.0)
      loadFlag(t1024 > 120.0 || !shapeOk,
        f"bpeTrain k-scaling: k=256 $t256%.2fs vs k=1024 $t1024%.2fs")
    }

    // Containment dedup under a boilerplate bomb (round-9): plant a
    // corpus where EVERY doc shares one hot shingle (a site footer).
    // Uncapped, that shingle's inverted-index bucket would fan every
    // probe hit into |corpus| candidates (n² pair explosion); the C2b
    // md5-rank cap must bound the hot bucket's contribution at
    // cap docs — so total candidate hits stay ≤ probes·k·cap, and the
    // planted true containment pair must STILL be found (capping
    // bounds enumeration, not detection). Deterministic counts.
    if (names.contains("q_containment_dups") || names == defaultQueries) {
      import graft.operators.Dedup
      val n = 200000L
      val boiler = "copyright footer all rights reserved"
      val planted = spark.range(0L, n, 1L, 32).select(
        col("id").as("doc_id"),
        concat(
          // unique body per doc (8 distinct tokens), shared 6-token footer
          expr("concat_ws(' ', transform(sequence(0, 7), " +
            "i -> concat('w', CAST(id AS STRING), '_', CAST(i AS STRING))))"),
          lit(" " + boiler)).as("text"))
      // plant one true containment: doc n is doc 0's body verbatim + noise
      val contained = spark.range(0L, 1L).select(
        lit(n).as("doc_id"),
        concat(
          expr("concat_ws(' ', transform(sequence(0, 7), " +
            "i -> concat('w0_', CAST(i AS STRING))))"),
          lit(" " + boiler)).as("text"))
      val docs = planted.unionByName(contained)
      val out = Dedup.containmentDups(docs).collect()
      val found = out.exists(r =>
        (r.getLong(0) == 0L && r.getLong(1) == n) ||
          (r.getLong(0) == n && r.getLong(1) == 0L))
      // pair output bound: every reported pair needed >= minHits sampled
      // hits, and hot-bucket fan-out is <= cap per probe hash, so the
      // report can never approach n² — assert a generous absolute roof
      val roof = n * Dedup.ContainK * Dedup.ContainShingleCap / Dedup.ContainMinHits
      println(s"[scale] containment boilerplate bomb: ${out.length} pairs " +
        s"from ${n + 1} docs (roof $roof), planted pair found=$found")
      if (!found) {
        bad += 1
        println("[scale] FAIL containment: capping must bound enumeration, not detection")
      }
      if (out.length.toLong > roof) {
        bad += 1
        println(s"[scale] FAIL containment pair output ${out.length} breached the cap roof")
      }
    }

    // Multi-writer rollup at replica scale (round-9): the per-delta
    // partial-row layout must keep BOTH invariants that make it a
    // 100 TB design — (a) applying a small delta rewrites only the
    // buckets its own rows hash to (manifest-dir diff, never the full
    // state), and (b) foldPartials caps merge-on-read row count at one
    // row per key regardless of how many deltas have landed.
    // Deterministic manifest/row-count assertions, no wall-clock.
    if (names.contains("q_rollup_incremental") || names == defaultQueries) {
      import graft.operators.RollupIndex
      import graft.sources.Sinks.VersionedTable
      val li = spark.read.parquet(s"$out/lineitem.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-rollup").toString
      RollupIndex.build(li.filter(pmod(col("l_orderkey"), lit(4L)) =!= 0L),
        dir, "bootstrap")
      RollupIndex.applyDelta(li.filter(pmod(col("l_orderkey"), lit(4L)) === 0L),
        dir, "batch-1")
      val before = VersionedTable.latestManifest(spark, s"$dir/state").get._2
      // a 3-key delta against the replica-scale state
      val tiny = li.filter(col("l_suppkey").isin(1L, 2L, 3L))
      RollupIndex.applyDelta(tiny, dir, "tiny")
      val after = VersionedTable.latestManifest(spark, s"$dir/state").get._2
      val rewritten = after.count { case (b, d) => before.get(b) != Some(d) }
      // ≤ 3 keys × |flags| partial rows + 1 ledger row → at most a
      // handful of the 16 buckets; full-state rewrite would be all 16
      println(s"[scale] rollup tiny-delta rewrote $rewritten/16 buckets")
      if (rewritten > 10) {
        bad += 1
        println(s"[scale] FAIL rollup apply not bucket-pruned: $rewritten buckets rewritten")
      }
      val keysN = RollupIndex.read(spark, dir).count()
      def partials(): Long = VersionedTable.read(spark, s"$dir/state")
        .filter(col("row_kind") === "p").count()
      val frag = partials()
      RollupIndex.foldPartials(spark, dir)
      val folded = partials()
      println(s"[scale] rollup fold: $frag partial rows -> $folded ($keysN keys)")
      if (folded != keysN) {
        bad += 1
        println(s"[scale] FAIL fold must leave one partial row per key: $folded != $keysN")
      }
      if (RollupIndex.read(spark, dir).count() != keysN) {
        bad += 1
        println("[scale] FAIL fold changed the presented rollup")
      }
    }

    // Admission loop END TO END (round-10): the per-op lenses pin each
    // stage (HTML extract scan-shaped, dedup serve capped, registry
    // broadcast, rollup bucket-pruned) but none can see an accidental
    // index-proportional or batch-superlinear term the COMPOSITION
    // introduces. Drive the full 7-stage loop (extract → mojibake →
    // NFC → quality → DSIR → decontaminate → dedup-serve-admit-extend)
    // and pin per-batch wall time (a) flat in INDEX size — admitting B
    // docs against a 10×-bigger committed index must not cost ~10×
    // (serve is the capped probe join; extend touches the delta's
    // buckets) — and (b) scan-shaped in BATCH size — 8× the docs may
    // cost ~8×, never quadratic. Same contended-box hygiene as the
    // bpeTrain lens.
    if (names.contains("admission_loop") || names == defaultQueries) {
      import graft.operators.{DedupIndex, Dsir, EvalRegistry, Html}
      import graft.streaming.EventStream
      GraftCache.releaseAll(spark)
      val docs = sources.Tables.documents(spark, out)
      val nCorpus = docs.count()
      val lr = Array.fill(Dsir.NumBuckets)(Dsir.Scale)
      val work = java.nio.file.Files.createTempDirectory("graft-scale-admit").toString
      EvalRegistry.register(
        docs.filter(pmod(col("doc_id"), lit(997L)) === 0L)
          .select(col("doc_id"), col("text")),
        s"$work/registry")
      def buildIndex(tag: String, corpus: org.apache.spark.sql.DataFrame): String = {
        val p = s"$work/ix_$tag"
        DedupIndex.build(corpus.select("doc_id", "text"), p)
        p
      }
      // a 1/10 slice vs the whole scaled corpus: a genuine 10× index gap
      val ixSmall = buildIndex("small",
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0L))
      val ixBig = buildIndex("big", docs)
      // NOVEL batch docs that pass every gate — three stopwords (length
      // + stopword + word-len rules) INTERLEAVED with five doc-unique
      // salted words, so every 3-token shingle carries a salted token
      // and no two docs (nor any corpus doc) share a single shingle:
      // dedup classifies `new` and the ADMIT + EXTEND stages genuinely
      // run. (The earlier drafts got this wrong twice: corpus near-dups
      // timed only the reject path, and a shared "the and for" PREFIX
      // trigram let the one common shingle win enough minhashes to
      // near-match ~1% of docs against prior batches' admissions.)
      // Distinct id base + salt per call so no batch collides with a
      // prior call's admissions.
      def batchOf(n: Long, base: Long, salt: String): org.apache.spark.sql.DataFrame = {
        def w(i: Int) = s"concat('nv$salt', CAST(id AS STRING), 'x', '$i')"
        spark.range(0L, n, 1L, 32).select(
          (col("id") + base).as("doc_id"),
          expr(s"concat_ws(' ', 'the', ${w(0)}, 'and', ${w(1)}, 'for', " +
            s"${w(2)}, ${w(3)}, ${w(4)})").as("text"))
          .select(col("doc_id"), Html.plantedHtml.as("html"))
      }
      def admit(ix: String, batch: org.apache.spark.sql.DataFrame,
                id: Long): (Double, Long, Long) = {
        val nIn = batch.count() // materialize inputs outside the timer
        val outP = s"$work/out_${ix.split('_').last}_$id"
        val t0 = System.nanoTime()
        EventStream.curationAdmitBatch(batch, id, ix, lr, 0L, outP,
          registryPath = Some(s"$work/registry"))
        val sec = (System.nanoTime() - t0) / 1e9
        // zero admissions never write outP — the exact case the count
        // exists to FLAG, so it must read as 0, not crash the audit
        val admitted =
          if (new java.io.File(outP).exists()) spark.read.parquet(outP).count()
          else 0L
        (sec, nIn, admitted)
      }
      // clamp so the 8x batch is genuinely 8x (never corpus-capped)
      val b = math.max(math.min(nCorpus / 8L, 500L), nCorpus / 25L)
      // warm both paths once (JIT + codegen), then measure
      admit(ixSmall, batchOf(b, 5000000L, "w0"), 100L)
      val (tSmallIx, n1, a1) = admit(ixSmall, batchOf(b, 6000000L, "m1"), 101L)
      admit(ixBig, batchOf(b, 7000000L, "w1"), 200L)
      val (tBigIx, n2, a2) = admit(ixBig, batchOf(b, 8000000L, "m2"), 201L)
      val (tBigBatch, n3, a3) = admit(ixBig, batchOf(8L * b, 9000000L, "m3"), 202L)
      println(f"[scale] admission loop: B=$b%d  small-ix $tSmallIx%.2fs  " +
        f"big-ix $tBigIx%.2fs  8B-big-ix $tBigBatch%.2fs  " +
        f"admitted $a1%d/$n1%d $a2%d/$n2%d $a3%d/$n3%d")
      if (a1 != n1 || a2 != n2 || a3 != n3) {
        bad += 1
        println(s"[scale] FAIL admission lens: novel docs not fully admitted " +
          s"($a1/$n1, $a2/$n2, $a3/$n3) — the lens is no longer timing the admit/extend path")
      }
      loadFlag(tBigIx > math.max(3.0 * tSmallIx, tSmallIx + 10.0),
        f"admission batch cost grew with INDEX size: $tSmallIx%.2fs -> $tBigIx%.2fs")
      loadFlag(tBigBatch > math.max(16.0 * tBigIx, tBigIx + 30.0),
        f"admission batch cost superlinear in BATCH size: $tBigIx%.2fs -> $tBigBatch%.2fs for 8x docs")
    }

    // MEDIA admission loop (round-11): same composition hazard as the
    // text loop — the per-op lenses pin the probe join and the keyed
    // extend, but only driving mediaAdmitBatch end to end can see an
    // accidental index-proportional term. Pin per-batch wall time flat
    // in INDEX size (10× more committed fingerprints, ~same batch cost)
    // and scan-shaped in BATCH size. Novel payloads come from a
    // FULL-id-keyed pixel hash (the synthetic imageCorpus keys pixels
    // off doc_id % 50, so its content space saturates at 50 families —
    // a big index built from it would near-match EVERY arrival and the
    // lens would time only the reject path).
    if (names.contains("media_admission_loop") || names == defaultQueries) {
      import graft.operators.{ImageDedup, MediaIndex}
      import graft.streaming.EventStream
      GraftCache.releaseAll(spark)
      val work = java.nio.file.Files.createTempDirectory("graft-scale-media").toString
      val dim = ImageDedup.ImgDim
      def novelImages(from: Long, n: Long): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("media_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
        spark.range(from, from + n, 1L, 32).toDF("media_id")
          .mapPartitions { rows =>
            val md = java.security.MessageDigest.getInstance("MD5")
            rows.map { r =>
              val id = r.getLong(0)
              val img = new java.awt.image.BufferedImage(
                dim, dim, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < dim) {
                var x = 0
                while (x < dim) {
                  // full-id key: every media id is an independent random
                  // image — expected pairwise Hamming ~32, far above the
                  // ≤10 match bar, so arrivals are genuinely novel
                  md.reset()
                  val v = md.digest(
                    s"scl_${id}_${x}_$y".getBytes("UTF-8"))(0) & 0xff
                  img.setRGB(x, y, (v << 16) | (v << 8) | v)
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              org.apache.spark.sql.Row(id, bos.toByteArray)
            }
          }(enc)
      }
      def buildIx(tag: String, from: Long, n: Long): String = {
        val p = s"$work/mix_$tag"
        MediaIndex.buildImages(
          novelImages(from, n).withColumnRenamed("media_id", "doc_id"), p)
        p
      }
      val ixSmall = buildIx("small", 10000000L, 400L)
      val ixBig = buildIx("big", 20000000L, 4000L)
      def admit(ix: String, from: Long, n: Long, id: Long): (Double, Long, Long) = {
        // persist + count BEFORE the timer, or the count would discard
        // the synthesized PNGs and the timed admit would re-pay the
        // whole MD5+ImageIO synthesis — an index-independent constant
        // fat enough to hide a real index-proportional regression
        // behind the 3x gate
        val batch = novelImages(from, n).persist()
        val nIn = batch.count()
        val outP = s"$work/mout_${ix.split('_').last}_$id"
        val t0 = System.nanoTime()
        EventStream.mediaAdmitBatch(batch, id, ix, outP, "img")
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        val admitted =
          if (new java.io.File(outP).exists()) spark.read.parquet(outP).count()
          else 0L
        (sec, nIn, admitted)
      }
      val b = 200L
      admit(ixSmall, 30000000L, b, 100L) // warm (JIT + codegen)
      val (tSmallIx, n1, a1) = admit(ixSmall, 31000000L, b, 101L)
      admit(ixBig, 32000000L, b, 200L)
      val (tBigIx, n2, a2) = admit(ixBig, 33000000L, b, 201L)
      val (tBigBatch, n3, a3) = admit(ixBig, 34000000L, 8L * b, 202L)
      println(f"[scale] media admission loop: B=$b%d  small-ix $tSmallIx%.2fs  " +
        f"big-ix $tBigIx%.2fs  8B-big-ix $tBigBatch%.2fs  " +
        f"admitted $a1%d/$n1%d $a2%d/$n2%d $a3%d/$n3%d")
      if (a1 != n1 || a2 != n2 || a3 != n3) {
        bad += 1
        println(s"[scale] FAIL media admission lens: novel payloads not fully " +
          s"admitted ($a1/$n1, $a2/$n2, $a3/$n3) — the lens is no longer timing " +
          "the admit/extend path")
      }
      loadFlag(tBigIx > math.max(3.0 * tSmallIx, tSmallIx + 10.0),
        f"media admission batch cost grew with INDEX size: $tSmallIx%.2fs -> $tBigIx%.2fs")
      loadFlag(tBigBatch > math.max(16.0 * tBigIx, tBigIx + 30.0),
        f"media admission batch cost superlinear in BATCH size: $tBigIx%.2fs -> $tBigBatch%.2fs for 8x payloads")
    }

    // EMBEDDING admission loop end to end (round-11, the media lens's
    // sibling over AnnIndex): pin per-batch wall time flat in INDEX
    // size and scan-shaped in BATCH size. Vectors are full-id-keyed
    // deterministic pseudo-random floats (salted per corpus so small
    // index, big index and arrivals occupy independent content), so
    // arrivals are genuinely novel — up to the PQ sketch's resolution:
    // a random arrival can legitimately land on a committed code tuple
    // (16^(1+PqM) cells), so the lens tolerates a small collision-
    // reject rate instead of requiring 100% admission.
    if (names.contains("embedding_admission_loop") || names == defaultQueries) {
      import graft.operators.AnnIndex
      import graft.streaming.EventStream
      GraftCache.releaseAll(spark)
      val work = java.nio.file.Files.createTempDirectory("graft-scale-embadmit").toString
      def synth(salt: Int, from: Long, n: Long): org.apache.spark.sql.DataFrame =
        spark.range(from, from + n, 1L, 32).toDF("vec_id")
          .select(col("vec_id"),
            transform(sequence(lit(0), lit(63)),
              j => ((pmod(hash(lit(salt), col("vec_id"), j), lit(1000)) - lit(500))
                .cast("float") / lit(250.0f))).as("embedding"))
      def buildIx(tag: String, salt: Int, n: Long): String = {
        val p = s"$work/eix_$tag"
        AnnIndex.build(synth(salt, 0L, n), p) // ids 0.. so k-means init has its seed rows
        p
      }
      val ixSmall = buildIx("small", 11, 400L)
      val ixBig = buildIx("big", 22, 4000L)
      def admit(ix: String, salt: Int, from: Long, n: Long, id: Long): (Double, Long, Long) = {
        // persist + count BEFORE the timer (the media lens rule): the
        // timed section must be the admit/extend path, not synthesis
        val batch = synth(salt, from, n).persist()
        val nIn = batch.count()
        val outP = s"$work/eout_${ix.split('_').last}_$id"
        val t0 = System.nanoTime()
        EventStream.embeddingAdmitBatch(batch, id, ix, outP, tau = 2.0)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        val admitted =
          if (new java.io.File(outP).exists()) spark.read.parquet(outP).count()
          else 0L
        (sec, nIn, admitted)
      }
      val b = 200L
      admit(ixSmall, 33, 30000000L, b, 100L) // warm (JIT + codegen)
      val (tSmallIx, n1, a1) = admit(ixSmall, 34, 31000000L, b, 101L)
      admit(ixBig, 35, 32000000L, b, 200L)
      val (tBigIx, n2, a2) = admit(ixBig, 36, 33000000L, b, 201L)
      val (tBigBatch, n3, a3) = admit(ixBig, 37, 34000000L, 8L * b, 202L)
      println(f"[scale] embedding admission loop: B=$b%d  small-ix $tSmallIx%.2fs  " +
        f"big-ix $tBigIx%.2fs  8B-big-ix $tBigBatch%.2fs  " +
        f"admitted $a1%d/$n1%d $a2%d/$n2%d $a3%d/$n3%d")
      if (a1 * 10 < n1 * 9 || a2 * 10 < n2 * 9 || a3 * 10 < n3 * 9) {
        bad += 1
        println(s"[scale] FAIL embedding admission lens: too few novel vectors " +
          s"admitted ($a1/$n1, $a2/$n2, $a3/$n3) — beyond sketch-resolution " +
          "collisions; the lens is no longer timing the admit/extend path")
      }
      loadFlag(tBigIx > math.max(3.0 * tSmallIx, tSmallIx + 10.0),
        f"embedding admission batch cost grew with INDEX size: $tSmallIx%.2fs -> $tBigIx%.2fs")
      loadFlag(tBigBatch > math.max(16.0 * tBigIx, tBigIx + 30.0),
        f"embedding admission batch cost superlinear in BATCH size: $tBigIx%.2fs -> $tBigBatch%.2fs for 8x payloads")

      // EXACT-RESCORE leg (r11): IndexRefine-split indexes, the measured
      // exact tau, and near-dup verdicts — the rescore join must stay
      // flat in index size (probe side batch-sized and broadcast; the
      // co-routed candidate stream is the same one the ADC pass scans),
      // and an ADC-invisible planted near-dup must be REJECTED at scale.
      def buildIxV(tag: String, salt: Int, n: Long): String = {
        val p = s"$work/eixv_$tag"
        AnnIndex.build(synth(salt, 0L, n), p, storeVectors = true)
        p
      }
      val ixSv = buildIxV("small", 44, 400L)
      val ixBv = buildIxV("big", 55, 4000L)
      val tauS = AnnIndex.commitAdmissionTau(spark, ixSv, exact = true)
      val tauB = AnnIndex.commitAdmissionTau(spark, ixBv, exact = true)
      def admitX(ix: String, tau: Double, ixSalt: Int, salt: Int, from: Long,
                 n: Long, id: Long): (Double, Long, Long, Boolean) = {
        // batch = n novel vectors + ONE near-dup of committed content
        // (index vector 7 with component 0 bumped 0.2 — cos ~0.9997,
        // routing-preserving, code-shifting)
        val ndId = from + n
        val batch = synth(salt, from, n).unionByName(
          synth(ixSalt, 7L, 1L).select(lit(ndId).as("vec_id"),
            expr("transform(embedding, (x, i) -> IF(i = 0, CAST(x + 0.2 AS FLOAT), x))")
              .as("embedding"))).persist()
        val nIn = batch.count()
        val outP = s"$work/exout_${ix.split('_').last}_$id"
        val t0 = System.nanoTime()
        EventStream.embeddingAdmitBatch(batch, id, ix, outP, tau = tau,
          exactRescore = true)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        val admittedIds =
          if (new java.io.File(outP).exists())
            spark.read.parquet(outP).select("vec_id").collect()
              .map(_.getLong(0)).toSet
          else Set.empty[Long]
        (sec, nIn - 1L, admittedIds.size.toLong, !admittedIds.contains(ndId))
      }
      admitX(ixSv, tauS, 44, 66, 40000000L, b, 300L) // warm
      val (xSmall, xn1, xa1, rej1) = admitX(ixSv, tauS, 44, 67, 41000000L, b, 301L)
      admitX(ixBv, tauB, 55, 68, 42000000L, b, 400L)
      val (xBig, xn2, xa2, rej2) = admitX(ixBv, tauB, 55, 69, 43000000L, b, 401L)
      println(f"[scale] exact-rescore admission: B=$b%d  small-ix $xSmall%.2fs  " +
        f"big-ix $xBig%.2fs  admitted $xa1%d/~$xn1%d $xa2%d/~$xn2%d  " +
        f"taus $tauS%.3f/$tauB%.3f  near-dup rejected $rej1%b/$rej2%b")
      if (!rej1 || !rej2) {
        bad += 1
        println("[scale] FAIL exact-rescore lens: a planted near-dup of " +
          "committed content was ADMITTED — the exact verdict lost recall at scale")
      }
      if (xa1 * 10 < xn1 * 9 || xa2 * 10 < xn2 * 9) {
        bad += 1
        println(s"[scale] FAIL exact-rescore lens: too few novel vectors " +
          s"admitted ($xa1/$xn1, $xa2/$xn2) — the exact rule is over-rejecting")
      }
      loadFlag(xBig > math.max(3.0 * xSmall, xSmall + 10.0),
        f"exact-rescore admission cost grew with INDEX size: $xSmall%.2fs -> $xBig%.2fs")
    }

    // SEMANTIC admission loop end to end (round-12 — C44c's lens, the
    // embedding/exact-rescore legs' sibling through
    // AnnIndex.semDedupServe): pin per-batch wall time flat in
    // committed-index size, a planted SEMANTIC dup (co-clustered,
    // exact cos >= tau of committed content) REJECTED, novel content
    // admitted. The gate rescores exactly (vectors sub-table), so the
    // planted copy's verdict is deterministic — no sketch-resolution
    // tolerance needed on the dup itself; novel admission keeps the
    // embedding lens's 90% bar (a random arrival can't sit at
    // cos >= 0.99 of a 64-dim committed vector, but the shared bar
    // keeps the two lenses comparable).
    if (names.contains("semantic_admission_loop") || names == defaultQueries) {
      import graft.operators.AnnIndex
      import graft.streaming.EventStream
      GraftCache.releaseAll(spark)
      val work = java.nio.file.Files.createTempDirectory("graft-scale-semadmit").toString
      def synth(salt: Int, from: Long, n: Long): org.apache.spark.sql.DataFrame =
        spark.range(from, from + n, 1L, 32).toDF("vec_id")
          .select(col("vec_id"),
            transform(sequence(lit(0), lit(63)),
              j => ((pmod(hash(lit(salt), col("vec_id"), j), lit(1000)) - lit(500))
                .cast("float") / lit(250.0f))).as("embedding"))
      def buildIx(tag: String, salt: Int, n: Long): String = {
        val p = s"$work/six_$tag"
        AnnIndex.build(synth(salt, 0L, n), p, storeVectors = true)
        p
      }
      val ixS = buildIx("small", 111, 400L)
      val ixB = buildIx("big", 222, 4000L)
      val tau = 0.99
      def admit(ix: String, ixSalt: Int, salt: Int, from: Long, n: Long,
                id: Long): (Double, Long, Long, Boolean) = {
        // batch = n novel vectors + ONE semantic dup of committed
        // index vector 7 (component 0 bumped 0.2 — co-clustered,
        // exact cos ~0.9997 >= tau, the exact-rescore lens's plant)
        val dupId = from + n
        val batch = synth(salt, from, n).unionByName(
          synth(ixSalt, 7L, 1L).select(lit(dupId).as("vec_id"),
            expr("transform(embedding, (x, i) -> IF(i = 0, CAST(x + 0.2 AS FLOAT), x))")
              .as("embedding"))).persist()
        batch.count()
        val outP = s"$work/sout_${ix.split('_').last}_$id"
        val t0 = System.nanoTime()
        EventStream.semDedupAdmitBatch(batch, id, ix, outP, tau)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        val admittedIds =
          if (new java.io.File(outP).exists())
            spark.read.parquet(outP).select("vec_id").collect()
              .map(_.getLong(0)).toSet
          else Set.empty[Long]
        (sec, n, admittedIds.size.toLong, !admittedIds.contains(dupId))
      }
      val b = 200L
      admit(ixS, 111, 133, 50000000L, b, 500L) // warm (JIT + codegen)
      val (tS, sn1, sa1, srej1) = admit(ixS, 111, 134, 51000000L, b, 501L)
      admit(ixB, 222, 135, 52000000L, b, 600L)
      val (tB, sn2, sa2, srej2) = admit(ixB, 222, 136, 53000000L, b, 601L)
      val (tB8, sn3, sa3, srej3) = admit(ixB, 222, 137, 54000000L, 8L * b, 602L)
      println(f"[scale] semantic admission loop: B=$b%d  small-ix $tS%.2fs  " +
        f"big-ix $tB%.2fs  8B-big-ix $tB8%.2fs  " +
        f"admitted $sa1%d/~$sn1%d $sa2%d/~$sn2%d $sa3%d/~$sn3%d  " +
        f"dup rejected $srej1%b/$srej2%b/$srej3%b")
      if (!srej1 || !srej2 || !srej3) {
        bad += 1
        println("[scale] FAIL semantic admission lens: a planted co-clustered " +
          "semantic dup of committed content was ADMITTED — the gate lost " +
          "recall at scale")
      }
      if (sa1 * 10 < sn1 * 9 || sa2 * 10 < sn2 * 9 || sa3 * 10 < sn3 * 9) {
        bad += 1
        println(s"[scale] FAIL semantic admission lens: too few novel vectors " +
          s"admitted ($sa1/$sn1, $sa2/$sn2, $sa3/$sn3) — the gate is over-rejecting")
      }
      loadFlag(tB > math.max(3.0 * tS, tS + 10.0),
        f"semantic admission batch cost grew with INDEX size: $tS%.2fs -> $tB%.2fs")
      loadFlag(tB8 > math.max(16.0 * tB, tB + 30.0),
        f"semantic admission batch cost superlinear in BATCH size: $tB%.2fs -> $tB8%.2fs for 8x payloads")
    }

    // Hot-key lens for the two round-11 de-windows (C1 dedupExact, A1
    // upsertLatest): plant a boilerplate doc duplicated 10⁶× and a bot
    // user with 10⁶ events — the EXACT skew the old per-key windows
    // funneled into one unsplittable task — and pin wall time at
    // scan-growth, not sort-growth. Map-side partial aggregation must
    // absorb the hot group (each task emits ONE partial row for it), so
    // the hot run costs the extra SCAN of 10⁶ short rows, never a
    // single-task 10⁶-row sort. This lens is the one that would have
    // caught both items rounds ago.
    if (names.contains("hotkey_dewindow") || names == defaultQueries) {
      import graft.operators.{Reference, TextOps}
      GraftCache.releaseAll(spark)
      val hotN = 1000000L
      val docs = sources.Tables.documents(spark, out)
        .select("doc_id", "text")
      val hotDocs = docs.unionAll(
        spark.range(0L, hotN, 1L, 32).select(
          (col("id") + 50000000L).as("doc_id"),
          lit("cookie banner accept all cookies to continue").as("text")))
      val events = sources.Tables.events(spark, out)
        .select("user_id", "event_id", "event_type", "value", "ts")
      val hotEvents = events.unionAll(
        spark.range(0L, hotN, 1L, 32).select(
          lit(77777777L).as("user_id"),
          (col("id") + 60000000L).as("event_id"),
          lit("click").as("event_type"),
          (col("id") % 100L).cast("double").as("value"),
          timestamp_micros(lit(1700000000000000L) + col("id")).as("ts")))
      def time(df: => org.apache.spark.sql.DataFrame): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = df.count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (tBaseD, _) = time(TextOps.dedupExact(docs))
      val (tHotD, nHotD) = time(TextOps.dedupExact(hotDocs))
      val keeper = TextOps.dedupExact(hotDocs)
        .filter(col("doc_id") >= 50000000L).agg(
          min("keeper_id").cast("long"), max("keeper_id").cast("long"),
          sum(when(col("is_dup"), 0L).otherwise(1L))).head()
      println(f"[scale] hotkey dedupExact: base $tBaseD%.2fs  +10^6-dup $tHotD%.2fs  rows=$nHotD")
      if (keeper.getLong(0) != 50000000L || keeper.getLong(1) != 50000000L ||
          keeper.getLong(2) != 1L) {
        bad += 1
        println(s"[scale] FAIL hotkey dedupExact: hot group keeper wrong ($keeper)")
      }
      loadFlag(tHotD > math.max(4.0 * tBaseD, tBaseD + 20.0),
        f"dedupExact hot fingerprint not absorbed by partials: $tBaseD%.2fs -> $tHotD%.2fs")
      val (tBaseU, _) = time(Reference.upsertLatest(events))
      val (tHotU, _) = time(Reference.upsertLatest(hotEvents))
      val botRow = Reference.upsertLatest(hotEvents)
        .filter(col("user_id") === 77777777L).head()
      println(f"[scale] hotkey upsertLatest: base $tBaseU%.2fs  +10^6-event user $tHotU%.2fs")
      if (botRow.getAs[Long]("last_event_id") != 60000000L + hotN - 1L) {
        bad += 1
        println(s"[scale] FAIL hotkey upsertLatest: bot user's latest row wrong ($botRow)")
      }
      loadFlag(tHotU > math.max(4.0 * tBaseU, tBaseU + 20.0),
        f"upsertLatest hot user not absorbed by partials: $tBaseU%.2fs -> $tHotU%.2fs")
    }

    // TAKEDOWN compliance job (r13): the kill-point sweep covers
    // crash-replay; this lens pins the SCALE shape — wall time and
    // rewrite footprint proportional to TOUCHED BUCKETS, never to index
    // size. Two observables: (a) the same 2-doc retract rewrites the
    // IDENTICAL bucket-dir count on a 1/10 index and the full index
    // (structural — the receipts' `rewritten` is the bucket-prune
    // contract made queryable), and (b) on the big index a 2-doc
    // retract costs well under an all-buckets-touched retract (timing —
    // the contract's payoff). Retracted slots re-open at the next serve.
    if (names.contains("takedown_loop") || names == defaultQueries) {
      import graft.operators.DedupIndex
      GraftCache.releaseAll(spark)
      val docs = sources.Tables.documents(spark, out).select("doc_id", "text")
      val work = java.nio.file.Files.createTempDirectory("graft-scale-takedown").toString
      val ixSmall = s"$work/ix_small"; val ixBig = s"$work/ix_big"
      DedupIndex.build(docs.filter(pmod(col("doc_id"), lit(10L)) === 0L), ixSmall)
      DedupIndex.build(docs, ixBig)
      def timeRetract(path: String, ids: Seq[Long]) = {
        val t0 = System.nanoTime()
        val rs = DedupIndex.retract(spark, path, ids)
        ((System.nanoTime() - t0) / 1e9, rs)
      }
      // warm the retract path (JIT + codegen) with a disjoint id
      timeRetract(ixBig, Seq(30L))
      val fewIds = Seq(20L, 40L) // multiples of 10: present in BOTH indexes
      val (tFewSmall, rSmall) = timeRetract(ixSmall, fewIds)
      val (tFewBig, rBig) = timeRetract(ixBig, fewIds)
      def footprint(rs: Seq[graft.operators.TakedownReceipt]) =
        rs.map(r => (r.subTable, r.pruned, r.bucketsRewritten)).sortBy(_._1)
      if (footprint(rSmall) != footprint(rBig)) {
        bad += 1
        println("[scale] FAIL takedown lens: the same 2-doc retract rewrote " +
          s"different bucket footprints on the 1/10 vs full index — " +
          s"${footprint(rSmall)} vs ${footprint(rBig)} (bucket pruning broke)")
      }
      // an all-buckets retract: ids spread across the hash space
      val manyIds = docs.filter(pmod(col("doc_id"), lit(7L)) === 1L)
        .select("doc_id").limit(200).collect().map(_.getLong(0)).toSeq
      val (tMany, rMany) = timeRetract(ixBig, manyIds)
      println(f"[scale] takedown loop: 2-doc small-ix $tFewSmall%.2fs  " +
        f"2-doc big-ix $tFewBig%.2fs  ${manyIds.size}%d-doc big-ix $tMany%.2fs  " +
        s"footprints few=${footprint(rBig).map(_._3).sum} " +
        s"many=${footprint(rMany).map(_._3).sum}")
      // a retracted doc's slot re-opens: the next serve draws `new`
      val reopened = DedupIndex.serve(
        docs.filter(col("doc_id") === 20L)
          .select((col("doc_id") + 77000000L).as("doc_id"), col("text")),
        ixBig).head().getString(1)
      if (reopened != "new") {
        bad += 1
        println(s"[scale] FAIL takedown lens: retracted content still served as '$reopened'")
      }
      loadFlag(tFewBig > math.max(0.7 * tMany, tMany - 10.0),
        f"2-doc takedown costs like an all-buckets rewrite: $tFewBig%.2fs vs $tMany%.2fs")
    }

    // RETRO-decontamination backfill (r13): CorpusSpec's kill-point
    // sweep covers crash-replay; this lens pins the SCALE shape on the
    // mult× corpus. Three observables: (a) PRECISION at scale — the
    // sweep over the whole scaled corpus hits EXACTLY the planted
    // paraphrases (a detection lens whose false-positive rate grows
    // with the corpus would mass-retract at 100 TB); (b) the takedown
    // tail is HIT-bounded — job wall stays within a small factor of the
    // detection-only wall (detection is the corpus-proportional part by
    // design; tombstone + retract are takedown-request-sized); (c)
    // replay determinism — the same jobId re-derives the identical
    // report (the RAW-corpus detection contract) and the ledger holds.
    if (names.contains("retro_decon_loop") || names == defaultQueries) {
      import graft.operators.{Corpus, DedupIndex, EvalRegistry}
      GraftCache.releaseAll(spark)
      import spark.implicits._
      val work = java.nio.file.Files.createTempDirectory("graft-scale-retro").toString
      val docs = sources.Tables.documents(spark, out).select("doc_id", "text")
      // catalog-sized bench suite with salted tokens (disjoint from the
      // corpus vocabulary: zero background trigram overlap by design)
      val bench = spark.range(1, 41)
        .select((col("id") * 10000000L + 7L).as("doc_id"),
          expr("array_join(transform(sequence(1, 30), " +
            "i -> concat('rbench', CAST(id AS STRING), 'tok', CAST(i AS STRING))), ' ')")
            .as("text"))
      EvalRegistry.register(bench, s"$work/registry")
      EvalRegistry.registerNear(bench, s"$work/registry")
      // the corpus: the full scaled documents table + 3 PARAPHRASED
      // bench docs (the exact-only-era leak the retro sweep exists for).
      // Paraphrase ids are Long.MaxValue − bench_id — clearly outside any
      // scaled corpus's id range — and the three bench docs are picked by
      // an EXPLICIT filter on the lowest bench ids, not an unordered
      // limit(3): at very large mult factors a corpus doc_id could reach
      // the old +1 ids and dropDuplicates("doc_id") in detection would
      // arbitrarily mask a planted paraphrase (r13 advice).
      val para = bench.filter(col("doc_id") <= 3L * 10000000L + 7L)
        .select((lit(Long.MaxValue) - col("doc_id")).as("doc_id"),
          EvalRegistry.paraphrase.as("text")).persist()
      val paraIds = para.select("doc_id").collect().map(_.getLong(0)).toSet
      val cp = s"$work/corpus"
      docs.unionByName(para).write.mode("append").parquet(cp)
      DedupIndex.build(
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0L).unionByName(para),
        s"$work/index")
      // detection-only wall: the corpus-proportional floor
      val t0 = System.nanoTime()
      val det = EvalRegistry.retroVerdicts(
        spark.read.parquet(cp).select("doc_id", "text").dropDuplicates("doc_id"),
        EvalRegistry.load(spark, s"$work/registry"),
        Some(EvalRegistry.loadNear(spark, s"$work/registry")))
        .filter(col("kind") =!= "clean").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val tDet = (System.nanoTime() - t0) / 1e9
      if (det != paraIds) {
        bad += 1
        println("[scale] FAIL retro lens: detection at scale is not exact — " +
          s"expected hits $paraIds, got ${det.size} " +
          s"(false positives/negatives grow with the corpus)")
      }
      val t1 = System.nanoTime()
      val rep = Corpus.retroDecontaminate(spark, cp, s"$work/registry",
        "scale-retro", indexPath = Some(s"$work/index"),
        logPath = Some(s"$work/tdlog"), asOfUs = 1L)
      val tJob = (System.nanoTime() - t1) / 1e9
      if (rep.tombstoned != 3L || rep.exactHits != 0L || rep.nearHits != 3L) {
        bad += 1
        println(s"[scale] FAIL retro lens: job verdicts drifted from the " +
          s"detection core: $rep")
      }
      val ledgerN = graft.operators.TakedownLog
        .read(spark, s"$work/tdlog").count()
      val rep2 = Corpus.retroDecontaminate(spark, cp, s"$work/registry",
        "scale-retro", indexPath = Some(s"$work/index"),
        logPath = Some(s"$work/tdlog"), asOfUs = 1L)
      if ((rep2.scanned, rep2.nearHits, rep2.tombstoned) !=
          (rep.scanned, rep.nearHits, rep.tombstoned) ||
        graft.operators.TakedownLog.read(spark, s"$work/tdlog").count() != ledgerN) {
        bad += 1
        println(s"[scale] FAIL retro lens: replay not deterministic — " +
          s"$rep2 vs $rep (or the ledger double-filed)")
      }
      para.unpersist()
      println(f"[scale] retro decon loop: detect $tDet%.2fs  job $tJob%.2fs  " +
        s"scanned ${rep.scanned} hits ${rep.tombstoned}")
      loadFlag(tJob > math.max(3.0 * tDet, tDet + 15.0),
        f"retro takedown tail not hit-bounded: job $tJob%.2fs vs detect $tDet%.2fs")
    }

    // Committed BPE vocab across many crawls (round-11): training from
    // the artifact must stay bounded by the MERGED vocab, not by how
    // many crawl deltas produced it. Commit the same corpus once as ONE
    // delta and once as 16 per-crawl slices; the merges must be
    // bit-identical all three ways (single / unfolded 16 / folded 16)
    // and the folded-16 train must cost ~the single-delta train (the
    // unfolded read legitimately pays |keys|×|deltas| partial rows —
    // that's what the fold cadence exists to bound).
    if (names.contains("bpe_vocab_loop") || names == defaultQueries) {
      import graft.operators.TextOps
      GraftCache.releaseAll(spark)
      val docs = sources.Tables.documents(spark, out).select("doc_id", "text")
      val work = java.nio.file.Files.createTempDirectory("graft-scale-bpevocab").toString
      val one = s"$work/one"
      val many = s"$work/many"
      TextOps.commitBpeVocab(docs, one, "all")
      val nCrawls = 16
      for (i <- 0 until nCrawls)
        TextOps.commitBpeVocab(
          docs.filter(pmod(col("doc_id"), lit(nCrawls.toLong)) === i.toLong),
          many, s"crawl-$i")
      def train(path: String): (Double, Seq[(Int, String, String)]) = {
        GraftCache.releaseAll(spark)
        val t0 = System.nanoTime()
        val m = TextOps.bpeTrainCommitted(spark, path, 16).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
        ((System.nanoTime() - t0) / 1e9, m)
      }
      val (tOne, mOne) = train(one)
      val (tUnfolded, mUnfolded) = train(many)
      TextOps.maintainBpeVocab(spark, many)
      val (tFolded, mFolded) = train(many)
      println(f"[scale] bpe vocab loop: 1-delta $tOne%.2fs  16-delta " +
        f"unfolded $tUnfolded%.2fs  folded $tFolded%.2fs  (${mOne.size}%d merges)")
      if (mOne != mUnfolded || mOne != mFolded) {
        bad += 1
        println("[scale] FAIL bpe vocab loop: merges drifted across " +
          "single/unfolded/folded artifact layouts")
      }
      loadFlag(tFolded > math.max(3.0 * tOne, tOne + 10.0),
        f"bpeTrainCommitted not flat in crawl count after fold: $tOne%.2fs -> $tFolded%.2fs")
      // BYTE mode (r13): the same committed vocab feeds the byte
      // trainer — identical merges across layouts and the same
      // flat-in-crawl-count bound on the folded artifact
      def trainB(path: String): (Double, Seq[(Int, String, String)]) = {
        GraftCache.releaseAll(spark)
        val t0 = System.nanoTime()
        val m = TextOps.bpeTrainBytesCommitted(spark, path, 16).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
        ((System.nanoTime() - t0) / 1e9, m)
      }
      val (tOneB, mOneB) = trainB(one)
      val (tFoldedB, mFoldedB) = trainB(many)
      println(f"[scale] bpe vocab loop (bytes): 1-delta $tOneB%.2fs  " +
        f"16-delta folded $tFoldedB%.2fs  (${mOneB.size}%d merges)")
      if (mOneB != mFoldedB) {
        bad += 1
        println("[scale] FAIL bpe vocab loop (bytes): merges drifted " +
          "across single/folded artifact layouts")
      }
      loadFlag(tFoldedB > math.max(3.0 * tOneB, tOneB + 10.0),
        f"bpeTrainBytesCommitted not flat in crawl count after fold: " +
          f"$tOneB%.2fs -> $tFoldedB%.2fs")
    }

    println(s"[scale] == $bad violations ==")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
