package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Write-side patterns for the 100 TB pipeline (SURVEY.md §2: sources &
  * sinks). The reference's sink is row-at-a-time psycopg2 INSERTs
  * (instagram_scraper.py:203, interest_analyzer.py:262); at scale the
  * equivalents are:
  *
  *  - date-partitioned parquet (partition pruning on read: a day's
  *    reprocess touches a day's files);
  *  - bucketed tables on the join key (co-located joins: downstream
  *    joins on the bucket key need NO shuffle — proven by SinksSpec
  *    asserting the absence of a shuffle exchange in the join plan);
  *  - compacted output (`coalesce` to target file counts — small-file
  *    storms kill object stores).
  */
object Sinks {

  /** Date-partitioned parquet sink: `path/day=YYYY-MM-DD/part-*.parquet`.
    * `repartition(col)` routes each day to one shuffle partition → one
    * file per day without serializing the write into a single task
    * (never `coalesce(1)` a partitioned write — it collapses the whole
    * job to one core).
    */
  def writePartitionedByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .repartition(col("day"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(path)

  /** Bucketed + sorted managed table: joins/aggregations on `key` read
    * co-located buckets and skip the shuffle entirely.
    */
  def writeBucketed(df: DataFrame, key: String, buckets: Int, table: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Read a partitioned sink back; predicate on `day` prunes partitions. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Latest-wins merge of base ∪ delta on `keys`, newest `versionCol`
    * first; on a version tie the delta row wins (the reference's
    * `ON CONFLICT DO UPDATE` takes the incoming row,
    * instagram_scraper.py:194-207).
    */
  private def latestWins(base: DataFrame, delta: DataFrame,
                         keys: Seq[String], versionCol: String): DataFrame = {
    // allowMissingColumns: ADDITIVE schema evolution — a delta carrying
    // a new column null-fills the base rows (and vice versa for a
    // column the delta dropped), the standard lakehouse contract.
    // VersionedTable records the union schema in each manifest and
    // reads every bucket dir with it.
    val all = base.withColumn("__src", lit(1))
      .unionByName(delta.withColumn("__src", lit(0)), allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src"))
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** MERGE-style sink: the reference's `INSERT … ON CONFLICT DO UPDATE`
    * (instagram_scraper.py:194-207) as a read-modify-write over a parquet
    * path. Reads the base (if any), keeps the newest row per key
    * (delta wins version ties), writes to a staging dir and swaps it in
    * with a filesystem rename — Spark cannot overwrite a path that feeds
    * the running plan. Single-writer batch semantics, like the
    * reference's one scraper process. For large partitioned tables use
    * [[mergeUpsertBucketed]], which rewrites only affected buckets.
    */
  def mergeUpsert(spark: SparkSession, path: String, delta: DataFrame,
                  keys: Seq[String], versionCol: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery FIRST: a prior run that died between the two swap
    // renames leaves the only full copy parked at __prev with no target.
    // Restore it before merging — otherwise this run would treat the
    // delta as the whole table and the cleanup below would delete the
    // parked copy, silently dropping every non-delta row.
    val prev = new Path(path + "__prev")
    if (fs.exists(prev) && !fs.exists(target) && !fs.rename(prev, target))
      throw new java.io.IOException(
        s"mergeUpsert: crash-recovery rename $prev -> $target failed; restore it manually")
    val merged =
      if (fs.exists(target))
        latestWins(spark.read.parquet(path), delta, keys, versionCol)
      else
        latestWins(delta.limit(0), delta, keys, versionCol) // dedupe delta itself
    val staging = new Path(path + "__staging")
    fs.delete(staging, true)
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // Crash-RECOVERABLE swap (not atomic): park the current table at
    // __prev, then move staging in. Concurrent readers do see a brief
    // no-target window between the two renames; a crash inside that
    // window leaves the data parked at __prev, which the recovery block
    // at the top of this method restores on the next run.
    fs.delete(prev, true)
    if (fs.exists(target) && !fs.rename(target, prev))
      throw new java.io.IOException(s"mergeUpsert: rename $target -> $prev failed")
    if (!fs.rename(staging, target)) {
      if (fs.exists(prev)) fs.rename(prev, target) // restore the old table
      throw new java.io.IOException(s"mergeUpsert: rename $staging -> $target failed")
    }
    fs.delete(prev, true)
  }

  /** Partition-scoped MERGE for big tables: rows live in
    * `bucket=<pmod(hash(keys), numBuckets)>` directories — a partition
    * key that is a pure function of the merge key, so an upserted row
    * can never leave stale copies in another partition. Only buckets
    * that the delta touches are read (partition-pruned scan), merged,
    * staged, and swapped in; untouched buckets are never rewritten. At
    * 100 TB this turns a full-table rewrite into
    * |delta buckets|/numBuckets of one.
    *
    * Failure contract: the per-bucket swap parks the old bucket under
    * `__prev` and restores it if the staging rename fails, so every
    * bucket is always readable — but the swap is atomic per BUCKET, not
    * per merge: a crash mid-loop leaves earlier touched buckets on the
    * new version and later ones on the old. The merge is idempotent
    * (latest-wins on the version column), so the recovery is simply to
    * re-run it: the re-run first restores any bucket a dying swap left
    * parked under `__prev`, so no committed row is ever lost.
    */
  def mergeUpsertBucketed(spark: SparkSession, path: String, delta: DataFrame,
                          keys: Seq[String], versionCol: String,
                          numBuckets: Int = 64): Unit = {
    val bucket = pmod(hash(keys.map(col): _*), lit(numBuckets))
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery FIRST: restore any bucket whose prior swap died
    // between park and staging-rename (parked copy exists, target bucket
    // missing). A parked bucket whose target EXISTS means that bucket's
    // swap completed — the parked copy is stale and safe to drop with
    // the rest of prevRoot.
    val prevRoot = new Path(path + "__prev")
    if (fs.exists(prevRoot)) {
      fs.listStatus(prevRoot).foreach { st =>
        val dst = new Path(target, st.getPath.getName)
        if (!fs.exists(dst) && !fs.rename(st.getPath, dst))
          throw new java.io.IOException(
            s"mergeUpsertBucketed: crash-recovery rename ${st.getPath} -> $dst failed; restore it manually")
      }
      fs.delete(prevRoot, true)
    }
    val deltaB = delta.withColumn("bucket", bucket)
    if (!fs.exists(target)) {
      latestWins(deltaB.limit(0), deltaB, keys, versionCol)
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
      return
    }
    // affected-bucket ids: bounded by numBuckets — partition metadata,
    // not data, so the driver-side collect is constant-size.
    val touched = deltaB.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    val baseSlice = spark.read.parquet(path)
      .filter(col("bucket").isin(touched.toIndexedSeq.map(Integer.valueOf): _*))
    val merged = latestWins(baseSlice, deltaB, keys, versionCol)
    val staging = new Path(path + "__staging")
    fs.delete(staging, true)
    merged.repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(staging.toString)
    // Same crash-recoverable swap as mergeUpsert, per bucket: the
    // current bucket dir is parked under __prev (outside the table root,
    // so partition discovery never sees it) before staging moves in; if
    // the staging rename fails, the parked dir is restored in-line, and
    // a crash between the renames is healed by the recovery block above
    // on the next run.
    fs.delete(prevRoot, true)
    fs.mkdirs(prevRoot)
    touched.foreach { b =>
      val src = new Path(staging, s"bucket=$b")
      val dst = new Path(target, s"bucket=$b")
      val parked = new Path(prevRoot, s"bucket=$b")
      if (fs.exists(dst) && !fs.rename(dst, parked))
        throw new java.io.IOException(s"mergeUpsertBucketed: rename $dst -> $prevRoot failed")
      if (fs.exists(src) && !fs.rename(src, dst)) {
        if (fs.exists(parked)) fs.rename(parked, dst) // restore the old bucket
        throw new java.io.IOException(s"mergeUpsertBucketed: rename $src -> $dst failed")
      }
    }
    fs.delete(staging, true)
    fs.delete(prevRoot, true)
  }

  // ---------------- manifest-commit versioned table (transactional MERGE) ----------------

  /** Minimal commit-log table format, the transactional answer to
    * [[mergeUpsertBucketed]]'s documented single-writer constraint (the
    * reference gets transactions for free from PostgreSQL —
    * instagram_scraper.py:203 `ON CONFLICT`; a 100 TB lakehouse table
    * needs a commit protocol instead). The layout:
    *
    * {{{
    * path/_commits/00000042.json   immutable manifest: version -> bucket dirs
    * path/data/v00000042-b0003-<uuid>/   immutable per-bucket parquet dirs
    * }}}
    *
    * A manifest is one JSON object with these fields, in this order:
    *  - `version`: the version it commits;
    *  - `numBuckets`: the bucket count the table was created with;
    *  - `bucketCols`: the columns the bucket id hashes (see
    *    [[mergeUpsert]]'s `bucketKeys`; absent on tables written before
    *    the field existed, whose contract is the merge keys);
    *  - `schema`: the table's schema at this version, as Spark's JSON
    *    form of a StructType. It is the previous version's schema with
    *    the new columns of the frame this commit wrote appended, the
    *    additive rule `latestWins`' `unionByName(allowMissingColumns)`
    *    applies; a same-name type conflict fails the commit. Every
    *    bucket-dir read ([[readBuckets]]) reads with it, so a bucket
    *    written before an additive change null-fills the newer columns
    *    and no read infers a schema from parquet footers;
    *  - `buckets`: bucket id -> data dir, relative to the table root.
    * A manifest without `schema` (written before the field existed) is
    * read with Spark's `mergeSchema` footer inference instead, and the
    * table's next commit records the inferred schema.
    *
    * Invariants, in the order that makes the protocol safe:
    *  1. data dirs are IMMUTABLE and uniquely named — written fully
    *     before any manifest references them, never modified after;
    *  2. a manifest is PUBLISHED ATOMICALLY as `_commits/<n>.json` via an
    *     atomic-exclusive create (POSIX `link(2)` of a fully-written temp
    *     file on local filesystems — link fails EEXIST if the version is
    *     taken; `FileSystem.create(overwrite = false)` elsewhere, which
    *     HDFS makes atomic at the namenode). Losing the race means
    *     another writer committed that version first;
    *  3. readers resolve the HIGHEST manifest and read only dirs it
    *     lists — so a read is always one complete committed snapshot:
    *     no torn reads, and old versions stay readable (time travel)
    *     until [[vacuumVersioned]] drops them;
    *  4. writers are OPTIMISTIC: merge against version n, attempt commit
    *     n+1, and on losing the race re-read the new latest and redo the
    *     merge (bounded retries) — the lost-update guard: a winner's rows
    *     are re-merged, never overwritten blind. Orphaned data dirs from
    *     lost races are invisible (no manifest references them) and are
    *     reclaimed by [[vacuumVersioned]].
    */
  object VersionedTable {
    private val CommitsDir = "_commits"
    private val DataDir = "data"

    /** Fault-injection seam for crash tests: invoked after an attempt
      * has moved its data dirs under data/ but BEFORE the manifest
      * publish — the widest window in which a dying writer has produced
      * bytes no reader may ever see. No-op in production; StreamingSpec
      * throws from it to prove the sink's replay converges and readers
      * never observe the torn version.
      */
    private[graft] var beforePublishHook: () => Unit = () => ()

    private def fsFor(spark: SparkSession, path: String) =
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** The one primitive a store must supply for a safe manifest commit:
      * atomically materialize `dst` with exactly the fully-written bytes
      * sitting at `tmp`, and return false — WITHOUT clobbering `dst` —
      * when the name is already taken. (Delta Lake's LogStore
      * "put-if-absent" contract.) Everything else in the commit protocol
      * — torn-manifest reclaim, optimistic retry, snapshot isolation —
      * is built on exactly this exclusivity.
      */
    trait ManifestCommitStore {
      def claim(fs: org.apache.hadoop.fs.FileSystem, tmp: Path, dst: Path): Boolean
    }

    /** POSIX link(2): fails EEXIST atomically and links the FULLY-
      * WRITTEN temp — the name never exposes partial bytes. (Hadoop's
      * local rename/create are NOT atomic-exclusive: File.renameTo
      * overwrites; create(false) is check-then-act.)
      */
    private object PosixLinkCommit extends ManifestCommitStore {
      def claim(fs: org.apache.hadoop.fs.FileSystem, tmp: Path, dst: Path): Boolean =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }

    /** HDFS-semantics rename: atomic at the namenode and FAILS if dst
      * exists — the classic commit primitive. ONLY correct on stores
      * with that contract (see [[commitStoreFor]]'s allowlist); on an
      * object store this same call is copy+delete last-writer-wins and
      * would silently clobber a concurrent writer's committed manifest.
      */
    private object AtomicRenameCommit extends ManifestCommitStore {
      def claim(fs: org.apache.hadoop.fs.FileSystem, tmp: Path, dst: Path): Boolean =
        fs.rename(tmp, dst)
    }

    private val commitStores =
      new java.util.concurrent.ConcurrentHashMap[String, ManifestCommitStore]()

    /** Register a conditional-put commit primitive for a filesystem
      * scheme outside the built-in allowlist — e.g. an S3
      * If-None-Match PUT, a GCS if-generation-match insert, or an
      * Azure ETag-guarded create. Overrides built-ins when present.
      */
    def registerCommitStore(scheme: String, store: ManifestCommitStore): Unit =
      commitStores.put(scheme.toLowerCase(java.util.Locale.ROOT), store)

    /** Resolve the commit primitive for a scheme. Allowlist, not
      * assume-HDFS: rename-fails-if-exists holds on hdfs/viewfs (and
      * local via link(2)), but s3a/gs/abfs/wasb/oss/cos renames are
      * copy+delete last-writer-wins — committing through them can
      * CLOBBER a concurrent writer's manifest (lost committed version,
      * the worst outcome a table format can produce). Those schemes are
      * refused loudly until a real conditional-put is registered.
      */
    private[graft] def commitStoreFor(scheme: String): ManifestCommitStore = {
      val s = if (scheme == null) "file" else scheme.toLowerCase(java.util.Locale.ROOT)
      val registered = commitStores.get(s)
      if (registered != null) registered
      else s match {
        case "file" => PosixLinkCommit
        case "hdfs" | "viewfs" => AtomicRenameCommit
        case other => throw new UnsupportedOperationException(
          s"VersionedTable: no atomic-exclusive commit primitive for scheme '$other'. " +
            "Its FileSystem rename is not fails-if-exists (object stores rename by " +
            "copy+delete, last-writer-wins), so committing through it could clobber a " +
            "concurrent writer's manifest. Register a conditional-put implementation " +
            "via Sinks.VersionedTable.registerCommitStore(scheme, store).")
      }
    }

    private def manifestName(v: Long): String = f"$v%08d.json"

    private def readUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8)
    }

    private def parseBuckets(txt: String): Map[Int, String] =
      "\"(\\d+)\":\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1).toInt -> m.group(2)).toMap

    private def parseNumBuckets(txt: String): Option[Int] =
      "\"numBuckets\":(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)

    private def parseBucketCols(txt: String): Option[Seq[String]] =
      "\"bucketCols\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
        .map(_.group(1).split(',').toIndexedSeq.filter(_.nonEmpty))

    private val SchemaKey = "\"schema\":"
    private val BucketsKey = "\"buckets\":{"

    /** One committed version's manifest, parsed from one body: the
      * bucket map, the bucket contract (`numBuckets` > 0 and non-empty
      * `bucketCols`, None when not recorded) and the recorded schema
      * (None on a manifest written before the field existed).
      */
    private[graft] final case class Manifest(version: Long,
                                             buckets: Map[Int, String],
                                             numBuckets: Option[Int],
                                             bucketCols: Option[Seq[String]],
                                             schema: Option[StructType]) {
      /** The recorded type of each of `cols`; None where the manifest
        * records no schema or the schema has no such column. */
      def typesOf(cols: Seq[String]): Seq[Option[DataType]] =
        cols.map(c => schema.flatMap(_.fields.find(_.name == c)).map(_.dataType))
    }

    /** The bucket id of each key tuple in `keys`, one value per entry
      * of `types` in order — what `pmod(hash(<bucket cols>), nb)`
      * gives those rows — computed on the driver with the writer's own
      * Catalyst expressions, `Pmod(Murmur3Hash(<literals>, 42), nb)`,
      * so no Spark job runs. hash() is TYPE-sensitive (hash(17: Int) !=
      * hash(17L)): each value is cast to its `types` entry, the table's
      * key column type, so a caller passing an Int for a BIGINT key
      * hashes exactly what the writer hashed; None keeps the value's
      * own type.
      */
    private[graft] def bucketsOf(nb: Int, types: Seq[Option[DataType]],
                                 keys: Seq[Seq[Any]]): Seq[Int] = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Murmur3Hash, Pmod}
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      keys.map { vals =>
        require(vals.length == types.length,
          s"VersionedTable.bucketsOf: ${vals.length} values for ${types.length} key columns")
        val lits = vals.zip(types).map { case (v, t) =>
          val l = Literal(v)
          t.filter(_ != l.dataType).fold[Expression](l)(Cast(l, _, tz))
        }
        Pmod(Murmur3Hash(lits, 42), Literal(nb)).eval().asInstanceOf[Int]
      }
    }

    /** What one logical rewrite ([[replaceBuckets]], [[replaceAll]])
      * committed, all from the attempt that won: the manifest it
      * folded, the rows of that snapshot's slice its `hit` predicate
      * matched, and the version and bucket map it published — `base`'s
      * when the rewrite was a no-op. */
    private[graft] final case class Rewrite(base: Manifest, found: Long,
                                            version: Long, buckets: Map[Int, String])

    /** The header fields sit before `schema` and the bucket map after
      * it, so neither parse can match inside the schema's JSON. (Only
      * [[vacuumVersioned]] parses a torn body: it keeps whatever bucket
      * entries the body holds.) */
    private def parseManifest(v: Long, txt: String): Manifest = {
      val bAt = txt.lastIndexOf(BucketsKey)
      val sAt = txt.indexOf(SchemaKey)
      val hasSchema = sAt >= 0 && bAt > sAt
      val head = txt.substring(0, if (hasSchema) sAt else if (bAt >= 0) bAt else txt.length)
      Manifest(v, parseBuckets(txt.substring(math.max(bAt, 0))),
        parseNumBuckets(head).filter(_ > 0),
        parseBucketCols(head).filter(_.nonEmpty),
        if (!hasSchema) None
        else Some(DataType.fromJson(txt.substring(sAt + SchemaKey.length, bAt - 1))
          .asInstanceOf[StructType]))
    }

    /** Structural completeness check for a manifest body. [[publish]]
      * never exposes a partially-written manifest on a correct
      * filesystem (full temp write + atomic link/rename), but a
      * misbehaving store or an out-of-band copy can still land a torn
      * file, and `parseBuckets` over partial JSON would silently yield a
      * partial bucket map — later merges would then base off it and drop
      * committed buckets from every subsequent manifest. So readers
      * require the version header AND the closing `}}` the writer always
      * emits, and [[latestManifest]] falls back past a torn newest
      * version to the latest intact one.
      */
    private[sources] def validManifest(txt: String): Boolean = {
      val t = txt.trim
      t.startsWith("{\"version\":") && t.endsWith("}}")
    }

    /** Manifest body for version `v`, or None if absent or torn. */
    private def manifestBody(fs: org.apache.hadoop.fs.FileSystem,
                             cdir: Path, v: Long): Option[String] = {
      val p = new Path(cdir, manifestName(v))
      if (!fs.exists(p)) None
      else Some(readUtf8(fs, p)).filter(validManifest)
    }

    /** Latest INTACT manifest's (version, raw body) — the single
      * metadata read every resolve-path shares, so a point lookup pays
      * one directory listing + one manifest read, not one per derived
      * field. A torn newest manifest (see [[validManifest]]) is
      * skipped, so a crashed writer can never make committed buckets
      * unreadable.
      */
    private def latestIntact(spark: SparkSession, path: String): Option[(Long, String)] =
      latestIntactIn(spark, path, CommitsDir)

    private def latestIntactIn(spark: SparkSession, path: String,
                               dirName: String): Option[(Long, String)] = {
      val fs = fsFor(spark, path)
      val cdir = new Path(path, dirName)
      if (!fs.exists(cdir)) return None
      fs.listStatus(cdir).flatMap { st =>
        val n = st.getPath.getName
        if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None
      }.sorted.reverseIterator
        .flatMap(v => manifestBody(fs, cdir, v).map(v -> _))
        .nextOption()
    }

    /** (version, bucket -> data dir relative to table root), or None for
      * an uninitialized table.
      */
    def latestManifest(spark: SparkSession, path: String): Option[(Long, Map[Int, String])] =
      latest(spark, path).map(m => (m.version, m.buckets))

    /** The latest intact manifest, parsed from one read of its body —
      * what a commit attempt bases itself on. None for an uninitialized
      * table.
      */
    private[graft] def latest(spark: SparkSession, path: String): Option[Manifest] =
      latestIntact(spark, path).map { case (v, txt) => parseManifest(v, txt) }

    /** Count of commit manifests currently on disk (intact or torn) —
      * the retention observable [[vacuumVersioned]] bounds. */
    def versionCount(spark: SparkSession, path: String): Long = {
      val fs = fsFor(spark, path)
      val cdir = new Path(path, CommitsDir)
      if (!fs.exists(cdir)) 0L
      else fs.listStatus(cdir).count { st =>
        val n = st.getPath.getName
        n.endsWith(".json") && n.stripSuffix(".json").toLongOption.isDefined
      }.toLong
    }

    /** True iff an INTACT manifest for version `v` exists at `path` —
      * the pinned-reader probe: a snapshot holder checks whether its
      * version survived [[vacuumVersioned]] before reading it, and
      * falls forward to the latest when it didn't.
      */
    def manifestExists(spark: SparkSession, path: String, v: Long): Boolean =
      manifestBody(fsFor(spark, path), new Path(path, CommitsDir), v).isDefined

    // ------------- cross-table root manifest (group commits) -------------
    //
    // A composite artifact (AnnIndex = codebooks + codes + vectors,
    // DedupIndex = fingerprints + signatures + bands, ...) commits each
    // sub-table as its own manifest transaction, so a reader racing a
    // multi-table mutation could see sub-table A's new version next to
    // B's old one — the "two-manifest window". The root manifest closes
    // it: ONE atomic commit at the artifact root pinning (sub-table ->
    // version) pairs, published through the exact claim primitive the
    // per-table manifests use. Readers resolve every sub-table through
    // the latest intact group; writers publish a new group only after
    // all sub-table commits land, so the pinned pair-set is always one
    // a mutator actually produced. The group dir is underscore-prefixed
    // ("_root_commits"), so [[discover]] still walks INTO the root and
    // finds the sub-tables — compact/vacuum keep operating per table.

    private val RootCommitsDir = "_root_commits"

    private def parseParts(txt: String): Map[String, Long] =
      "\"([^\"]+)\":(\\d+)".r.findAllMatchIn(
          txt.substring(txt.indexOf("\"parts\":")))
        .map(m => m.group(1) -> m.group(2).toLong).toMap

    /** Latest intact group manifest at `root`: (group version,
      * sub-table name -> pinned manifest version). None = the artifact
      * predates group commits (readers fall back to per-table latest).
      */
    def latestGroup(spark: SparkSession,
                    root: String): Option[(Long, Map[String, Long])] =
      latestIntactIn(spark, root, RootCommitsDir)
        .map { case (v, txt) => (v, parseParts(txt)) }

    /** A SPECIFIC intact group manifest's pin-set — the reproducible-
      * serving read: a job pinned to group version `v` resolves every
      * sub-table exactly as the moment that snapshot was published.
      * None when the version is absent or torn (group retention is
      * [[commitGroup]]'s `keep` budget — pin recent snapshots).
      */
    def groupAt(spark: SparkSession, root: String,
                v: Long): Option[Map[String, Long]] =
      manifestBody(fsFor(spark, root), new Path(root, RootCommitsDir), v)
        .map(parseParts)

    /** The newest `n` INTACT group manifests at `root`, newest first —
      * the retention observable behind `protectGroups`: a maintenance
      * sweep that must keep NAMED snapshots servable (not just the
      * latest) collects its per-table protect sets from this window.
      * Torn manifests are skipped without consuming budget.
      */
    def recentGroups(spark: SparkSession, root: String,
                     n: Int): Seq[(Long, Map[String, Long])] = {
      val fs = fsFor(spark, root)
      val cdir = new Path(root, RootCommitsDir)
      if (n <= 0 || !fs.exists(cdir)) return Seq.empty
      fs.listStatus(cdir).flatMap { st =>
        val nm = st.getPath.getName
        if (nm.endsWith(".json")) nm.stripSuffix(".json").toLongOption else None
      }.sorted.reverseIterator
        .flatMap(v => manifestBody(fs, cdir, v).map(v -> parseParts(_)))
        .take(n).toSeq
    }

    /** Atomically publish a cross-table snapshot at `root` pinning each
      * named sub-table (path-relative to the root) at the given manifest
      * version. Optimistic next-version protocol, same torn-occupant
      * reclaim as the per-table publish. Returns the group version won.
      *
      * Retention: group manifests are metadata-only (one small JSON per
      * mutation), but an admission loop commits one per batch — so the
      * winner prunes groups older than the newest `keep`. Readers only
      * ever resolve the LATEST intact group, so pruning history can
      * never strand one (unlike per-table manifests, where a pinned
      * group may still reference an old version — that is
      * [[vacuumVersioned]]'s `keep` budget, and readers fall forward
      * via [[manifestExists]] when it runs out).
      */
    def commitGroup(spark: SparkSession, root: String,
                    parts: Map[String, Long], maxRetries: Int = 20,
                    keep: Int = 64): Long =
      commitGroupWith(spark, root, maxRetries, keep)(_ => parts)

    /** Fault-injection seam for group-commit race tests: invoked after
      * an attempt has derived its parts but BEFORE the publish — the
      * window in which a concurrent mutator's snapshot can land first.
      * No-op in production.
      */
    private[graft] var beforeGroupPublishHook: () => Unit = () => ()

    /** [[commitGroup]] with the pin-set DERIVED PER ATTEMPT from the
      * current group (`mkParts` receives the latest intact group's
      * pins, or empty). This is the concurrent-mutator-safe form: a
      * writer that loses the version race re-derives its parts from a
      * state that INCLUDES the winner's snapshot, so it can never
      * overwrite the winner's refreshes with pins read before the race
      * — e.g. an extend's snapshot re-exposing the table versions a
      * concurrent retract just replaced (r11 review; the takedown case
      * is the one that matters).
      */
    def commitGroupWith(spark: SparkSession, root: String,
                        maxRetries: Int = 20, keep: Int = 64)
                       (mkParts: Map[String, Long] => Map[String, Long]): Long = {
      graft.FailPoint.reach(root) // kill-point sweep boundary (test seam)
      val fs = fsFor(spark, root)
      val cdir = new Path(root, RootCommitsDir)
      var attempt = 0
      while (true) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"VersionedTable.commitGroup: lost the commit race $maxRetries times at $root")
        val cur = latestGroup(spark, root)
        val v = cur.map(_._1 + 1).getOrElse(0L)
        val parts = mkParts(cur.map(_._2).getOrElse(Map.empty))
        require(parts.nonEmpty, "commitGroup: empty sub-table pin set")
        require(parts.values.forall(_ >= 0L),
          s"commitGroup: negative pinned version in $parts")
        val body = parts.toSeq.sorted
          .map { case (n, pv) => s""""$n":$pv""" }
          .mkString(s"""{"version":$v,"parts":{""", ",", "}}")
        beforeGroupPublishHook()
        if (atomicPublish(fs, cdir, v, body)) {
          fs.listStatus(cdir).foreach { st =>
            val n = st.getPath.getName
            n.stripSuffix(".json").toLongOption
              .filter(old => n.endsWith(".json") && old <= v - keep)
              .foreach(_ => fs.delete(st.getPath, false))
          }
          return v
        }
      }
      -1L // unreachable
    }

    /** Every composite-artifact ROOT under `root`: any directory owning
      * a `$RootCommitsDir` child with at least one intact group
      * manifest. Same driver-side catalog-sized walk as [[discover]];
      * an artifact root is recorded AND recursed into (its sub-tables
      * are what [[discover]] finds below it).
      */
    /** The ONE recursive directory walker behind [[discover]] and
      * [[discoverGroupRoots]] — `visit` records whatever the caller is
      * looking for and returns true to STOP recursing below (table
      * internals). The start path is QUALIFIED so recorded roots and
      * listStatus children (always fully-qualified) compose into
      * string-comparable paths — [[Artifacts.maintainAll]] keys its pin
      * map by exactly that equality, and a divergent duplicate walker
      * here once silently disabled pin protection (r11 review).
      */
    private def walkDirs(spark: SparkSession, root: String, maxDepth: Int)
                        (visit: Path => Boolean): Unit = {
      val fs = fsFor(spark, root)
      val rp = fs.makeQualified(new Path(root))
      if (!fs.exists(rp)) return
      def walk(p: Path, depth: Int): Unit = {
        if (visit(p) || depth >= maxDepth) return
        val kids =
          try fs.listStatus(p)
          catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
        kids.filter(_.isDirectory)
          .filterNot(_.getPath.getName.startsWith("_"))
          .foreach(k => walk(k.getPath, depth + 1))
      }
      walk(rp, 0)
    }

    /** Every composite-artifact ROOT under `root`: any directory owning
      * a `$RootCommitsDir` child with at least one intact group
      * manifest. An artifact root is recorded AND recursed into (its
      * sub-tables are what [[discover]] finds below it); the walk still
      * stops at per-table commits dirs.
      */
    def discoverGroupRoots(spark: SparkSession, root: String,
                           maxDepth: Int = 8): Seq[String] = {
      val fs = fsFor(spark, root)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      walkDirs(spark, root, maxDepth) { p =>
        if (fs.exists(new Path(p, RootCommitsDir)) &&
            latestGroup(spark, p.toString).isDefined)
          out += p.toString
        fs.exists(new Path(p, CommitsDir))
      }
      out.sorted.toSeq
    }

    /** Every VersionedTable under `root`: any directory owning a
      * `$CommitsDir` child with at least one intact manifest. The walk
      * is driver-side and catalog-sized (artifact roots hold tens of
      * tables, not data); it never descends INTO a discovered table
      * (bucket dirs and commit metadata are the table's internals) nor
      * into underscore-prefixed dirs, and `maxDepth` bounds a walk over
      * a mistakenly-huge root. Composite artifacts (DedupIndex,
      * AnnIndex, MediaIndex, tokenizer bundles, rollups) are therefore
      * discovered as their constituent sub-tables — exactly the
      * granularity compact/vacuum operate at.
      */
    def discover(spark: SparkSession, root: String,
                 maxDepth: Int = 8): Seq[String] = {
      val fs = fsFor(spark, root)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      walkDirs(spark, root, maxDepth) { p =>
        val isTable = fs.exists(new Path(p, CommitsDir))
        if (isTable && latestManifest(spark, p.toString).isDefined)
          out += p.toString
        isTable // table internals: never recurse past a commits dir
      }
      out.sorted.toSeq
    }

    /** Atomic-exclusive publish of manifest `v`; true iff this writer won
      * the version. Content is fully durable before the name appears
      * (temp write + atomic link/rename-style create), so a reader that
      * sees the manifest sees all of it.
      */
    /** `bucketCols`: the bucket-hash column contract, recorded in the
      * manifest like numBuckets — readers and later writers verify
      * against it, so a caller bucketing differently from the table's
      * builder fails LOUDLY instead of silently stranding rows in
      * buckets merges and takedowns never read. Empty = omit the field
      * (legacy tables, whose contract is keys-as-bucket-cols).
      */
    private def publish(spark: SparkSession, path: String, v: Long,
                        buckets: Map[Int, String], numBuckets: Int,
                        bucketCols: Seq[String], schema: StructType): Boolean = {
      val bc = if (bucketCols.isEmpty) ""
        else s""""bucketCols":"${bucketCols.mkString(",")}","""
      val body = buckets.toSeq.sorted
        .map { case (b, d) => s""""$b":"$d"""" }
        .mkString(s"""{"version":$v,"numBuckets":$numBuckets,$bc$SchemaKey${schema.json},$BucketsKey""",
          ",", "}}")
      atomicPublish(fsFor(spark, path), new Path(path, CommitsDir), v, body)
    }

    /** Every type nullable, as a parquet read reports it — the form a
      * manifest records, so a recorded schema equals the footer-merged
      * one and nullability never counts as a type conflict. */
    private def nullable(t: DataType): DataType = t match {
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
      case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
      case other => other
    }

    /** The schema a commit records: the base version's schema, then the
      * written frame's columns it lacks, in the frame's order. Refuses
      * a same-name type change before the attempt writes anything: the
      * old buckets' files could not be read with the new type. */
    private def evolvedSchema(path: String, base: Option[StructType],
                              written: StructType): StructType = {
      val next = nullable(written).asInstanceOf[StructType]
      base.fold(next) { prev =>
        val byName = prev.fields.map(f => f.name -> f.dataType).toMap
        next.fields.foreach { f =>
          byName.get(f.name).foreach(t => require(t == f.dataType,
            s"VersionedTable: column ${f.name} of $path is ${t.simpleString}; " +
              s"this commit writes it as ${f.dataType.simpleString} — only additive " +
              "schema changes are allowed"))
        }
        StructType(prev.fields ++ next.fields.filterNot(f => byName.contains(f.name)))
      }
    }

    /** The schema `m` records, or — on a manifest written before the
      * field existed — the footer-merged schema of all its buckets. */
    private def schemaOf(spark: SparkSession, path: String, m: Manifest): StructType =
      m.schema.getOrElse(readBuckets(spark, path, m, m.buckets.values.toSeq).schema)

    /** The one read of a version's bucket dirs (`rels`, relative to the
      * table root): with the schema `m` records, so building the frame
      * submits no footer-inference job and a bucket written before an
      * additive change null-fills the newer columns. A manifest without
      * a recorded schema is read with `mergeSchema`, as before the field
      * existed.
      */
    private[graft] def readBuckets(spark: SparkSession, path: String, m: Manifest,
                                   rels: Seq[String]): DataFrame = {
      val dirs = rels.sorted.map(d => new Path(path, d).toString)
      m.schema match {
        case Some(s) => spark.read.schema(s).parquet(dirs: _*)
        case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      }
    }

    /** Atomic-exclusive publish of a fully-written manifest body as
      * version `v` under `cdir` — the claim + torn-occupant-reclaim
      * protocol factored out of [[publish]] so the cross-table root
      * manifest ([[commitGroup]]) commits through the exact same
      * primitive. True iff this writer won the version.
      */
    private def atomicPublish(fs: org.apache.hadoop.fs.FileSystem,
                              cdir: Path, v: Long, body: String): Boolean = {
      fs.mkdirs(cdir)
      val dst = new Path(cdir, manifestName(v))
      val tmp = new Path(cdir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // Scheme-dispatched atomic-exclusive create (see commitStoreFor's
      // allowlist — unknown schemes are REFUSED, not assumed HDFS-like).
      val store = commitStoreFor(dst.toUri.getScheme)
      def claim(): Boolean = store.claim(fs, tmp, dst)
      var won = claim()
      if (!won) {
        // Losing normally means another writer committed this version —
        // but the occupant could also be a TORN manifest from a
        // misbehaving store. The publish primitives above only ever
        // expose fully-written bytes, so a torn occupant is never a live
        // writer mid-commit; without reclaiming it every writer would
        // livelock (latestManifest skips the torn version, so retries
        // re-derive the same next version). The reclaim must itself be
        // ATOMIC: a read-check-delete would let two writers both see
        // the torn occupant, one delete-and-publish a valid manifest,
        // and the other then delete THAT valid manifest (losing a
        // committed version). So the torn file is renamed ASIDE first —
        // rename-to-fresh-name is atomic and exactly one writer wins
        // it; the loser simply reports the version lost and the caller's
        // optimistic retry re-reads whatever the winner committed.
        val occupant = if (fs.exists(dst)) Some(readUtf8(fs, dst)) else None
        if (occupant.exists(!validManifest(_))) {
          val aside = new Path(cdir, s".torn-${java.util.UUID.randomUUID()}")
          if (fs.rename(dst, aside)) {
            fs.delete(aside, false)
            won = claim()
          }
        }
      }
      fs.delete(tmp, false)
      won
    }

    /** Snapshot read: the version's bucket dirs as one DataFrame (latest
      * version when `version` is None). Empty frame with delta's schema
      * is impossible here — an uninitialized table throws; check with
      * [[latestManifest]] first if absence is expected.
      */
    def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
      val m = version match {
        case Some(want) =>
          val body = manifestBody(fsFor(spark, path), new Path(path, CommitsDir), want)
          require(body.isDefined, s"VersionedTable: no intact manifest $want at $path")
          parseManifest(want, body.get)
        case None =>
          latest(spark, path).getOrElse(
            throw new IllegalStateException(s"VersionedTable: no commits at $path"))
      }
      readBuckets(spark, path, m, m.buckets.values.toSeq)
    }

    /** Transactional latest-wins MERGE: optimistic-concurrency upsert of
      * `delta` into the versioned table. Touched buckets are re-merged
      * against the snapshot this attempt read; untouched buckets carry
      * over by reference (manifest entry copy — zero data movement). On
      * losing the commit race the attempt REDOES the merge against the
      * winner's snapshot, so concurrent writers' rows survive each other
      * (no lost update); readers always see a complete committed
      * version (no torn read). SinksSpec proves both under real
      * concurrent writers.
      */
    /** `bucketKeys`: the subset of `keys` the bucket id hashes (default:
      * all of them). Bucketing by a PREFIX of the merge key — e.g. a
      * (doc_id, h) shingle table bucketed by doc_id alone — keeps the
      * merge exactly as correct (a row's bucket is still a pure function
      * of its identity, so latest-wins always finds the old copy) while
      * making every doc_id-scoped operation bucket-PRUNABLE: point reads
      * and takedowns ([[replaceBuckets]]) can compute the touched-bucket
      * set from the doc_id list without knowing the h values. Must stay
      * the same for the table's lifetime, like numBuckets.
      */
    def mergeUpsert(spark: SparkSession, path: String, delta: DataFrame,
                    keys: Seq[String], versionCol: String,
                    numBuckets: Int = 64, maxRetries: Int = 20,
                    bucketKeys: Seq[String] = Seq.empty): Unit = {
      val bk = if (bucketKeys.isEmpty) keys else bucketKeys
      require(bk.forall(keys.contains),
        s"mergeUpsert: bucketKeys $bk must be a subset of the merge keys $keys " +
          "(a bucket id that is not a function of the row's identity would let an " +
          "upsert leave the old copy in a bucket the merge never reads)")
      graft.FailPoint.reach(path) // kill-point sweep boundary (test seam)
      val fs = fsFor(spark, path)
      // Fail an unsupported store BEFORE the attempt stages/moves any
      // data, not at publish time with orphan dirs already on disk.
      commitStoreFor(new Path(path).toUri.getScheme)
      var attempt = 0
      var committed = false
      while (!committed) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"VersionedTable.mergeUpsert: lost the commit race $maxRetries times at $path")
        val current = latest(spark, path)
        val baseVersion = current.fold(-1L)(_.version)
        val baseBuckets = current.fold(Map.empty[Int, String])(_.buckets)
        // The bucket function must stay stable for the table's lifetime:
        // a merge bucketed differently from the base would leave a key's
        // older versions in dirs the merge never reads (silent
        // duplicates). The manifest records numBuckets AND the bucket
        // columns at creation; every later merge is VERIFIED against
        // the recorded contract — the parameters only shape a brand-new
        // table. A legacy table (no recorded bucketCols) was by
        // construction bucketed by its merge keys, so a caller passing
        // anything else is refused rather than silently corrupting it.
        val nb = current.flatMap(_.numBuckets).getOrElse(numBuckets)
        current.flatMap(_.bucketCols) match {
          case Some(cols) => require(cols == bk,
            s"VersionedTable.mergeUpsert: $path is bucketed by $cols, caller passed $bk")
          case None if current.isDefined =>
            require(bk == keys,
              s"VersionedTable.mergeUpsert: table $path has no recorded bucketCols; " +
                s"caller passed $bk — rebuild the table to use a prefix bucket contract")
            // A contract-less table ASSUMED keys-bucketed could still have
            // been written with prefix bucketKeys by pre-recording code —
            // merging by keys would then read the wrong base buckets and
            // commit silent duplicates. VERIFY empirically before trusting
            // the assumption: committed rows carry their bucket column, so
            // a bounded sample from one bucket dir proves (or refutes) the
            // keys-bucketing physically.
            baseBuckets.values.headOption.foreach { rel =>
              val bad = readBuckets(spark, path, current.get, Seq(rel))
                .limit(100)
                .filter(pmod(hash(keys.map(col): _*), lit(nb)) =!= col("bucket"))
                .limit(1).count()
              require(bad == 0L,
                s"VersionedTable.mergeUpsert: $path has no recorded bucketCols and its " +
                  s"committed rows are NOT bucketed by the merge keys $keys — it was " +
                  "built with a prefix bucket contract by pre-recording code; rebuild it")
            }
          case None => // brand-new table: bk becomes the recorded contract
        }
        val deltaB = delta.withColumn("bucket",
          pmod(hash(bk.map(col): _*), lit(nb)))
        val next = baseVersion + 1
        // affected-bucket ids: bounded by numBuckets — partition
        // metadata, not data (constant-size driver collect). Each task
        // sends its own distinct ids, so the collect needs no shuffle.
        val touched = deltaB.select("bucket").as(Encoders.scalaInt)
          .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
          .collect().distinct.sorted
        val baseSchema = current.map(schemaOf(spark, path, _))
        val baseSlice = {
          val dirs = touched.toIndexedSeq.flatMap(baseBuckets.get)
          if (dirs.nonEmpty) readBuckets(spark, path, current.get, dirs)
          else baseSchema.fold(deltaB.limit(0))(s =>
            spark.createDataFrame(java.util.Collections.emptyList[Row](), s))
        }
        val merged = latestWins(baseSlice, deltaB, keys, versionCol)
        val schema = evolvedSchema(path, baseSchema, merged.schema)
        // stage immutable per-bucket dirs, then move under data/ with
        // version-unique names (one Spark write job for all buckets)
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val staging = new Path(path, s".staging-$stamp")
        // partitionBy strips its column from the data files, but later
        // merges need `bucket` IN the base data (latestWins unions base
        // and delta by name) — so stage under a duplicate partition
        // column and keep `bucket` as a data column. Repartitioning on
        // (bucket, key-hash) rather than bucket alone writes each bucket
        // from MANY tasks in parallel — at 100 TB a bucket is ~1/64 of
        // the table and a one-task-per-bucket write would serialize it;
        // the resulting multi-file buckets are [[compact]]'s job.
        merged.withColumn("__pb", col("bucket"))
          .repartition(col("__pb"), hash(keys.map(col): _*))
          .write.mode(SaveMode.Overwrite).partitionBy("__pb").parquet(staging.toString)
        val newDirs = touched.flatMap { b =>
          val src = new Path(staging, s"__pb=$b")
          if (!fs.exists(src)) None // bucket merged to empty (can't happen with latest-wins)
          else {
            val rel = f"$DataDir/v$next%08d-b$b%04d-$stamp"
            fs.mkdirs(new Path(path, DataDir))
            if (!fs.rename(src, new Path(path, rel)))
              throw new java.io.IOException(s"VersionedTable: rename $src failed")
            Some(b -> rel)
          }
        }.toMap
        fs.delete(staging, true)
        beforePublishHook()
        committed = publish(spark, path, next, baseBuckets ++ newDirs, nb,
          bucketCols = bk, schema)
        if (!committed) {
          // lost the race: drop this attempt's orphan dirs and retry
          // against the winner's snapshot
          newDirs.values.foreach(d => fs.delete(new Path(path, d), true))
        }
      }
    }

    /** Compaction: rewrite every bucket fragmented past
      * `maxFilesPerBucket` into one file, committed as a NEW version
      * (untouched buckets carry over by manifest reference). Small-file
      * storms are the failure mode of any upsert-heavy table on an
      * object store; because compaction is just another optimistic
      * commit, it is safe to run concurrently with writers — losing the
      * race re-examines the winner's buckets, and a concurrent merge
      * never reads half a compaction (snapshot isolation via the
      * manifest). No-op (no new version) when nothing is fragmented.
      */
    def compact(spark: SparkSession, path: String,
                maxFilesPerBucket: Int = 1, maxRetries: Int = 20): Unit = {
      val fs = fsFor(spark, path)
      commitStoreFor(new Path(path).toUri.getScheme) // refuse unsupported stores up front
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"VersionedTable.compact: lost the commit race $maxRetries times at $path")
        val m = latest(spark, path).getOrElse(return)
        val (baseVersion, buckets) = (m.version, m.buckets)
        val fragmented = buckets.filter { case (_, rel) =>
          fs.listStatus(new Path(path, rel))
            .count(st => st.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket
        }
        if (fragmented.isEmpty) return
        val next = baseVersion + 1
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val newDirs = fragmented.map { case (b, rel) =>
          val out = f"$DataDir/v$next%08d-b$b%04d-$stamp"
          readBuckets(spark, path, m, Seq(rel))
            .coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(new Path(path, out).toString)
          b -> out
        }
        done = publish(spark, path, next, buckets ++ newDirs,
          m.numBuckets.getOrElse(-1), bucketCols = m.bucketCols.getOrElse(Nil),
          schemaOf(spark, path, m))
        if (!done) newDirs.values.foreach(d => fs.delete(new Path(path, d), true))
      }
    }

    /** Optimistic LOGICAL rewrite: replace the table's entire logical
      * content with `fold(snapshot)`, committed as one new version whose
      * manifest references ONLY the rewritten buckets (prior buckets
      * drop out of the manifest; their files stay for pinned readers
      * until [[vacuumVersioned]]). The row-level complement to
      * [[compact]] (which rewrites files but never rows) — the
      * primitive behind merge-on-read compaction and retention GC,
      * where rows must logically disappear and mergeUpsert, being
      * upsert-only, cannot express that.
      *
      * Concurrency: the same optimistic protocol as every other commit
      * here. Each attempt folds the LATEST snapshot; losing the race
      * discards the attempt's dirs and refolds against the winner's
      * snapshot, so a fold never erases a concurrent writer's committed
      * rows, and a writer losing to a fold redoes its merge on top of
      * the folded state (both directions exercised in RollupIndexSpec).
      * `fold` must be a pure function of the snapshot carrying the key
      * columns; folding to EMPTY is legal (a full purge) and publishes a
      * zero-row version that stays readable and mergeable.
      */
    def replaceAll(spark: SparkSession, path: String, keys: Seq[String],
                   maxRetries: Int = 20)(fold: DataFrame => DataFrame): Unit =
      rewriteAll(spark, path, keys, None, maxRetries)(fold)

    /** [[replaceAll]] returning what the winning attempt committed;
      * `hit` (when given) is counted over the snapshot it folded, inside
      * the rewrite's own write — the receipt's found count. (The count
      * runs in the write's shuffle stage, so a fold to EMPTY costs one
      * count query of its own: see [[hitsOf]].) */
    private[graft] def rewriteAll(spark: SparkSession, path: String, keys: Seq[String],
                                  hit: Option[Column], maxRetries: Int = 20)
                                 (fold: DataFrame => DataFrame): Rewrite = {
      graft.FailPoint.reach(path) // kill-point sweep boundary (test seam)
      val fs = fsFor(spark, path)
      commitStoreFor(new Path(path).toUri.getScheme) // refuse unsupported stores up front
      var attempt = 0
      while (true) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"VersionedTable.replaceAll: lost the commit race $maxRetries times at $path")
        val m = latest(spark, path).getOrElse(
          throw new IllegalStateException(s"VersionedTable: no commits at $path"))
        val baseVersion = m.version
        val nb = m.numBuckets.getOrElse(64)
        // `keys` re-buckets the folded rows, so it must be the table's
        // bucket contract — verified when recorded (a mismatch would
        // strand every row where key probes and merges never look)
        m.bucketCols.foreach(cols => require(cols == keys,
          s"VersionedTable.replaceAll: $path is bucketed by $cols, caller passed $keys"))
        // fold the attempt's pinned snapshot (retry re-reads the winner's)
        val snapshot = readBuckets(spark, path, m, m.buckets.values.toSeq)
        val (seen, observed) = observeHits(snapshot, hit)
        val folded = fold(observed.drop("bucket"))
          .withColumn("bucket", pmod(hash(keys.map(col): _*), lit(nb)))
        val schema = evolvedSchema(path, Some(m.schema.getOrElse(snapshot.schema)),
          folded.schema)
        val next = baseVersion + 1
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val staging = new Path(path, s".staging-$stamp")
        folded.withColumn("__pb", col("bucket"))
          .repartition(col("__pb"), hash(keys.map(col): _*))
          .write.mode(SaveMode.Overwrite).partitionBy("__pb").parquet(staging.toString)
        val found = hitsOf(seen, snapshot, hit)
        val newDirs = fs.listStatus(staging)
          .map(_.getPath.getName)
          .filter(_.startsWith("__pb="))
          .map { dirName =>
            val b = dirName.stripPrefix("__pb=").toInt
            val rel = f"$DataDir/v$next%08d-b$b%04d-$stamp"
            fs.mkdirs(new Path(path, DataDir))
            if (!fs.rename(new Path(staging, dirName), new Path(path, rel)))
              throw new java.io.IOException(s"VersionedTable: rename $dirName failed")
            b -> rel
          }.toMap
        fs.delete(staging, true)
        // A fold to EMPTY (a full retention purge / compliance takedown)
        // publishes one empty schema-carrying bucket dir — same contract
        // as [[replaceBuckets]]: zero rows, still readable and mergeable.
        val nextBuckets = if (newDirs.nonEmpty) newDirs else {
          val rel = f"$DataDir/v$next%08d-b${0}%04d-$stamp-empty"
          folded.limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(new Path(path, rel).toString)
          Map(0 -> rel)
        }
        beforePublishHook()
        if (publish(spark, path, next, nextBuckets, nb,
            bucketCols = m.bucketCols.getOrElse(keys), schema))
          return Rewrite(m, found, next, nextBuckets)
        nextBuckets.values.foreach(d => fs.delete(new Path(path, d), true))
      }
      throw new IllegalStateException("unreachable")
    }

    /** `df` observed for the rows `hit` matches, counted while the
      * action that reads it runs (no job of its own); without a `hit`,
      * `df` as it is. */
    private def observeHits(df: DataFrame, hit: Option[Column]): (Option[Observation], DataFrame) =
      hit.fold[(Option[Observation], DataFrame)]((None, df)) { h =>
        val o = Observation()
        (Some(o), df.observe(o, count(when(h, lit(1))).as("n")))
      }

    /** The rows of `read` that `hit` matches, as [[observeHits]]'
      * observation counted them once its action finished; 0 without a
      * `hit`. When the executed plan lost the observed node — AQE
      * replaces an empty shuffle stage with an empty relation, the
      * optimizer a statically empty branch — no metrics arrive, and a
      * count query of its own answers instead. */
    private def hitsOf(seen: Option[Observation], read: DataFrame, hit: Option[Column]): Long =
      seen.fold(0L)(o => o.get.get("n").fold(read.filter(hit.get).count())(_.asInstanceOf[Long]))

    /** Bucket-PRUNED logical rewrite — [[replaceAll]]'s point complement,
      * the primitive behind O(touched-buckets) takedown: apply `fold` to
      * the slice of ONLY the `touched` buckets and commit a new version
      * in which every other bucket carries over by manifest reference —
      * zero data movement, its files are never even read. The caller
      * computes `touched` from the retraction keys (a row's bucket id is
      * a pure function of its bucket key — see [[mergeUpsert]]'s
      * bucketKeys, and [[bucketsOf]] for the driver-side hash), so a
      * 10-doc compliance takedown on a multi-TB index rewrites a
      * handful of bucket dirs, not the table.
      *
      * `fold` receives the touched slice WITH its `bucket` column and
      * must preserve each surviving row's value (filter and in-place
      * update folds do this for free). Moving a row across buckets is
      * checked and refused before anything publishes, and the staging
      * dir is removed first — hash-verified against the table's
      * recorded bucket contract (on a legacy table without one, only
      * moves into UNTOUCHED buckets are structurally detectable) — it
      * would strand the row where key probes and later merges never
      * look. The hash check is counted inside the staging write, so
      * it costs no job of its own. A bucket whose fold output is empty
      * drops out of the manifest (its rows logically disappear — the
      * thing upsert-only merges cannot express); folding EVERY bucket
      * to empty (a full takedown) publishes a zero-row version that
      * stays readable and mergeable. Same optimistic
      * protocol as every other commit here: losing the race refolds the
      * winner's snapshot, so a retraction never erases a concurrent
      * extend's rows and vice versa.
      */
    def replaceBuckets(spark: SparkSession, path: String, keys: Seq[String],
                       touched: Seq[Int], maxRetries: Int = 20)
                      (fold: DataFrame => DataFrame): Unit =
      rewriteBuckets(spark, path, keys, touched, None, maxRetries)(fold)

    /** [[replaceBuckets]] returning what the winning attempt committed;
      * `hit` (when given) is counted over the slice it folded, inside
      * the rewrite's own write — the receipt's found count. A no-op
      * (no touched bucket was ever written) returns the latest manifest
      * unchanged with found = 0. */
    private[graft] def rewriteBuckets(spark: SparkSession, path: String, keys: Seq[String],
                                      touched: Seq[Int], hit: Option[Column],
                                      maxRetries: Int = 20)
                                     (fold: DataFrame => DataFrame): Rewrite = {
      graft.FailPoint.reach(path) // kill-point sweep boundary (test seam)
      val fs = fsFor(spark, path)
      commitStoreFor(new Path(path).toUri.getScheme) // refuse unsupported stores up front
      val want = touched.toSet
      def current = latest(spark, path).getOrElse(
        throw new IllegalStateException(s"VersionedTable: no commits at $path"))
      if (want.isEmpty) { val m = current; return Rewrite(m, 0L, m.version, m.buckets) }
      var attempt = 0
      while (true) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"VersionedTable.replaceBuckets: lost the commit race $maxRetries times at $path")
        val m = current
        val (baseVersion, baseBuckets) = (m.version, m.buckets)
        // Touched buckets never written stay unwritten — the fold has
        // nothing to see there. All-absent means the keys were never in
        // the table at all: a pure no-op, not even a version bump.
        val present = want.intersect(baseBuckets.keySet)
        if (present.isEmpty) return Rewrite(m, 0L, baseVersion, baseBuckets)
        val slice = readBuckets(spark, path, m, present.toSeq.map(baseBuckets))
        // Shuffled BEFORE the fold (which keeps each row's bucket), so
        // both counts below run after the exchange: AQE replaces an
        // empty shuffle stage with an empty relation, and an observed
        // node inside that stage would deliver no metrics — here only
        // an empty slice can drop them.
        val (seen, observedSlice) = observeHits(
          slice.repartition(col("bucket"), hash(keys.map(col): _*)), hit)
        val folded = fold(observedSlice)
        val schema = evolvedSchema(path, Some(schemaOf(spark, path, m)), folded.schema)
        // Strong bucket-identity check (possible when the table records
        // its bucket contract): every surviving row's `bucket` must
        // still equal hash(bucketCols) % nb — catching a fold that
        // relocated rows even BETWEEN touched buckets, which the
        // staging-dir check below structurally cannot see. Counted
        // while the staging write runs.
        val movedPred = m.bucketCols.map(cols =>
          pmod(hash(cols.map(col): _*), lit(m.numBuckets.getOrElse(-1))) =!= col("bucket"))
        val (moves, checked) = observeHits(folded, movedPred)
        val next = baseVersion + 1
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val staging = new Path(path, s".staging-$stamp")
        checked.withColumn("__pb", col("bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("__pb").parquet(staging.toString)
        val moved = hitsOf(moves, folded, movedPred)
        if (moved != 0L) fs.delete(staging, true)
        require(moved == 0L,
          s"VersionedTable.replaceBuckets: fold changed rows' bucket identity at $path " +
            "— the bucket column must be preserved")
        val found = hitsOf(seen, slice, hit)
        val staged = fs.listStatus(staging)
          .map(_.getPath.getName).filter(_.startsWith("__pb=")).toSeq
        val stagedIds = staged.map(_.stripPrefix("__pb=").toInt).toSet
        val escaped = stagedIds.diff(present)
        if (escaped.nonEmpty) {
          fs.delete(staging, true)
          throw new IllegalArgumentException(
            s"VersionedTable.replaceBuckets: fold moved rows into untouched buckets " +
              s"$escaped — the bucket column must be preserved")
        }
        val newDirs = staged.map { dirName =>
          val b = dirName.stripPrefix("__pb=").toInt
          val rel = f"$DataDir/v$next%08d-b$b%04d-$stamp"
          fs.mkdirs(new Path(path, DataDir))
          if (!fs.rename(new Path(staging, dirName), new Path(path, rel)))
            throw new java.io.IOException(s"VersionedTable: rename $dirName failed")
          b -> rel
        }.toMap
        fs.delete(staging, true)
        // present-but-unstaged buckets folded to empty: drop them from
        // the manifest (that is the retraction taking effect)
        val survivors = (baseBuckets -- present) ++ newDirs
        // A fold that empties the WHOLE table (a full compliance
        // takedown — every remaining doc retracted) is legal, but a
        // zero-bucket manifest would be unreadable (read() derives the
        // schema from parquet footers). Publish ONE empty bucket dir
        // carrying the fold's schema instead: the table reads as zero
        // rows, stays mergeable/extendable, and the takedown job
        // completes rather than dying mid-sweep with sibling sub-tables
        // already rewritten.
        val nextBuckets = if (survivors.nonEmpty) survivors else {
          val b = present.min
          val rel = f"$DataDir/v$next%08d-b$b%04d-$stamp-empty"
          folded.limit(0).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(new Path(path, rel).toString)
          Map(b -> rel)
        }
        beforePublishHook()
        if (publish(spark, path, next, nextBuckets,
            m.numBuckets.getOrElse(-1), bucketCols = m.bucketCols.getOrElse(Nil), schema))
          return Rewrite(m, found, next, nextBuckets)
        (newDirs.values ++ (if (survivors.isEmpty) nextBuckets.values else Nil))
          .foreach(d => fs.delete(new Path(path, d), true))
      }
      throw new IllegalStateException("unreachable")
    }

    /** Drop manifests older than the newest `keep` and every data dir no
      * surviving manifest references. Readers pinned to vacuumed
      * versions fail cleanly (missing manifest), never see partial data.
      */
    /** `minAgeMs`: an unreferenced dir younger than this is spared — it
      * may belong to a LIVE writer that has moved its dirs under data/
      * (or is still staging) but has not published yet; deleting those
      * would let the writer's subsequent publish commit a manifest
      * pointing at missing paths (committed data loss). Writers finish
      * the move→publish window in seconds, so the 1 h default makes the
      * race unreachable; pass 0 only when no writer can be live (tests,
      * offline maintenance).
      */
    /** `protect`: manifest versions that must survive regardless of the
      * `keep` budget — the root-snapshot pins of a composite artifact
      * ([[Sinks.ArtifactSnapshot]]): a vacuum that dropped a pinned
      * version would force every snapshot reader into the fall-forward
      * path at once. Protected versions keep their manifests AND their
      * referenced data dirs.
      */
    def vacuumVersioned(spark: SparkSession, path: String, keep: Int = 2,
                        minAgeMs: Long = 3600000L,
                        protect: Set[Long] = Set.empty): Unit = {
      val fs = fsFor(spark, path)
      val cdir = new Path(path, CommitsDir)
      if (!fs.exists(cdir)) return
      val versions = fs.listStatus(cdir).flatMap { st =>
        st.getPath.getName.stripSuffix(".json").toLongOption.map(_ -> st.getPath)
      }.sortBy(-_._1)
      val (keepTop, rest) = versions.splitAt(math.max(keep, 1))
      val keepV = keepTop ++ rest.filter(t => protect.contains(t._1))
      val dropV = rest.filterNot(t => protect.contains(t._1))
      val live: Set[String] = keepV.flatMap { case (v, _) =>
        latestManifestAt(spark, path, v).values
      }.toSet
      val cutoff = System.currentTimeMillis() - minAgeMs
      def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
        st.getModificationTime <= cutoff
      dropV.foreach { case (_, p) => fs.delete(p, false) }
      val ddir = new Path(path, DataDir)
      if (fs.exists(ddir)) fs.listStatus(ddir).foreach { st =>
        if (!live.contains(s"$DataDir/${st.getPath.getName}") && oldEnough(st))
          fs.delete(st.getPath, true)
      }
      // .staging-* past the age threshold are crashed writers' leftovers
      // (a completed attempt always deletes its staging; a live one is
      // younger than the threshold).
      fs.listStatus(new Path(path)).foreach { st =>
        if (st.getPath.getName.startsWith(".staging-") && oldEnough(st))
          fs.delete(st.getPath, true)
      }
    }

    /** numBuckets recorded by the latest manifest (None for a table
      * created before the field existed or an uninitialized path).
      */
    def storedNumBuckets(spark: SparkSession, path: String): Option[Int] =
      latest(spark, path).flatMap(_.numBuckets)

    /** The bucket-hash column contract recorded by the latest manifest
      * (None for legacy tables, whose implicit contract is the merge
      * keys, and for uninitialized paths).
      */
    def storedBucketKeys(spark: SparkSession, path: String): Option[Seq[String]] =
      latest(spark, path).flatMap(_.bucketCols)

    /** Point lookup with BUCKET PRUNING: read only the one bucket dir
      * the key hashes into — O(1/numBuckets) of the table, the reason
      * the layout keys buckets by a pure function of the merge key.
      * Falls back to a full-snapshot filtered read for legacy tables
      * with no recorded numBuckets. The bucket id is [[bucketsOf]]'s
      * driver-side hash, so no Spark job runs before the read (on a
      * manifest without a recorded schema, one bucket's footer supplies
      * the key types). Schema note: returns the TABLE's
      * schema as the manifest records it (a bucket not rewritten since
      * an additive evolution null-fills the newer columns), like
      * [[read]]; on a manifest without a recorded schema, the bucket's
      * own footer-merged schema.
      */
    def readForKey(spark: SparkSession, path: String, keys: Seq[String],
                   keyVals: Seq[Any]): DataFrame = {
      require(keys.length == keyVals.length, "one value per key column")
      val eq = keys.zip(keyVals).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
      // ONE manifest read supplies numBuckets, the bucket map, AND the
      // bucket contract. On a prefix-bucketed table the probe must hash
      // the CONTRACT columns only — hashing the full merge key would
      // land in a bucket that never held the row and silently return
      // empty for an existing key. The caller must supply every
      // contract column (verified loudly).
      val current = latest(spark, path)
      val (probeKeys, probeVals) = current.flatMap(_.bucketCols) match {
        case None => (keys, keyVals)
        case Some(cols) =>
          require(cols.forall(keys.contains),
            s"VersionedTable.readForKey: $path is bucketed by $cols; the probe " +
              s"must include every contract column (got $keys)")
          val byName = keys.zip(keyVals).toMap
          (cols, cols.map(byName))
      }
      current.flatMap(_.numBuckets) match {
        case None => read(spark, path).filter(eq)
        case Some(nb) =>
          val m = current.get
          val buckets = m.buckets
          // Cast each literal to the table's own key column type (the
          // recorded schema; one committed bucket's footer on a manifest
          // without one — merge keys exist in every bucket) so the probe
          // hashes exactly what the writer hashed: driver math, the
          // writer's own expressions, no job.
          val schema = m.schema.orElse(buckets.values.headOption.map(rel =>
            readBuckets(spark, path, m, Seq(rel)).schema))
          val b = bucketsOf(nb, m.copy(schema = schema).typesOf(probeKeys), Seq(probeVals)).head
          buckets.get(b) match {
            case None => // bucket never written
              readBuckets(spark, path, m, buckets.values.toSeq).filter(eq).limit(0)
            case Some(rel) => readBuckets(spark, path, m, Seq(rel)).filter(eq)
          }
      }
    }

    private def latestManifestAt(spark: SparkSession, path: String, v: Long): Map[Int, String] = {
      val fs = fsFor(spark, path)
      val p = new Path(new Path(path, CommitsDir), manifestName(v))
      if (!fs.exists(p)) Map.empty
      else parseManifest(v, readUtf8(fs, p)).buckets
    }
  }

  /** The root-snapshot POLICY composite artifacts share on top of
    * [[VersionedTable.commitGroup]]/[[VersionedTable.latestGroup]]:
    * readers resolve every sub-table through the latest root manifest
    * (one atomic pin-set a mutator actually produced — a serve can
    * never observe sub-table A's new version next to B's old one),
    * mutators publish a new snapshot as their LAST step, refreshing
    * only the sub-tables they wrote so a torn concurrent/crashed
    * mutation's half-committed sub-table is never exposed by an
    * unrelated writer. Artifacts with no root manifest (built before
    * the layer, or mid-first-build) fall back to per-table latest —
    * the pre-snapshot behavior, unchanged.
    */
  object ArtifactSnapshot {

    /** The latest root snapshot's pin for `sub` under `root`. */
    def pinnedVersion(spark: SparkSession, root: String,
                      sub: String): Option[Long] =
      VersionedTable.latestGroup(spark, root).flatMap(_._2.get(sub))

    /** The version a snapshot READ of `sub` actually resolves: the pin
      * when its manifest still exists, else per-table latest (the
      * fall-forward). Mutators that record a dependency version MUST
      * record this, not the raw pin — re-publishing a dangling pin
      * would pair the data they wrote with a version readers can no
      * longer reach (r11 review).
      */
    def resolvedVersion(spark: SparkSession, root: String,
                        sub: String): Option[Long] = {
      val full = s"$root/$sub"
      pinnedVersion(spark, root, sub)
        .filter(VersionedTable.manifestExists(spark, full, _))
        .orElse(VersionedTable.latestManifest(spark, full).map(_._1))
    }

    /** The latest snapshot's whole pin-set, captured ONCE — the
      * multi-sub-table read primitive: a logical read that touches
      * several subs must resolve them all through ONE captured pin-set
      * ([[readWith]]), or a snapshot landing between two per-sub
      * [[read]] calls would hand it sub-tables from different
      * snapshots — the tear the layer exists to close (r11 review).
      * Empty for artifacts with no group commits (legacy fallback).
      */
    def pins(spark: SparkSession, root: String): Map[String, Long] =
      VersionedTable.latestGroup(spark, root).map(_._2).getOrElse(Map.empty)

    /** Per-sub-table UNION of the pins in the newest `protectGroups`
      * root snapshots — the retention contract behind named-snapshot
      * serving ([[readAt]]): a maintenance sweep protecting only the
      * LATEST group's pins can age a historical group's per-table
      * manifests out mid-lifetime of a job pinned to it. Feeding this
      * set to [[VersionedTable.vacuumVersioned]]'s `protect` keeps
      * every group in the window servable byte-identically; past the
      * window [[readAt]] refuses loudly instead of silently reading
      * data the snapshot never pinned.
      */
    def pinsRecent(spark: SparkSession, root: String,
                   protectGroups: Int): Map[String, Set[Long]] =
      VersionedTable.recentGroups(spark, root, protectGroups)
        .flatMap(_._2.toSeq)
        .groupMapReduce(_._1)(t => Set(t._2))(_ ++ _)

    /** [[read]] against a pin-set captured by [[pins]]. */
    def readWith(spark: SparkSession, root: String, sub: String,
                 pinSet: Map[String, Long]): DataFrame =
      resolve(spark, root, sub, pinSet.get(sub))

    /** [[readWith]] for NAMED-snapshot readers: refuses when the pinned
      * manifest no longer exists instead of falling forward — the
      * [[readAt]] strictness for callers that already captured a
      * historical pin-set (one groupAt read for a multi-sub serve).
      * Latest-group readers keep the fall-forward ([[readWith]]);
      * reproducible-serving readers must not.
      */
    def readWithStrict(spark: SparkSession, root: String, sub: String,
                       pinSet: Map[String, Long]): DataFrame = {
      val v = pinSet.getOrElse(sub, throw new IllegalArgumentException(
        s"ArtifactSnapshot.readWithStrict: pin-set at $root does not pin " +
          s"'$sub' (pins: ${pinSet.keys.toSeq.sorted.mkString(", ")})"))
      val full = s"$root/$sub"
      if (!VersionedTable.manifestExists(spark, full, v))
        throw new IllegalStateException(
          s"ArtifactSnapshot.readWithStrict: pinned $sub@$v no longer exists " +
            s"at $full — the snapshot outlived the maintenance sweep's " +
            "protectGroups retention window; re-pin to a recent group")
      VersionedTable.read(spark, full, Some(v))
    }

    /** Snapshot-resolved sub-table read: the root-pinned version when
      * one exists, falling FORWARD to per-table latest when the pin
      * predates [[VersionedTable.vacuumVersioned]]'s retention
      * (compaction bumps versions without new snapshots; every later
      * version was committed after the pin, so falling forward is
      * never worse than the pre-snapshot behavior). For reads spanning
      * MULTIPLE subs, capture [[pins]] once and use [[readWith]].
      */
    def read(spark: SparkSession, root: String, sub: String): DataFrame =
      resolve(spark, root, sub, pinnedVersion(spark, root, sub))

    /** Read `sub` as pinned by a NAMED group version — the reproducible
      * serving knob ([[VersionedTable.groupAt]]): a job pinned to one
      * snapshot serves its whole lifetime from that pin-set, immune to
      * concurrent mutations. Fails loudly on an absent/torn group or a
      * sub-table the snapshot never pinned (silently reading latest
      * would defeat the reproducibility the caller asked for).
      */
    def readAt(spark: SparkSession, root: String, sub: String,
               groupVersion: Long): DataFrame = {
      val parts = VersionedTable.groupAt(spark, root, groupVersion)
        .getOrElse(throw new IllegalArgumentException(
          s"ArtifactSnapshot.readAt: no intact group manifest $groupVersion " +
            s"at $root (group retention pruned it, or it never existed)"))
      val v = parts.getOrElse(sub, throw new IllegalArgumentException(
        s"ArtifactSnapshot.readAt: group $groupVersion at $root does not " +
          s"pin '$sub' (pins: ${parts.keys.toSeq.sorted.mkString(", ")})"))
      // STRICT, unlike the latest-group read: a named snapshot whose
      // pinned manifest was vacuumed must refuse, not fall forward —
      // silently reading versions the snapshot never pinned would
      // defeat the reproducibility the caller pinned for. Keep the
      // group inside the maintenance sweep's `protectGroups` window
      // ([[pinsRecent]]) to guarantee this never fires mid-lifetime.
      val full = s"$root/$sub"
      if (!VersionedTable.manifestExists(spark, full, v))
        throw new IllegalStateException(
          s"ArtifactSnapshot.readAt: group $groupVersion pins $sub@$v but " +
            s"that manifest no longer exists at $full — the snapshot " +
            "outlived the maintenance sweep's protectGroups retention " +
            "window; re-pin to a recent group")
      VersionedTable.read(spark, full, Some(v))
    }

    private def resolve(spark: SparkSession, root: String, sub: String,
                        pin: Option[Long]): DataFrame = {
      val full = s"$root/$sub"
      pin match {
        case Some(v) if VersionedTable.manifestExists(spark, full, v) =>
          VersionedTable.read(spark, full, Some(v))
        case _ => VersionedTable.read(spark, full)
      }
    }

    /** Publish the root snapshot after a mutation. `refresh` names the
      * sub-tables the mutation bumped (their pin moves to per-table
      * latest); every other name in `subNames` KEEPS its existing pin
      * when one exists. `pin` overrides both (a mutator records the
      * exact version it read a dependency at). Sub-tables with no
      * commits yet are skipped.
      */
    def commit(spark: SparkSession, root: String, subNames: Seq[String],
               refresh: Seq[String],
               pin: Map[String, Long] = Map.empty): Long =
      // parts derive PER ATTEMPT (commitGroupWith): losing the version
      // race to a concurrent mutator re-reads both the winner's group
      // and the per-table latests, so this writer can never overwrite
      // the winner's refreshes with pre-race pins — the concurrent
      // retract-vs-extend case (a stale re-publish would re-expose
      // taken-down content at serve)
      VersionedTable.commitGroupWith(spark, root) { existing =>
        subNames.flatMap { n =>
          val latest = VersionedTable.latestManifest(spark, s"$root/$n").map(_._1)
          pin.get(n)
            .orElse(if (refresh.contains(n)) latest
                    else existing.get(n).orElse(latest))
            .map(n -> _)
        }.toMap
      }
  }

  /** The CROSS-ARTIFACT snapshot — [[ArtifactSnapshot]]'s promotion one
    * level up (r12). An admission pipeline's state spans several
    * committed artifacts (the text loop reads DedupIndex + the eval
    * registry; the embedding loop reads AnnIndex); each is individually
    * snapshot-atomic, but "the pipeline as of batch N" was not one
    * pinnable reference — a replayed batch or an audit job had to
    * eyeball per-artifact versions and could still pair artifact A's
    * state from one batch with B's from the next. This layer publishes
    * ONE pipeline-root manifest per admission batch, pinning each
    * composite artifact's GROUP version (and each plain table's
    * manifest version), through the same optimistic-commit primitive
    * the per-artifact roots use.
    *
    * Contract:
    *  - published as the admission batch's LAST step — a snapshot only
    *    ever pins states whose effects are fully on disk;
    *  - pins are named by the artifact's own path string (`g:<path>` /
    *    `t:<path>`), so a reader resolves without out-of-band config:
    *    the manifest carries everything [[Snapshot.groupPin]] needs;
    *  - REPLAY-STABLE: each manifest records its batch id, and
    *    [[publish]] no-ops when that batch already has a snapshot — a
    *    replayed batch (crash after publish) re-resolves the identical
    *    tuple even though its idempotent re-extends bumped the
    *    artifacts' raw group versions;
    *  - ONE pipeline root PER LOOP: batch ids are the replay identity,
    *    and two loops sharing a root would collide on them (both have
    *    a batch 0) — give each admission stream its own `pipelinePath`;
    *  - consumption composes with the per-artifact named readers
    *    (DedupIndex.loadFrames(groupVersion), ArtifactSnapshot.readAt):
    *    this layer stores WHICH group each artifact was at, the
    *    artifact layers resolve the rest — strictly, never falling
    *    forward.
    */
  object PipelineSnapshot {

    /** One pinned artifact: `grouped` = composite (version is its root
      * GROUP version) vs plain table (version is its manifest version).
      */
    final case class Pin(path: String, grouped: Boolean, version: Long)

    /** `loop`: the admission loop that published this snapshot ("" on
      * pre-r13 single-loop roots). `served`: the GROUP version each
      * artifact was SERVED from when the batch drew its verdicts —
      * pre-effect, vs `pins`' post-effect state — recorded so an audit
      * replay re-derives batch N's verdicts from snapshot N alone
      * (without it, the post-extend pin re-draws the batch's own
      * admissions as already-indexed dups).
      */
    final case class Snapshot(version: Long, batchId: Long, loop: String,
                              pins: Seq[Pin], served: Map[String, Long]) {
      private def find(path: String, grouped: Boolean): Option[Long] =
        pins.find(p => p.grouped == grouped && p.path == path).map(_.version)
      /** The GROUP version `path`'s composite artifact was pinned at —
        * feed it to the artifact's named reader
        * (`DedupIndex.loadFrames(_, Some(v))`, `ArtifactSnapshot
        * .readAt`). Throws on an unpinned artifact: silently serving
        * latest would defeat the reproducibility the pin is for.
        */
      def groupPin(path: String): Long =
        find(path, grouped = true).getOrElse(throw new IllegalArgumentException(
          s"PipelineSnapshot: batch $batchId (v$version) does not pin a " +
            s"grouped artifact at $path (pins: ${pins.map(_.path).sorted.mkString(", ")})"))
      /** The manifest version `path`'s plain table was pinned at. */
      def tablePin(path: String): Long =
        find(path, grouped = false).getOrElse(throw new IllegalArgumentException(
          s"PipelineSnapshot: batch $batchId (v$version) does not pin a " +
            s"table at $path (pins: ${pins.map(_.path).sorted.mkString(", ")})"))
      /** The GROUP version the batch SERVED its verdicts from (pre-
        * effect) — the verdict-replay pin. None on pre-r13 snapshots;
        * audits then fall back to [[groupPin]] with post-effect
        * semantics (the batch's own admissions re-draw as dups).
        */
      def servedGroupPin(path: String): Option[Long] = served.get(path)
    }

    private val BatchKey = "batch"

    private def decode(version: Long, parts: Map[String, Long]): Snapshot = {
      val (batchId, loop) = parts.collectFirst {
        case (BatchKey, v) => (v, "")
        case (k, v) if k.startsWith(BatchKey + ":") =>
          (v, k.drop(BatchKey.length + 1))
      }.getOrElse((-1L, ""))
      Snapshot(version, batchId, loop,
        parts.toSeq.collect {
          case (k, v) if k.startsWith("g:") => Pin(k.drop(2), grouped = true, v)
          case (k, v) if k.startsWith("t:") => Pin(k.drop(2), grouped = false, v)
        }.sortBy(_.path),
        parts.collect { case (k, v) if k.startsWith("s:") => k.drop(2) -> v })
    }

    /** Publish the pipeline snapshot for `batchId`: pin every composite
      * artifact in `grouped` at its CURRENT latest group version and
      * every plain table in `tables` at its CURRENT latest manifest
      * version — call it as the batch's last step, after every effect
      * landed. Idempotent per batch: if `batchId` already has a
      * snapshot on disk, its version is returned unchanged (the replay
      * contract — re-extends bump raw artifact versions, but the batch
      * keeps resolving the tuple its ORIGINAL publish pinned). Fails
      * loudly on an artifact with no committed group/manifest — a
      * pipeline stage that never committed is a wiring bug, not a
      * skippable pin.
      */
    /** `pin`: explicit versions for entries the caller already resolved
      * — a loop that READS a dependency table mid-batch must pin the
      * version its verdicts actually used, not latest-at-publish (a
      * concurrent retrain landing between the read and the publish
      * would otherwise be pinned as if the batch had seen it — the same
      * capture-at-read rule ArtifactSnapshot.commit's `pin` carries).
      * Artifacts the loop itself MUTATES pin latest: the snapshot
      * records the state the batch's effects left.
      */
    /** `served`: the GROUP version each artifact was SERVED from when
      * the batch drew its verdicts (captured at serve time by the loop)
      * — recorded as `s:<path>` next to the post-effect `g:` pin, so
      * one snapshot carries both "what the verdicts read" and "what the
      * effects left" (r13; ADVICE r12 on curationVerdictsAt).
      *
      * `loop`: names the publishing admission loop so SEVERAL loops can
      * share ONE pipeline root — batch ids are only unique per loop, so
      * the replay identity is (loop, batch). "" keeps the pre-r13
      * single-loop manifest format.
      */
    def publish(spark: SparkSession, root: String, batchId: Long,
                grouped: Seq[String], tables: Seq[String] = Seq.empty,
                pin: Map[String, Long] = Map.empty,
                keep: Int = 64,
                served: Map[String, Long] = Map.empty,
                loop: String = ""): Long = {
      require(batchId >= 0L, "PipelineSnapshot.publish: batchId must be >= 0")
      require(grouped.nonEmpty || tables.nonEmpty,
        "PipelineSnapshot.publish: nothing to pin")
      require(loop.forall(c => c.isLetterOrDigit || c == '_' || c == '-' ||
          c == '.'),
        s"PipelineSnapshot.publish: loop name '$loop' must be [A-Za-z0-9._-]*" +
          " (it is embedded in the manifest key)")
      forBatch(spark, root, batchId, loop) match {
        case Some(s) => s.version
        case None =>
          val batchKey = if (loop.isEmpty) BatchKey else s"$BatchKey:$loop"
          val parts: Map[String, Long] =
            (grouped.map { p =>
              def g = VersionedTable.latestGroup(spark, p).getOrElse(
                throw new IllegalStateException(
                  s"PipelineSnapshot.publish: no group commits at $p — the " +
                    "artifact must publish its own root snapshot before the " +
                    "pipeline can pin it"))._1
              s"g:$p" -> pin.getOrElse(p, g)
            } ++ tables.map { p =>
              def v = VersionedTable.latestManifest(spark, p).getOrElse(
                throw new IllegalStateException(
                  s"PipelineSnapshot.publish: no commits at table $p"))._1
              s"t:$p" -> pin.getOrElse(p, v)
            } ++ served.map { case (p, v) => s"s:$p" -> v }
              :+ (batchKey -> batchId)).toMap
          VersionedTable.commitGroupWith(spark, root, keep = keep)(_ => parts)
      }
    }

    /** The latest pipeline snapshot, or None before the first publish. */
    def latest(spark: SparkSession, root: String): Option[Snapshot] =
      VersionedTable.latestGroup(spark, root).map((decode _).tupled)

    /** A NAMED pipeline snapshot — throws when pruned/absent (same
      * refusal as [[ArtifactSnapshot.readAt]]: pipeline retention is
      * [[publish]]'s `keep` budget).
      */
    def at(spark: SparkSession, root: String, version: Long): Snapshot =
      VersionedTable.groupAt(spark, root, version).map(decode(version, _))
        .getOrElse(throw new IllegalArgumentException(
          s"PipelineSnapshot.at: no intact pipeline manifest $version at " +
            s"$root (retention pruned it, or it never existed)"))

    /** The snapshot a given (loop, batch) published, scanning the
      * retained window (publish cadence is per-batch, so the window is
      * also the replay horizon). The no-loop overload matches ANY loop
      * — only safe on single-loop roots (the pre-r13 shape).
      */
    def forBatch(spark: SparkSession, root: String,
                 batchId: Long): Option[Snapshot] =
      recent(spark, root, Int.MaxValue).find(_.batchId == batchId)

    def forBatch(spark: SparkSession, root: String, batchId: Long,
                 loop: String): Option[Snapshot] =
      recent(spark, root, Int.MaxValue)
        .find(s => s.batchId == batchId && s.loop == loop)

    /** The newest `n` retained snapshots, newest first — the window a
      * maintenance sweep shields ([[protectedTablePins]]) and the
      * cross-loop compose scans.
      */
    def recent(spark: SparkSession, root: String, n: Int): Seq[Snapshot] =
      VersionedTable.recentGroups(spark, root, n).map((decode _).tupled)

    /** The newest snapshot a specific loop published to a SHARED root
      * (each loop's [[latest]]).
      */
    def latestFor(spark: SparkSession, root: String,
                  loop: String): Option[Snapshot] =
      recent(spark, root, Int.MaxValue).find(_.loop == loop)

    /** The whole multi-loop pipeline "as of" pipeline version `v`: for
      * every loop that has published to `root`, its newest snapshot with
      * version <= `v` — ONE reference an auditor resolves a 4-loop
      * deployment through instead of correlating four roots by hand.
      * Loops that first published after `v` are absent from the map.
      */
    def asOf(spark: SparkSession, root: String,
             v: Long): Map[String, Snapshot] =
      recent(spark, root, Int.MaxValue)
        .filter(_.version <= v)
        .groupBy(_.loop)
        .map { case (loop, ss) => loop -> ss.maxBy(_.version) }

    /** True iff `root` holds PIPELINE manifests (artifact-path pins),
      * not a composite artifact's sub-table pins — the classifier the
      * maintenance sweep uses to route each group root.
      */
    def isPipelineRoot(spark: SparkSession, root: String): Boolean =
      VersionedTable.latestGroup(spark, root).exists(_._2.keys.exists(k =>
        k == BatchKey || k.startsWith(BatchKey + ":") ||
          k.startsWith("g:") || k.startsWith("t:") || k.startsWith("s:")))

    /** TWO-LEVEL pin propagation (r13): every per-table manifest version
      * the newest `window` pipeline snapshots pin — directly (`t:`
      * table pins) or THROUGH an artifact group (`g:`/`s:` pins resolve
      * via the group manifest to that group's sub-table versions).
      * Feed the result into [[VersionedTable.vacuumVersioned]]'s
      * `protect` (as [[Artifacts.maintainAll]] does) so a reader
      * resolving through any pipeline snapshot in the window keeps
      * serving byte-identically across maintenance sweeps — the C93
      * retention contract one level up: without this, `protectGroups`
      * shields only each artifact's own newest groups, and a pipeline
      * snapshot older than that silently loses the table versions
      * under it to the keep budget.
      *
      * Keys are fully-QUALIFIED table paths (the [[VersionedTable
      * .discover]] form) so the sweep's string-equality pin lookup
      * matches regardless of how the loop spelled `pipelinePath`.
      * Group pins already pruned from their artifact root are skipped
      * (nothing left to shield; [[health]] reports them).
      */
    def protectedTablePins(spark: SparkSession, root: String,
                           window: Int): Map[String, Set[Long]] = {
      def qual(p: String): String = {
        val hp = new Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(hp).toString
      }
      recent(spark, root, window).flatMap { snap =>
        val groupPins = snap.pins.filter(_.grouped).map(p => p.path -> p.version) ++
          snap.served.toSeq
        groupPins.distinct.flatMap { case (artPath, g) =>
          VersionedTable.groupAt(spark, artPath, g).toSeq.flatMap(_.toSeq)
            .map { case (sub, v) => s"${qual(artPath)}/$sub" -> v }
        } ++
          snap.pins.filterNot(_.grouped).map(p => qual(p.path) -> p.version)
      }.groupMapReduce(_._1)(t => Set(t._2))(_ ++ _)
    }

    /** One pin's health: does the pinned group/table manifest still
      * exist at its artifact — and, for group pins, does every
      * sub-table version that group pins still exist (the TWO-LEVEL
      * check: a group manifest whose underlying table versions were
      * vacuumed refuses at read exactly like a missing group)?
      * `snapshot` names the pipeline version the pin came from (health
      * can span a window); `served` marks verdict-replay (`s:`) pins.
      */
    final case class PinHealth(path: String, grouped: Boolean,
                               version: Long, resolvable: Boolean,
                               snapshot: Long = -1L, served: Boolean = false)

    /** Health of the newest `window` pipeline snapshots' pins — run it
      * on the maintenance cadence: an unresolvable pin means retention
      * outran the pipeline's consumers and named reads will refuse.
      * Default window 1 = the latest snapshot (pre-r13 behavior);
      * match it to [[Artifacts.maintainAll]]'s `protectPipelines` so
      * the report covers exactly the window the sweep promises.
      */
    def health(spark: SparkSession, root: String,
               window: Int = 1): Seq[PinHealth] = {
      def groupOk(path: String, g: Long): Boolean =
        VersionedTable.groupAt(spark, path, g).exists(_.forall {
          case (sub, v) => VersionedTable.manifestExists(spark, s"$path/$sub", v)
        })
      recent(spark, root, window).flatMap { snap =>
        snap.pins.map { p =>
          val ok =
            if (p.grouped) groupOk(p.path, p.version)
            else VersionedTable.manifestExists(spark, p.path, p.version)
          PinHealth(p.path, p.grouped, p.version, ok, snap.version)
        } ++ snap.served.toSeq.map { case (p, g) =>
          PinHealth(p, grouped = true, g, groupOk(p, g), snap.version,
            served = true)
        }
      }
    }
  }

  // ---------------- z-order layout (multi-dimensional data skipping) ----------------

  /** Morton/z-order interleave of two non-negative 16-bit-clamped
    * dimensions as a Spark SQL expression string — pure integer
    * shifts/masks inside one `aggregate` lambda, so it stays in
    * whole-stage codegen and mirrors nibble-for-nibble in the oracle.
    */
  def zOrderSqlExpr(x: String, y: String, bits: Int = 16): String =
    s"""aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) ->
       |  acc + shiftleft(shiftright(least($x, 65535L), i) & 1L, 2 * i)
       |      + shiftleft(shiftright(least($y, 65535L), i) & 1L, 2 * i + 1))""".stripMargin

  /** Z-order locality index over the documents corpus: interleaving the
    * bits of (n_chars, n_tok) gives one sort key under which documents
    * close in BOTH dimensions land in the same parquet files — so
    * range-partitioned, min/max-stats'd files let a 2-D predicate
    * (length band × token band) skip most of a 100 TB corpus, the
    * OPTIMIZE ZORDER pattern of lakehouse tables. The index itself is a
    * pure map-side projection (zero shuffles); [[writeZOrdered]] adds
    * the one range shuffle that materializes the layout.
    */
  def zOrderIndex(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("n_chars").cast("long").as("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("zval", expr(zOrderSqlExpr("n_chars", "n_tok")))

  val zOrderIndexSql: String =
    """WITH t AS (SELECT doc_id, n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
      |SELECT doc_id, n_chars, n_tok,
      |  CAST(list_sum(list_transform(range(0, 16), i ->
      |    (((least(n_chars, 65535) >> i) & 1) << (2 * i))
      |    + (((least(n_tok, 65535) >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
      |FROM t""".stripMargin

  /** Materialize the z-ordered layout: range-partition on the z-value
    * (each output file owns one contiguous z-range → disjoint min/max
    * stats) and sort within partitions so row groups inherit the
    * locality too. SinksSpec proves the skipping property: per-file
    * z-ranges are pairwise disjoint.
    */
  def writeZOrdered(indexed: DataFrame, path: String, numFiles: Int = 8): Unit =
    indexed
      .repartitionByRange(numFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder" -> ((s, d) => zOrderIndex(Tables.documents(s, d))))

  def oracle: Map[String, String] = Map(
    "q_zorder" -> zOrderIndexSql)
}
