package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Sinks, Tables}

/** Local-disk stand-ins for an OBJECT STORE's rename semantics
  * (copy+delete, last-writer-wins): RawLocalFileSystem's rename is
  * File.renameTo, which succeeds-and-overwrites when dst exists —
  * exactly the hazard s3a/gs/abfs present to a rename-based commit.
  * Registered under fs.<scheme>.impl in the tests below; one class per
  * scheme because getUri is fixed per class.
  */
class MockS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mocks3:///")
}
class MockS3PutFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mocks3put:///")
}

class SinksSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val tmp: String = Files.createTempDirectory("graft_sinks").toString
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to prove bucketing
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("date-partitioned sink lays out day= directories and prunes on read") {
    val path = s"$tmp/events_by_day"
    Sinks.writePartitionedByDay(Tables.events(spark, sf), "ts", path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("day=")))
    val back = Sinks.readPartitioned(spark, path)
    assert(back.count() == Tables.events(spark, sf).count())
    // partition pruning: scanning one day reads one partition directory
    val oneDay = back.filter(col("day") === dirs.head.stripPrefix("day="))
    val scanned = oneDay.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).headOption
    assert(oneDay.count() > 0)
  }

  test("dynamic partition pruning: a filtered dim join prunes the fact scan at runtime") {
    // The 100 TB shape: fact partitioned on the join key's functional
    // image (day), dim filter only known at runtime through the join.
    // DPP must inject a pruning subquery into the fact scan's partition
    // filters so untouched day= directories are never read.
    val path = s"$tmp/events_dpp"
    Sinks.writePartitionedByDay(Tables.events(spark, sf), "ts", path)
    val fact = Sinks.readPartitioned(spark, path)
    val allDays = fact.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val dim = {
      val s = spark
      import s.implicits._
      // a calendar dim ON DISK with a selective attribute: an in-memory
      // dim constant-folds to a LocalRelation whose filter disappears
      // before the PartitionPruning rule ever sees it (no DPP — found
      // the hard way), exactly why a real deployment's pruning dim is a
      // stored table
      allDays.map(d => (d, if (allDays.take(2).contains(d)) "keep" else "drop"))
        .toSeq.toDF("d", "tag")
        .select(to_date(col("d")).as("day"), col("tag"))
        .write.mode("overwrite").parquet(s"$tmp/calendar_dpp")
      spark.read.parquet(s"$tmp/calendar_dpp")
    }
    val joined = fact.join(broadcast(dim.filter(col("tag") === "keep")), "day")
    val scans = collectLeaves(joined.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pruned = scans.filter(_.partitionFilters.exists(
      _.toString.contains("dynamicpruning")))
    assert(pruned.nonEmpty,
      s"expected a dynamicpruning subquery in the fact scan's partition filters:\n" +
        scans.map(_.partitionFilters.mkString(",")).mkString("\n"))
    assert(joined.count() ==
      fact.filter(col("day").cast("string").isin(allDays.take(2): _*)).count())
  }

  test("bucketed tables join without a shuffle exchange") {
    Sinks.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
      "o_custkey", 4, "orders_b")
    Sinks.writeBucketed(
      Tables.customer(spark, sf).select("c_custkey", "c_name"),
      "c_custkey", 4, "customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_name").agg(sum("o_totalprice").as("total"))
    assert(joined.count() > 0)
    val shufflesBeforeAgg = collectWithSubqueries(joined.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    // exactly one shuffle (the final groupBy on c_name); the join itself
    // must be shuffle-free because both sides are co-bucketed on the key
    assert(shufflesBeforeAgg.size == 1,
      s"expected only the agg shuffle, got ${shufflesBeforeAgg.size}")
  }

  test("z-ordered write: per-file z-ranges are disjoint and the interleave is exact") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val idx = graft.sources.Sinks.zOrderIndex(docs)
    // the interleave matches a bit-for-bit scala reference
    idx.limit(50).collect().foreach { r =>
      val (nc, nt, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (x, y) = (math.min(nc, 65535L), math.min(nt, 65535L))
      var ref = 0L
      for (i <- 0 until 16) {
        ref += ((x >> i) & 1L) << (2 * i)
        ref += ((y >> i) & 1L) << (2 * i + 1)
      }
      assert(ref == z, s"zval mismatch for ($nc, $nt): expected $ref got $z")
    }
    // each written file owns a contiguous z-range disjoint from the others
    // — the property parquet min/max skipping needs for 2-D predicates
    val dir = s"$tmp/zorder"
    graft.sources.Sinks.writeZOrdered(idx, dir, numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 2, "expected a multi-file z-ordered layout")
    val ranges = files.map { f =>
      val b = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min("zval"),
          org.apache.spark.sql.functions.max("zval")).head()
      (b.getLong(0), b.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping z-ranges: $ranges")
      case _ =>
    }
  }

  test("mergeUpsert round-trip: base + delta on disk == upsertUsers in memory") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/users_merge"
    val base = Seq((1L, "old_alice", 100L), (2L, "bob", 100L))
      .toDF("user_id", "username", "last_updated_us")
    val delta = Seq((1L, "alice", 200L), (3L, "carol", 150L))
      .toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsert(spark, path, base, Seq("user_id"), "last_updated_us")
    Sinks.mergeUpsert(spark, path, delta, Seq("user_id"), "last_updated_us")
    val onDisk = spark.read.parquet(path)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val inMem = graft.pipeline.GraftPipeline.upsertUsers(base, delta)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(onDisk == inMem)
    assert(onDisk == Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
    // version tie: the delta row must win, like ON CONFLICT DO UPDATE
    val tie = Seq((2L, "bob_v2", 100L)).toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsert(spark, path, tie, Seq("user_id"), "last_updated_us")
    val bob = spark.read.parquet(path).filter(col("user_id") === 2).head()
    assert(bob.getString(1) == "bob_v2")
    // the crash-safe swap leaves no __staging/__prev residue on success
    assert(!new java.io.File(path + "__staging").exists())
    assert(!new java.io.File(path + "__prev").exists())
  }

  test("mergeUpsertBucketed rewrites only delta-touched buckets") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/users_merge_bucketed"
    val base = (1L to 100L).map(i => (i, s"u$i", 100L))
      .toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsertBucketed(spark, path, base, Seq("user_id"), "last_updated_us", numBuckets = 8)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.lastModified()).toMap
    assert(dirs.keys.forall(_.startsWith("bucket=")))
    Thread.sleep(1100) // ensure mtime resolution separates the two writes
    val delta = Seq((1L, "u1_new", 200L), (101L, "u101", 200L))
      .toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsertBucketed(spark, path, delta, Seq("user_id"), "last_updated_us", numBuckets = 8)
    val after = spark.read.parquet(path)
    assert(after.count() == 101)
    assert(after.filter(col("user_id") === 1).head().getString(1) == "u1_new")
    // untouched buckets must keep their original directories (no rewrite)
    val dirsAfter = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.lastModified()).toMap
    val untouched = dirs.keySet.intersect(dirsAfter.keySet)
      .filter(b => dirs(b) == dirsAfter(b))
    assert(untouched.nonEmpty, "expected at least one bucket directory left un-rewritten")
  }

  test("mergeUpsert recovers a table parked at __prev by an interrupted swap") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/users_merge_crash"
    val base = Seq((1L, "alice", 100L), (2L, "bob", 100L))
      .toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsert(spark, path, base, Seq("user_id"), "last_updated_us")
    // Simulate a crash between the two swap renames: the table sits at
    // __prev and the target is gone.
    val dir = new java.io.File(path)
    assert(dir.renameTo(new java.io.File(path + "__prev")))
    val delta = Seq((3L, "carol", 200L)).toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsert(spark, path, delta, Seq("user_id"), "last_updated_us")
    // The re-run must restore the parked base rows, not drop them.
    val got = spark.read.parquet(path).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
    assert(!new java.io.File(path + "__prev").exists())
  }

  test("mergeUpsertBucketed recovers buckets parked by an interrupted swap") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/users_merge_bucketed_crash"
    val base = (1L to 100L).map(i => (i, s"u$i", 100L))
      .toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsertBucketed(spark, path, base, Seq("user_id"), "last_updated_us", numBuckets = 8)
    // Simulate a mid-loop crash: one bucket parked at __prev with its
    // target dir missing (swap died between renames), plus one STALE
    // parked bucket whose target still exists (its swap completed).
    val buckets = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(buckets.length >= 2)
    val prevRoot = new java.io.File(path + "__prev"); prevRoot.mkdirs()
    val interrupted = buckets(0)
    assert(new java.io.File(s"$path/$interrupted").renameTo(new java.io.File(prevRoot, interrupted)))
    val stale = new java.io.File(prevRoot, buckets(1)); stale.mkdirs() // empty stale park
    val before = spark.read.parquet(path).count() // table currently missing a bucket
    assert(before < 100)
    val delta = Seq((101L, "u101", 200L)).toDF("user_id", "username", "last_updated_us")
    Sinks.mergeUpsertBucketed(spark, path, delta, Seq("user_id"), "last_updated_us", numBuckets = 8)
    // All 100 base rows restored + the delta row; stale park discarded.
    assert(spark.read.parquet(path).count() == 101)
    assert(!prevRoot.exists())
  }

  test("VersionedTable: snapshot reads, time travel, and vacuum") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_basic"
    val v0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver")
    Sinks.VersionedTable.mergeUpsert(spark, path, v0, Seq("id"), "ver", numBuckets = 4)
    val v1 = Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "v", "ver")
    Sinks.VersionedTable.mergeUpsert(spark, path, v1, Seq("id"), "ver", numBuckets = 4)
    val latest = Sinks.VersionedTable.read(spark, path)
      .select("id", "v", "ver").as[(Long, String, Long)].collect().sortBy(_._1)
    assert(latest.toSeq == Seq((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 2L)))
    // time travel: version 0 still shows the pre-upsert state
    val old = Sinks.VersionedTable.read(spark, path, Some(0L))
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(old.toSeq == Seq((1L, "a"), (2L, "b")))
    // vacuum to 1 version: the old manifest dies, the latest survives
    Sinks.VersionedTable.vacuumVersioned(spark, path, keep = 1)
    intercept[IllegalArgumentException] {
      Sinks.VersionedTable.read(spark, path, Some(0L)).collect()
    }
    assert(Sinks.VersionedTable.read(spark, path).count() == 3)
  }

  test("VersionedTable: concurrent writers lose no update; readers never see a torn version") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_concurrent"
    // Writers A and B upsert overlapping key ranges concurrently (keys
    // 10..19 contested), 3 rounds each, on a small bucket count so
    // bucket sets genuinely collide. B's versions are strictly higher,
    // so the expected final state is deterministic REGARDLESS of commit
    // interleaving: A's latest on 0..9, B's latest on 10..29. A lost
    // update (blind overwrite of a concurrent commit) would surface as
    // a missing or stale key.
    val rounds = 3
    def writer(keys: Range, verBase: Long, tag: String): Thread = new Thread(() => {
      for (i <- 1 to rounds) {
        val delta = keys.map(k => (k.toLong, s"$tag-$i", verBase + i)).toDF("id", "v", "ver")
        Sinks.VersionedTable.mergeUpsert(spark, path, delta, Seq("id"), "ver", numBuckets = 4)
      }
    })
    @volatile var readerFailure: Option[String] = None
    @volatile var writersDone = false
    val reader = new Thread(() => {
      var lastCount = 0L
      while (!writersDone && readerFailure.isEmpty) {
        if (Sinks.VersionedTable.latestManifest(spark, path).isDefined) {
          val rows = Sinks.VersionedTable.read(spark, path)
            .select("id").as[Long].collect()
          // committed versions only ever ADD keys, so a count drop or a
          // duplicated key means a torn/partial snapshot
          if (rows.length < lastCount)
            readerFailure = Some(s"count dropped ${rows.length} < $lastCount")
          else if (rows.distinct.length != rows.length)
            readerFailure = Some("duplicate key in a snapshot read")
          lastCount = rows.length
        }
      }
    })
    val a = writer(0 until 20, 100L, "A")
    val b = writer(10 until 30, 200L, "B")
    reader.start(); a.start(); b.start()
    a.join(); b.join()
    writersDone = true
    reader.join()
    assert(readerFailure.isEmpty, readerFailure.getOrElse(""))
    val fin = Sinks.VersionedTable.read(spark, path)
      .select("id", "v", "ver").as[(Long, String, Long)].collect().sortBy(_._1)
    assert(fin.length == 30, s"expected 30 keys, got ${fin.length}")
    fin.foreach { case (id, v, ver) =>
      if (id < 10) assert(v == s"A-$rounds" && ver == 100L + rounds, s"key $id: ($v, $ver)")
      else assert(v == s"B-$rounds" && ver == 200L + rounds, s"key $id: ($v, $ver)")
    }
  }

  test("VersionedTable: compaction collapses fragmented buckets into a new version, data unchanged") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_compact"
    // the staged write parallelizes each bucket across (bucket, key-hash)
    // partitions, so a multi-key merge into one bucket yields a
    // multi-file bucket dir — the fragmentation compaction exists for.
    // At test scale AQE would coalesce the tiny partitions back to one
    // file; disable coalescing for the merge to get the at-scale layout.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Sinks.VersionedTable.mergeUpsert(spark, path,
      (1L to 12L).map(i => (i, s"v$i", i)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 1)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val fragFiles = {
      val (_, m) = Sinks.VersionedTable.latestManifest(spark, path).get
      new java.io.File(s"$path/${m(0)}").listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    assert(fragFiles > 1, s"precondition: bucket should be multi-file, got $fragFiles")
    val before = Sinks.VersionedTable.read(spark, path)
      .as[(Long, String, Long, Int)].collect().sortBy(_._1)
    val (vBefore, _) = Sinks.VersionedTable.latestManifest(spark, path).get
    Sinks.VersionedTable.compact(spark, path)
    val (vAfter, buckets) = Sinks.VersionedTable.latestManifest(spark, path).get
    assert(vAfter == vBefore + 1, "compaction must commit exactly one new version")
    // every bucket now holds one file
    buckets.values.foreach { rel =>
      val files = new java.io.File(s"$path/$rel").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"bucket $rel still has $files files")
    }
    val after = Sinks.VersionedTable.read(spark, path)
      .as[(Long, String, Long, Int)].collect().sortBy(_._1)
    assert(after.toSeq == before.toSeq, "compaction must not change table contents")
    // idempotent: nothing fragmented -> no new version
    Sinks.VersionedTable.compact(spark, path)
    assert(Sinks.VersionedTable.latestManifest(spark, path).get._1 == vAfter)
  }

  test("VersionedTable: bucket-pruned point lookup reads ONE bucket dir; bucketing is pinned") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_pruned"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      (1L to 64L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 8)
    // the point lookup touches exactly one bucket's files
    val look = Sinks.VersionedTable.readForKey(spark, path, Seq("id"), Seq(17L))
    val rows = look.select("id", "v").as[(Long, String)].collect()
    assert(rows.toSeq == Seq((17L, "v17")))
    val dirs = look.inputFiles.map(f => new java.io.File(f).getParentFile.getName).distinct
    assert(dirs.length == 1, s"lookup read ${dirs.length} bucket dirs: ${dirs.mkString(",")}")
    assert(Sinks.VersionedTable.storedNumBuckets(spark, path).contains(8))
    // a later merge passing the WRONG numBuckets must still bucket by
    // the table's recorded 8 — otherwise key 17's old version would be
    // stranded in a dir the merge never reads (silent duplicate)
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((17L, "v17b", 2L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 3)
    val after = Sinks.VersionedTable.read(spark, path)
      .filter(col("id") === 17L).select("id", "v").as[(Long, String)].collect()
    assert(after.toSeq == Seq((17L, "v17b")),
      s"expected one latest row for key 17, got ${after.toSeq}")
    assert(Sinks.VersionedTable.storedNumBuckets(spark, path).contains(8),
      "recorded bucket count must survive a mis-parameterized merge")
    assert(Sinks.VersionedTable.readForKey(spark, path, Seq("id"), Seq(17L))
      .select("v").as[String].collect().toSeq == Seq("v17b"))
  }

  test("VersionedTable: additive schema evolution — new delta column null-fills old rows") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_evolve"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 4)
    // the delta brings a NEW column; key 2 is updated, key 1 untouched
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((2L, "b2", 2L, "fr"), (3L, "c", 2L, "de")).toDF("id", "v", "ver", "lang"),
      Seq("id"), "ver", numBuckets = 4)
    val rows = Sinks.VersionedTable.read(spark, path)
      .select("id", "v", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getString(2)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", null), (2L, "b2", "fr"), (3L, "c", "de")),
      s"got ${rows.toSeq}")
    // pruned point lookups see the merged schema too
    val p1 = Sinks.VersionedTable.readForKey(spark, path, Seq("id"), Seq(2L))
    assert(p1.columns.contains("lang") &&
      p1.select("lang").as[String].collect().toSeq == Seq("fr"))
    // merges AFTER the evolution stay bucket-pruned: a delta touching
    // one key rewrites only that key's bucket — every other manifest
    // entry carries over BY REFERENCE (same dir string), including
    // pre-evolution dirs whose footers lack the new column
    val before = Sinks.VersionedTable.latestManifest(spark, path).get._2
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((2L, "b3", 3L, "it")).toDF("id", "v", "ver", "lang"),
      Seq("id"), "ver", numBuckets = 4)
    val after = Sinks.VersionedTable.latestManifest(spark, path).get._2
    val rewritten = after.filter { case (b, d) => before.get(b) != Some(d) }
    assert(rewritten.size == 1,
      s"post-evolution merge must rewrite exactly the touched bucket, got $rewritten")
    assert((before.keySet -- rewritten.keySet).forall(b => after(b) == before(b)),
      "untouched buckets (incl. pre-evolution footers) must carry over by reference")
    val evolved = Sinks.VersionedTable.read(spark, path)
      .select("id", "v", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) null else r.getString(2)))
      .sortBy(_._1)
    assert(evolved.toSeq == Seq((1L, "a", null), (2L, "b3", "it"), (3L, "c", "de")))
    // a merge without `lang` touching only a pre-evolution bucket keeps
    // `lang` in the table: the manifest's schema is the union
    val preEvolution = after.filter(_._2.startsWith("data/v00000000-")).keySet
    assert(preEvolution.nonEmpty, s"no bucket left from version 0: $after")
    val key = spark.range(100L, 1000L)
      .filter(pmod(hash(col("id")), lit(4)).isin(preEvolution.toSeq: _*))
      .head().longValue
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((key, "k", 4L)).toDF("id", "v", "ver"), Seq("id"), "ver", numBuckets = 4)
    val merged = Sinks.VersionedTable.read(spark, path)
    assert(merged.columns.contains("lang"), merged.columns.toSeq)
    assert(merged.filter(col("id") === key).select("lang").head().isNullAt(0))
    // the recorded schema is the one footer inference over the same dirs gives
    val dirs = Sinks.VersionedTable.latestManifest(spark, path).get._2.values.toSeq.sorted
      .map(d => s"$path/$d")
    assert(merged.schema ==
      spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema)
    // a manifest without the schema field (written before it existed)
    // reads the same rows and schema through footer inference
    def contents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val withSchema = contents(merged)
    val mf = new java.io.File(s"$path/_commits").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName)
    val body = java.nio.file.Files.readString(mf.toPath)
    val legacyBody = body.replaceAll("\"schema\":\\{.*\\},\"buckets\"", "\"buckets\"")
    assert(legacyBody != body && !legacyBody.contains("\"schema\""))
    java.nio.file.Files.writeString(mf.toPath, legacyBody)
    val legacy = Sinks.VersionedTable.read(spark, path)
    assert(legacy.schema == merged.schema)
    assert(contents(legacy) == withSchema)
  }

  test("VersionedTable.read of a committed table builds its frame without a Spark job") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_read_jobs"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 4)
    val (df, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      Sinks.VersionedTable.read(spark, path)
    }
    assert(jobs == 0, s"building the read submitted $jobs job(s)")
    assert(df.count() == 3L)
  }

  test("VersionedTable.bucketsOf equals Spark's pmod(hash(...), nb) column for Long, Int, String and (Long, Int) keys") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
    val rnd = new scala.util.Random(7)
    val longs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(1000)(rnd.nextLong())
    val ints = Seq(0, 1, -1, Int.MinValue, Int.MaxValue) ++ Seq.fill(1000)(rnd.nextInt())
    val strs = Seq("", "a", "ü", " ") ++
      Seq.fill(1000)(rnd.alphanumeric.take(rnd.nextInt(16)).mkString)
    val pairs = longs.zip(ints)
    def driver(nb: Int, types: Seq[DataType], keys: Seq[Seq[Any]]) =
      Sinks.VersionedTable.bucketsOf(nb, types.map(Some(_)), keys)
    def spark_(nb: Int, df: org.apache.spark.sql.DataFrame) =
      df.select(pmod(hash(df.columns.map(col).toSeq: _*), lit(nb))).as[Int].collect().toSeq
    for (nb <- Seq(16, 7, 64)) {
      assert(driver(nb, Seq(LongType), longs.map(Seq(_))) == spark_(nb, longs.toDF("k")))
      assert(driver(nb, Seq(IntegerType), ints.map(Seq(_))) == spark_(nb, ints.toDF("k")))
      assert(driver(nb, Seq(StringType), strs.map(Seq(_))) == spark_(nb, strs.toDF("k")))
      assert(driver(nb, Seq(LongType, IntegerType), pairs.map { case (l, i) => Seq(l, i) }) ==
        spark_(nb, pairs.toDF("k", "b")))
      // an Int probe of a BIGINT key hashes as the writer's long did
      assert(driver(nb, Seq(LongType), ints.map(Seq(_))) ==
        spark_(nb, ints.map(_.toLong).toDF("k")))
      // no recorded type: the value's own
      assert(Sinks.VersionedTable.bucketsOf(nb, Seq(None), ints.map(Seq(_))) ==
        spark_(nb, ints.toDF("k")))
    }
  }

  test("VersionedTable.readForKey submits no Spark job before its read") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_point_jobs"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      (0L until 40L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 8)
    val (df, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
      Sinks.VersionedTable.readForKey(spark, path, Seq("id"), Seq(17)) // Int probe, BIGINT key
    }
    assert(jobs == 0, s"readForKey submitted $jobs job(s) before its read")
    assert(df.select("v").as[String].collect().toSeq == Seq("v17"))
  }

  test("VersionedTable.replaceBuckets refuses a bucket-moving fold: same message, no staging dir left, nothing published") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_moved"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      (0L until 40L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 8)
    val before = Sinks.VersionedTable.latestManifest(spark, path).get
    val touched = before._2.keys.toSeq.sorted.take(2)
    val e = intercept[IllegalArgumentException] {
      // moves rows BETWEEN the two touched buckets: only the hash check sees it
      Sinks.VersionedTable.replaceBuckets(spark, path, Seq("id"), touched) { slice =>
        slice.withColumn("bucket",
          when(col("bucket") === touched(0), lit(touched(1))).otherwise(lit(touched(0))))
      }
    }
    assert(e.getMessage == "requirement failed: VersionedTable.replaceBuckets: fold changed " +
      s"rows' bucket identity at $path — the bucket column must be preserved", e.getMessage)
    assert(!new java.io.File(path).list().exists(_.startsWith(".staging-")),
      "the refused attempt must remove its staging dir")
    assert(Sinks.VersionedTable.latestManifest(spark, path).get == before)
    assert(Sinks.VersionedTable.versionCount(spark, path) == 1L)
  }

  test("VersionedTable: vacuum reclaims crash orphans (unreferenced data dirs + staging)") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_gc"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "v", "ver"), Seq("id"), "ver", numBuckets = 2)
    // simulate a writer crashed between staging its dirs and publishing:
    // an orphan data dir no manifest references, plus a staging dir
    val orphanData = new java.io.File(s"$path/data/v00000009-b0001-deadbeef")
    val orphanStaging = new java.io.File(s"$path/.staging-deadbeef")
    orphanData.mkdirs(); orphanStaging.mkdirs()
    new java.io.File(orphanData, "part-junk.parquet").createNewFile()
    // minAgeMs = 0: no live writer in this test — the production
    // default spares young dirs precisely because a mid-commit writer's
    // moved-but-unpublished dirs look like orphans
    Sinks.VersionedTable.vacuumVersioned(spark, path, keep = 2, minAgeMs = 0L)
    assert(!orphanData.exists(), "unreferenced data dir must be reclaimed")
    assert(!orphanStaging.exists(), "crashed staging dir must be reclaimed")
    // the committed version is untouched
    assert(Sinks.VersionedTable.read(spark, path).count() == 1)
  }

  test("VersionedTable: a torn newest manifest is skipped by readers and reclaimed by the next writer") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_torn"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 2)
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((2L, "b2", 2L)).toDF("id", "v", "ver"), Seq("id"), "ver")
    // simulate a torn manifest from a misbehaving store: version 2
    // exists by name but carries truncated JSON (parseBuckets over it
    // would yield a PARTIAL bucket map — the committed-data-loss mode
    // the round-7 advice flagged)
    val torn = new java.io.File(s"$path/_commits/00000002.json")
    java.nio.file.Files.writeString(torn.toPath,
      """{"version":2,"numBuckets":2,"buckets":{"0":"data/v000""")
    assert(torn.exists())
    // readers resolve the latest INTACT version (1), not the torn one
    val (v, _) = Sinks.VersionedTable.latestManifest(spark, path).get
    assert(v == 1L, s"latestManifest must skip the torn newest, got $v")
    val rows = Sinks.VersionedTable.read(spark, path)
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b2")))
    // a pinned read of the torn version fails cleanly, never parses partial JSON
    intercept[IllegalArgumentException] {
      Sinks.VersionedTable.read(spark, path, Some(2L))
    }
    // the next writer targets version 2, finds the torn occupant,
    // reclaims the name, and commits — no livelock, nothing lost
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((3L, "c", 3L)).toDF("id", "v", "ver"), Seq("id"), "ver")
    val (v2, _) = Sinks.VersionedTable.latestManifest(spark, path).get
    assert(v2 == 2L, s"writer must reclaim the torn version name, got $v2")
    val all = Sinks.VersionedTable.read(spark, path)
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(all.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("VersionedTable: point lookup hashes with the table's key TYPE (Int probe on a BIGINT key)") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_typed_probe"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      (1L to 64L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ver"),
      Seq("id"), "ver", numBuckets = 8)
    // hash(17: Int) != hash(17L): an untyped probe would compute the
    // wrong bucket and silently return empty for an existing key
    val hit = Sinks.VersionedTable.readForKey(spark, path, Seq("id"), Seq(17))
      .select("v").as[String].collect()
    assert(hit.toSeq == Seq("v17"),
      s"Int probe on BIGINT key must find the row, got ${hit.toSeq}")
  }

  test("VersionedTable: a store whose rename clobbers is REFUSED, not silently committed through") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    // Pin the hazard the allowlist exists for: on this FS, rename onto
    // an EXISTING destination succeeds and overwrites — a rename-based
    // manifest commit here would clobber a concurrent writer's
    // committed version.
    val fs = new org.apache.hadoop.fs.Path(s"mocks3:$tmp/probe").getFileSystem(conf)
    val a = new org.apache.hadoop.fs.Path(s"mocks3:$tmp/probe/a")
    val b = new org.apache.hadoop.fs.Path(s"mocks3:$tmp/probe/b")
    for ((p, txt) <- Seq(a -> "mine", b -> "yours")) {
      val out = fs.create(p, true); out.write(txt.getBytes("UTF-8")); out.close()
    }
    assert(fs.rename(a, b), "mock must emulate last-writer-wins rename")
    val clobbered = {
      val in = fs.open(b); val buf = new Array[Byte](4)
      in.readFully(0, buf); in.close(); new String(buf, "UTF-8")
    }
    assert(clobbered == "mine", "rename onto existing dst must overwrite (the S3A hazard)")

    val s = spark
    import s.implicits._
    val path = s"mocks3:$tmp/vt_refused"
    val ex = intercept[UnsupportedOperationException] {
      Sinks.VersionedTable.mergeUpsert(spark, path,
        Seq((1L, "a", 1L)).toDF("id", "v", "ver"), Seq("id"), "ver")
    }
    assert(ex.getMessage.contains("registerCommitStore"),
      s"refusal must point at the conditional-put seam, got: ${ex.getMessage}")
    // refused BEFORE any data staged: the table root was never created
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)),
      "an unsupported store must be refused before the attempt writes anything")
  }

  test("VersionedTable: a registered conditional-put commit store makes the same scheme safe") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocks3put.impl", classOf[MockS3PutFileSystem].getName)
    // A genuine put-if-absent for the mock store: link(2) on the
    // underlying local paths — fails EEXIST atomically, never clobbers.
    // (A real S3 implementation would be an If-None-Match PUT.)
    Sinks.VersionedTable.registerCommitStore("mocks3put",
      new Sinks.VersionedTable.ManifestCommitStore {
        def claim(fs: org.apache.hadoop.fs.FileSystem,
                  tmp: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path): Boolean =
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(dst.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      })
    val s = spark
    import s.implicits._
    val path = s"mocks3put:$tmp/vt_put"
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver"), Seq("id"), "ver")
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "v", "ver"), Seq("id"), "ver")
    val all = Sinks.VersionedTable.read(spark, path)
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(all.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    val (v, _) = Sinks.VersionedTable.latestManifest(spark, path).get
    assert(v == 1L, s"two merges -> versions 0 and 1, got latest $v")
  }

  test("VersionedTable: the bucket contract is recorded, verified, and legacy tables refuse a changed contract (r10)") {
    val s = spark
    import s.implicits._
    val path = s"$tmp/vt_contract"
    // bucket by a PREFIX of the merge key
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((1L, "x", "a", 1L), (1L, "y", "b", 1L), (2L, "x", "c", 1L))
        .toDF("id", "sub", "v", "ver"),
      Seq("id", "sub"), "ver", numBuckets = 4, bucketKeys = Seq("id"))
    assert(Sinks.VersionedTable.storedBucketKeys(spark, path).contains(Seq("id")),
      "the manifest must record the bucket contract")
    // a later writer with a DIFFERENT contract is refused loudly
    intercept[IllegalArgumentException] {
      Sinks.VersionedTable.mergeUpsert(spark, path,
        Seq((3L, "z", "d", 2L)).toDF("id", "sub", "v", "ver"),
        Seq("id", "sub"), "ver")
    }
    // the matching contract merges fine, and compaction carries the
    // contract through to its new manifest version
    Sinks.VersionedTable.mergeUpsert(spark, path,
      Seq((3L, "z", "d", 2L)).toDF("id", "sub", "v", "ver"),
      Seq("id", "sub"), "ver", bucketKeys = Seq("id"))
    Sinks.VersionedTable.compact(spark, path)
    assert(Sinks.VersionedTable.storedBucketKeys(spark, path).contains(Seq("id")))
    assert(Sinks.VersionedTable.read(spark, path).count() == 4)
    // legacy table (manifest predates the field): contract is keys-as-
    // bucket-cols — a prefix-bucketing caller is refused, keys-caller ok
    val legacy = s"$tmp/vt_legacy"
    Sinks.VersionedTable.mergeUpsert(spark, legacy,
      Seq((1L, "x", "a", 1L)).toDF("id", "sub", "v", "ver"),
      Seq("id", "sub"), "ver", numBuckets = 4)
    val cdir = new java.io.File(s"$legacy/_commits")
    val mf = cdir.listFiles().filter(_.getName.endsWith(".json")).head
    java.nio.file.Files.writeString(mf.toPath,
      java.nio.file.Files.readString(mf.toPath)
        .replaceAll("\"bucketCols\":\"[^\"]*\",", ""))
    assert(Sinks.VersionedTable.storedBucketKeys(spark, legacy).isEmpty)
    intercept[IllegalArgumentException] {
      Sinks.VersionedTable.mergeUpsert(spark, legacy,
        Seq((2L, "y", "b", 1L)).toDF("id", "sub", "v", "ver"),
        Seq("id", "sub"), "ver", bucketKeys = Seq("id"))
    }
    Sinks.VersionedTable.mergeUpsert(spark, legacy,
      Seq((2L, "y", "b", 1L)).toDF("id", "sub", "v", "ver"),
      Seq("id", "sub"), "ver")
    assert(Sinks.VersionedTable.read(spark, legacy).count() == 2)
  }

  test("Artifacts.maintainAll: discovers every table under a root, compacts, bounds versions, preserves rows (r11)") {
    import spark.implicits._
    import graft.operators.{Artifacts, TextOps}
    val root = s"$tmp/artifact_root"
    // heterogeneous artifacts under ONE root: a plain versioned table
    // fragmented by repeated upserts, and a tokenizer bundle (merges
    // table + vocab rollup + fertility table) — plus a decoy dir of
    // loose parquet that must NOT be discovered as a table
    val t1 = s"$root/plain/model"
    for (i <- 1 to 5)
      Sinks.VersionedTable.mergeUpsert(spark, t1,
        Seq((i.toLong, s"payload$i", i.toLong)).toDF("id", "payload", "build_v"),
        Seq("id"), "build_v", numBuckets = 2)
    val docs = Seq((1L, "aa bb aa cc"), (2L, "bb bb dd aa"), (3L, "cc dd aa bb"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    TextOps.commitTokenizer(docs, s"$root/bundle", "crawl-a", k = 4)
    docs.write.mode("overwrite").parquet(s"$root/loose/dump")
    val before1 = Sinks.VersionedTable.read(spark, t1).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val mergesBefore = TextOps.loadBpeMerges(spark, s"$root/bundle")
    val vocabBefore = TextOps.loadBpeVocab(spark, s"$root/bundle").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // discover returns fully-qualified URIs (file:/...) — match by suffix
    val found = Artifacts.discover(spark, root)
    assert(found.exists(_.endsWith("/plain/model")),
      s"discover missed the plain table: $found")
    assert(found.exists(_.endsWith("/merges")) && found.exists(_.contains("vocab")),
      s"discover missed bundle sub-tables: $found")
    assert(!found.exists(_.contains("loose")),
      s"loose parquet must not be discovered as a table: $found")
    // minAgeMs = 0 is the no-live-writer testing mode; the default (1h)
    // is the concurrent-writer guard and would keep fresh versions here
    val reports = Artifacts.maintainAll(spark, root, keepVersions = 2, minAgeMs = 0L)
    assert(reports.map(_.table).sorted == found.sorted,
      "one receipt row per discovered table")
    // retention bound holds on every table (t1 had 5 versions)
    assert(reports.forall(r => r.versionsAfter <= 3), // keep=2 (+1 compact commit)
      s"vacuum must bound versions: $reports")
    assert(reports.find(_.table.endsWith("/plain/model")).get.versionsBefore == 5L)
    // compaction: every bucket of t1's latest manifest is one file
    val (_, buckets) = Sinks.VersionedTable.latestManifest(spark, t1).get
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    buckets.values.foreach { rel =>
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(t1, rel))
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(n == 1, s"bucket $rel still fragmented: $n files")
    }
    // the sweep must never change logical content
    assert(Sinks.VersionedTable.read(spark, t1).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == before1)
    assert(TextOps.loadBpeMerges(spark, s"$root/bundle") == mergesBefore)
    assert(TextOps.loadBpeVocab(spark, s"$root/bundle").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == vocabBefore)
    // idempotent: a second sweep is a version no-op (nothing fragmented)
    val again = Artifacts.maintainAll(spark, root, keepVersions = 2, minAgeMs = 0L)
    assert(again.forall(r => r.versionsAfter <= 3))
  }

  test("maintainAll rollup fold hook: the sweep folds a fragmented rollup, ledger preserved, replays no-op, receipt filed once per jobId (r13)") {
    import spark.implicits._
    import graft.operators.{Artifacts, RollupIndex, TakedownLog}
    val root = s"$tmp/fold_root"
    val rp = s"$root/rollup"
    val shape = RollupIndex.RollupShape(Seq("k"),
      Seq(RollupIndex.AggSpec("sum", "v", "total")))
    for (i <- 1 to 6)
      RollupIndex.applyDelta(
        Seq(("a", i.toLong), ("b", 2L * i)).toDF("k", "v"), rp, s"d$i", shape)
    val before = RollupIndex.read(spark, rp, shape).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def partialRows(): Long = Sinks.VersionedTable.read(spark, s"$rp/state")
      .filter(col("row_kind") === "p").count()
    assert(partialRows() == 12L, "6 deltas x 2 keys of merge-on-read debt")
    val log = s"$root/receipts"
    Artifacts.maintainAll(spark, root, keepVersions = 2, minAgeMs = 0L,
      rollups = Map(rp -> shape), receiptLog = Some(log), jobId = "sweep-1")
    assert(partialRows() == 2L, "the sweep must fold to one partial row per key")
    assert(RollupIndex.read(spark, rp, shape).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == before,
      "the fold must not change the presented rollup")
    // receipt filed: idsFound counts the unfolded partial rows collapsed
    val filed = TakedownLog.read(spark, log).collect()
    assert(filed.length == 1 &&
      filed(0).getAs[String]("subTable") == "state" &&
      filed(0).getAs[Long]("idsFound") == 12L &&
      filed(0).getAs[String]("job_id") == "sweep-1",
      s"fold receipt must be queryable evidence: ${filed.toSeq}")
    // ledger preserved: a replayed delta after the fold still no-ops
    RollupIndex.applyDelta(Seq(("a", 999L)).toDF("k", "v"), rp, "d3", shape)
    assert(RollupIndex.read(spark, rp, shape).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq == before,
      "a replayed delta id must stay a no-op after the fold")
    // a replayed sweep under the SAME jobId folds idempotently and
    // never double-files the receipt
    Artifacts.maintainAll(spark, root, keepVersions = 2, minAgeMs = 0L,
      rollups = Map(rp -> shape), receiptLog = Some(log), jobId = "sweep-1")
    assert(TakedownLog.read(spark, log).count() == 1L,
      "the jobId guard must keep a replayed sweep from double-filing")
    // a receipt log without a jobId refuses up front
    intercept[IllegalArgumentException] {
      Artifacts.maintainAll(spark, root, minAgeMs = 0L,
        rollups = Map(rp -> shape), receiptLog = Some(log))
    }
  }

  test("snapshot-aware maintenance: pinned versions survive the vacuum budget; snapshotHealth reports fall-forwards (r11)") {
    import spark.implicits._
    import graft.operators.{Artifacts, TextOps}
    import Sinks.{ArtifactSnapshot, VersionedTable}
    val root = s"$tmp/snap_maint"
    val docs = Seq((1L, "aa bb aa cc"), (2L, "bb bb dd aa"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    TextOps.commitTokenizer(docs, s"$root/bundle", "crawl-a", k = 4)
    val mergesP = s"$root/bundle/merges"
    val pinned = ArtifactSnapshot.pinnedVersion(spark, s"$root/bundle", "merges").get
    val served = TextOps.loadBpeMerges(spark, s"$root/bundle")
    // crashed/raw mutations bump the raw merges table far past the pin
    for (i <- 1 to 6)
      TextOps.commitBpe(
        Seq((0, s"x$i", "y")).toDF("round", "left_sym", "right_sym"),
        s"$root/bundle", buildV = i.toLong)
    assert(VersionedTable.latestManifest(spark, mergesP).get._1 > pinned + 4)
    // keep=1 would normally drop the pinned version — the snapshot-aware
    // sweep protects it, so pinned readers never mass-fall-forward
    Artifacts.maintainAll(spark, root, keepVersions = 1, minAgeMs = 0L)
    assert(VersionedTable.manifestExists(spark, mergesP, pinned),
      "the root-snapshot pin must survive the vacuum budget")
    assert(TextOps.loadBpeMerges(spark, s"$root/bundle") == served,
      "snapshot readers must be unaffected by the sweep")
    // 5 pins since r13: merges + fertility + vocab/state + the byte
    // model's merges_bytes + fertility_bytes (one bundle, two tokenizers)
    val h = Artifacts.snapshotHealth(spark, root)
    assert(h.size == 1 && h.head.pinned == 5 && h.head.fallenForward.isEmpty,
      s"healthy snapshot must report no fall-forwards: $h")
    // the admission loops sweep the ARTIFACT ROOT directly — the pin
    // must be protected through that call shape too (path-qualification
    // regression guard)
    Artifacts.maintainAll(spark, s"$root/bundle", keepVersions = 1, minAgeMs = 0L)
    assert(VersionedTable.manifestExists(spark, mergesP, pinned),
      "the pin must survive a sweep rooted at the artifact itself")
    // a destroyed pinned manifest is the OBSERVABLE, and readers fall
    // forward to latest instead of crashing
    val mf = new java.io.File(s"$mergesP/_commits", f"$pinned%08d.json")
    assert(mf.delete(), s"test setup: could not delete $mf")
    val h2 = Artifacts.snapshotHealth(spark, root)
    assert(h2.head.fallenForward == Seq("merges"),
      s"the pruned pin must be reported: $h2")
    assert(TextOps.loadBpeMerges(spark, s"$root/bundle") ==
      Seq(("x6", "y")),
      "with the pin gone, readers fall forward to the raw latest")
  }

  test("historical-group retention: protectGroups keeps named snapshots byte-identical across sweeps; past the window readAt refuses loudly (r12)") {
    import spark.implicits._
    import graft.operators.Artifacts
    import Sinks.{ArtifactSnapshot, VersionedTable}
    val root = s"$tmp/hist_groups"
    val sub = s"$root/tbl"
    // four mutations, each bumping the sub-table AND publishing a root
    // snapshot — groups 0..3 pin tbl@0..3
    for (i <- 1 to 4) {
      VersionedTable.mergeUpsert(spark, sub,
        Seq((1L, s"v$i", i.toLong)).toDF("id", "payload", "build_v"),
        Seq("id"), "build_v", numBuckets = 2)
      ArtifactSnapshot.commit(spark, root, Seq("tbl"), refresh = Seq("tbl"))
    }
    val g = VersionedTable.latestGroup(spark, root).get._1
    assert(g == 3L, s"four commits must yield group 3, got $g")
    assert(ArtifactSnapshot.pinsRecent(spark, root, 2) ==
      Map("tbl" -> Set(2L, 3L)),
      "pinsRecent must union the newest N groups' pins")
    val before = ArtifactSnapshot.readAt(spark, root, "tbl", g - 1)
      .select("id", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(before == Seq((1L, "v3")), s"group ${g - 1} must pin tbl@2: $before")
    // keep=1 would normally age tbl@2 out — the protectGroups=2 window
    // shields both the latest AND the previous group's pins
    Artifacts.maintainAll(spark, root, keepVersions = 1, minAgeMs = 0L,
      protectGroups = 2)
    assert(ArtifactSnapshot.readAt(spark, root, "tbl", g - 1)
      .select("id", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == before,
      "a reader pinned inside the protectGroups window must survive the sweep byte-identically")
    // the latest group stays servable too, of course
    assert(ArtifactSnapshot.readAt(spark, root, "tbl", g)
      .select("payload").head().getString(0) == "v4")
    // group 0 pinned tbl@0 — OUTSIDE the window, its manifest is gone
    // and the named-snapshot read REFUSES instead of silently falling
    // forward to data the snapshot never pinned
    assert(!VersionedTable.manifestExists(spark, sub, 0L),
      "an unprotected historical pin must be reclaimed by the keep budget")
    val e = intercept[IllegalStateException] {
      ArtifactSnapshot.readAt(spark, root, "tbl", 0L)
    }
    assert(e.getMessage.contains("protectGroups"),
      s"the refusal must name the retention contract: ${e.getMessage}")
    // loop-local cadence (DedupIndex.maintain shape): same contract via
    // pinsRecent — covered here through the generic sweep; the group
    // manifests themselves are bounded separately by commitGroup's keep
  }

  test("VersionedTable: cross-table group commits — roundtrip, torn skip + reclaim, retention prune (r11)") {
    import Sinks.VersionedTable
    val root = s"$tmp/grp"
    assert(VersionedTable.latestGroup(spark, root).isEmpty,
      "an artifact with no group commits must read as None (legacy fallback)")
    intercept[IllegalArgumentException] {
      VersionedTable.commitGroup(spark, root, Map.empty)
    }
    assert(VersionedTable.commitGroup(spark, root,
      Map("codebooks" -> 1L, "codes" -> 2L)) == 0L)
    assert(VersionedTable.latestGroup(spark, root)
      .contains((0L, Map("codebooks" -> 1L, "codes" -> 2L))),
      "group parts must round-trip through the root manifest")
    assert(VersionedTable.commitGroup(spark, root,
      Map("codebooks" -> 1L, "codes" -> 3L)) == 1L)
    assert(VersionedTable.latestGroup(spark, root).get._2("codes") == 3L)
    // a TORN group manifest at a higher version is skipped by readers…
    val cdir = java.nio.file.Paths.get(root, "_root_commits")
    java.nio.file.Files.write(cdir.resolve("00000002.json"),
      "{\"version\":2,\"parts\":{\"codeb".getBytes("UTF-8"))
    assert(VersionedTable.latestGroup(spark, root).get ==
      (1L, Map("codebooks" -> 1L, "codes" -> 3L)),
      "a torn newest group manifest must not be read")
    // …and RECLAIMED by the next committer (same protocol as per-table)
    assert(VersionedTable.commitGroup(spark, root, Map("codes" -> 4L)) == 2L)
    assert(VersionedTable.latestGroup(spark, root)
      .contains((2L, Map("codes" -> 4L))))
    // retention: the winner prunes groups older than the newest `keep`
    (0 until 6).foreach(i =>
      VersionedTable.commitGroup(spark, root, Map("codes" -> (5L + i)), keep = 3))
    val files = java.nio.file.Files.list(cdir).iterator()
    val names = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).filter(_.endsWith(".json")).toSeq
    assert(names.size == 3, s"keep=3 must bound the group history: $names")
    assert(VersionedTable.latestGroup(spark, root).get._1 == 8L,
      "the newest group must survive the prune")
  }

  test("group-commit race: the loser re-derives pins from the winner's snapshot — a concurrent takedown is never re-exposed (r11 review)") {
    import spark.implicits._
    import Sinks.{ArtifactSnapshot, VersionedTable}
    val root = s"$tmp/grp_race"
    def up(sub: String, v: Long): Unit =
      VersionedTable.mergeUpsert(spark, s"$root/$sub",
        Seq((1L, s"payload$v", v)).toDF("id", "payload", "build_v"),
        Seq("id"), "build_v", numBuckets = 1)
    up("a", 0L); up("b", 0L)
    ArtifactSnapshot.commit(spark, root, Seq("a", "b"), refresh = Seq("a", "b"))
    // mutator M1 refreshes ONLY b; in M1's publish window a competing
    // mutator M2 rewrites a (the takedown shape) and snapshots. M1
    // loses the version race and MUST re-derive — publishing its
    // pre-race pins would point the newest snapshot back at the
    // pre-takedown version of a (re-exposing retracted content).
    VersionedTable.beforeGroupPublishHook = () => {
      VersionedTable.beforeGroupPublishHook = () => () // nested commit must not recurse
      up("a", 1L)
      ArtifactSnapshot.commit(spark, root, Seq("a", "b"), refresh = Seq("a"))
    }
    try {
      up("b", 1L)
      ArtifactSnapshot.commit(spark, root, Seq("a", "b"), refresh = Seq("b"))
    } finally VersionedTable.beforeGroupPublishHook = () => ()
    val (gv, parts) = VersionedTable.latestGroup(spark, root).get
    assert(gv == 2L, s"the loser must have retried into a THIRD group: $gv")
    assert(parts == Map("a" -> 1L, "b" -> 1L),
      s"the loser must carry the winner's refresh of a, not revert it: $parts")
  }

  test("non-bucketed join of the same data DOES shuffle both sides (control)") {
    val joined = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
      .join(Tables.customer(spark, sf).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_name").agg(sum("o_totalprice").as("total"))
    assert(joined.count() > 0)
    val shuffles = collectWithSubqueries(joined.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.size >= 2, s"control should shuffle join inputs, got ${shuffles.size}")
  }
}
