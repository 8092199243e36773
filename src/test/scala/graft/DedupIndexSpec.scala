package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupIndex
import graft.sources.Tables

/** C66 — the committed corpus dedup index: artifact round-trip,
  * incremental extend ≡ fresh rebuild, idempotent re-ingest, and the
  * serve→admit→extend crawl loop.
  */
class DedupIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-dedupix-$tag").toString

  private def verdicts(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("serve from the committed artifact == the in-session oracle core, row for row") {
    val docs = Tables.documents(spark, sf)
    val path = tmp("roundtrip")
    DedupIndex.build(docs, path)
    val batch = DedupIndex.plantedBatch(docs)
    val served = verdicts(DedupIndex.serve(batch, path))
    val direct = verdicts(DedupIndex.dedupVsCorpus(docs))
    assert(served.nonEmpty)
    assert(served == direct,
      "the artifact round-trip (parquet + manifest) must not change one verdict")
    // all three classes are exercised by the planted batch
    val kinds = served.values.map(_._1).toSet
    assert(kinds == Set("exact", "near", "new"), s"planted batch hit only $kinds")
  }

  test("root snapshot: a serve never sees half an extend; retract + completed extends refresh the pins (r11)") {
    import graft.sources.Sinks.{ArtifactSnapshot, VersionedTable}
    val docs = Tables.documents(spark, sf)
    val path = tmp("snap")
    DedupIndex.build(docs, path)
    val g0 = VersionedTable.latestGroup(spark, path).get
    Seq("fps", "sigs", "bands").foreach { n =>
      assert(g0._2(n) ==
        VersionedTable.latestManifest(spark, s"$path/$n").get._1,
        s"build's snapshot must pin $n at its latest manifest")
    }
    // HALF an extend (crash after the fps merge, before sigs/bands):
    // raw-merge one novel doc's fingerprint row only
    import spark.implicits._
    val novel = Seq((4999999L, "wholly novel text zq xv jkw")).toDF("doc_id", "text")
    VersionedTable.mergeUpsert(spark, s"$path/fps",
      DedupIndex.fps(novel).withColumn("build_v", lit(7L)),
      Seq("doc_id"), "build_v", numBuckets = 16)
    // a snapshot-resolved serve of that doc classifies it NEW — the
    // torn fps version is invisible (pre-snapshot, serve would have
    // flagged it exact from fps while its bands/sigs don't exist)
    val v = verdicts(DedupIndex.serve(novel, path))
    assert(v(4999999L)._1 == "new",
      s"a reader crossed the half-extend window: $v")
    assert(ArtifactSnapshot.read(spark, path, "fps")
      .filter(col("doc_id") === 4999999L).count() == 0)
    // the COMPLETED extend (replay) lands all three and refreshes pins
    DedupIndex.extend(novel, path, buildV = 8L)
    assert(verdicts(DedupIndex.serve(novel, path))(4999999L)._1 == "exact",
      "the completed extend must serve at the refreshed snapshot")
    // retract refreshes the pins too — immediately visible at serve
    DedupIndex.retract(spark, path, Seq(4999999L))
    assert(verdicts(DedupIndex.serve(novel, path))(4999999L)._1 == "new",
      "the takedown must be visible at the next snapshot-resolved serve")
    // REPRODUCIBLE serving: a job pinned to the pre-retract snapshot
    // resolves exactly that moment's tuple (the doc still classifies
    // exact there); an unknown group version refuses loudly
    val gNow = VersionedTable.latestGroup(spark, path).get._1
    val (pf, ps, pb) = DedupIndex.loadFrames(spark, path, Some(gNow - 1))
    assert(verdicts(DedupIndex.matchAgainst(novel, pf, ps, pb))(4999999L)._1 == "exact",
      "a serve pinned to the pre-retract group must see the pre-retract tuple")
    val bad = intercept[IllegalArgumentException] {
      DedupIndex.loadFrames(spark, path, Some(999999L))
    }
    assert(bad.getMessage.contains("no intact group manifest"), bad.getMessage)
    graft.GraftCache.releaseAll(spark)
  }

  test("containment lens: served == in-session core; extend == rebuild; quote flagged that serve misses") {
    val docs = Tables.documents(spark, sf)
    val path = tmp("contain")
    DedupIndex.buildContain(docs, path)
    val batch = DedupIndex.plantedContainBatch(docs)
    def rows(df: DataFrame): Map[Long, (String, Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val served = rows(DedupIndex.serveContain(batch, path))
    val direct = rows(DedupIndex.containVsCorpus(docs))
    assert(served.nonEmpty && served == direct,
      "committed containment round-trip must not change one verdict")
    assert(served.values.map(_._1).toSet == Set("contained", "new"))
    // the signature case: a QUOTE is contained here but `new` to the
    // exact/near serve (the gap C72 exists for)
    val quoteIds = batch
      .filter(pmod(col("doc_id") - DedupIndex.BatchIdOffset, lit(3L)) === 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(quoteIds.nonEmpty && quoteIds.forall(id => served(id)._1 == "contained"),
      "every planted quote must be flagged contained")
    DedupIndex.build(docs, path) // exact/near tables alongside
    val exactNear = verdicts(DedupIndex.serve(batch, path))
    // quotes of LONG docs (10 of 40+ tokens → Jaccard ≲ 0.25): contained
    // here, invisible to the exact/near serve — the gap C72 closes. (A
    // quote of a short doc can legitimately band-collide as near.)
    val longQuoteIds = docs
      .filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .filter(pmod(col("doc_id"), lit(3L)) === 0L)
      .filter(size(split(col("text"), " ")) >= 40)
      .select((col("doc_id") + DedupIndex.BatchIdOffset).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(longQuoteIds.nonEmpty, "need at least one long-doc quote at this SF")
    assert(longQuoteIds.forall(id => exactNear(id)._1 == "new"),
      "sanity: the exact/near serve must miss long-doc quotes (Jaccard ≈ |A|/|B|)")
    assert(longQuoteIds.forall(id => served(id)._1 == "contained"))
    // extend∘build == build(union), and replay is a no-op
    val half1 = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
    val half2 = docs.filter(pmod(col("doc_id"), lit(2L)) === 1L)
    val inc = tmp("contain-inc")
    DedupIndex.buildContain(half1, inc, buildV = 0L)
    DedupIndex.extendContain(half2, inc, buildV = 1L)
    assert(rows(DedupIndex.serveContain(batch, inc)) == served,
      "incremental containment extend must equal the fresh full build")
    DedupIndex.extendContain(half2, inc, buildV = 1L) // replayed ingest
    assert(rows(DedupIndex.serveContain(batch, inc)) == served,
      "re-ingest must be an idempotent no-op")
    // maintenance covers the opt-in rsh table too (compact + vacuum),
    // and serving through it is unchanged
    DedupIndex.maintain(spark, inc, keepVersions = 1)
    assert(rows(DedupIndex.serveContain(batch, inc)) == served,
      "maintenance must not change containment verdicts")
  }

  test("band occupancy: committed artifact == in-session arithmetic; cap stats flag the planted mega-bucket (r12)") {
    import spark.implicits._
    import graft.operators.Dedup
    val boiler = "this exact boilerplate footer repeats on every single page here"
    val docs = ((1L to 6L).map(i => (i, boiler)) ++ Seq(
      (10L, "a genuinely distinct first document with its own words"),
      (11L, "another unrelated body of text that shares no shingles"),
      (12L, "the third standalone page talking about something else")))
      .toDF("doc_id", "text")
    val path = tmp("bandocc")
    DedupIndex.build(docs, path)
    val cap = 4
    def canon(df: DataFrame): Seq[Seq[Long]] =
      df.collect().map(r => (0 until 6).map(r.getLong)).toSeq.sortBy(_.head)
    val committed = canon(DedupIndex.bandOccupancy(spark, path, cap))
    // ONE arithmetic: the committed read and the in-session diagnostic
    // must agree row for row (the C86/C86b pairing)
    assert(committed == canon(Dedup.bandOccupancy(docs, cap)),
      "committed band occupancy must equal the in-session diagnostic")
    // the planted mega-bucket: 6 identical docs share every band key,
    // so each of the 4 band indices carries exactly one bucket over the
    // cap, whose 6 rows the serve-time drop cap excludes whole
    committed.foreach { row =>
      val Seq(_, _, maxOcc, nHot, nDropped, nServed) = row
      assert(maxOcc == 6L && nHot == 1L && nDropped == 6L && nServed == 3L,
        s"each band must flag the planted mega-bucket and serve the rest: $row")
    }
    val (hot, dropped) = DedupIndex.bandCapStats(spark, path, cap)
    assert(hot == 4L && dropped == 24L,
      s"cap stats must sum the per-band rows: hot=$hot dropped=$dropped")
    // at the PRODUCTION cap nothing is hot here — the stats go quiet
    assert(DedupIndex.bandCapStats(spark, path) == ((0L, 0L)),
      "below the production cap the telemetry must report zero")
    // a FULL takedown empties the bands sub-table; the next maintenance-
    // cadence funnel filing must read (0, 0), not NPE on a NULL sum
    DedupIndex.retract(spark, path, (1L to 6L) ++ Seq(10L, 11L, 12L))
    assert(DedupIndex.bandCapStats(spark, path, cap) == ((0L, 0L)),
      "cap stats over an emptied bands table must be (0, 0)")
  }

  test("incremental extend == fresh full rebuild (no drift from merge order)") {
    val docs = Tables.documents(spark, sf)
    val (halfA, halfB) =
      (docs.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L))
    val incr = tmp("incr"); val full = tmp("full")
    DedupIndex.build(halfA, incr, buildV = 0L)
    DedupIndex.extend(halfB, incr, buildV = 1L)
    DedupIndex.build(docs, full, buildV = 0L)
    val batch = DedupIndex.plantedBatch(docs)
    assert(verdicts(DedupIndex.serve(batch, incr)) ==
      verdicts(DedupIndex.serve(batch, full)),
      "build(A) + extend(B) must serve identically to build(A ∪ B)")
  }

  test("re-ingesting an already-committed batch is an idempotent no-op") {
    val docs = Tables.documents(spark, sf).limit(120)
    val path = tmp("idem")
    DedupIndex.build(docs, path, buildV = 0L)
    val batch = DedupIndex.plantedBatch(docs)
    val before = verdicts(DedupIndex.serve(batch, path))
    DedupIndex.extend(docs, path, buildV = 1L) // replayed ingest
    assert(verdicts(DedupIndex.serve(batch, path)) == before)
  }

  test("maintenance: compact + vacuum after incremental extends leaves serving unchanged") {
    import graft.sources.Sinks.VersionedTable
    val docs = Tables.documents(spark, sf)
    val path = tmp("compact")
    // four incremental ingests fragment every bucket (one file per merge)
    (0L until 4L).foreach { i =>
      DedupIndex.extend(docs.filter(pmod(col("doc_id"), lit(4L)) === i), path, buildV = i)
    }
    val batch = DedupIndex.plantedBatch(docs)
    val before = verdicts(DedupIndex.serve(batch, path))
    def parquetFiles(): Long = {
      val base = java.nio.file.Paths.get(path)
      val s = java.nio.file.Files.walk(base)
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val fragmented = parquetFiles()
    Seq("fps", "sigs", "bands").foreach { t =>
      VersionedTable.compact(spark, s"$path/$t")
      VersionedTable.vacuumVersioned(spark, s"$path/$t", keep = 1, minAgeMs = 0L)
    }
    assert(parquetFiles() < fragmented,
      s"compaction must shrink the file count (was $fragmented, now ${parquetFiles()})")
    assert(verdicts(DedupIndex.serve(batch, path)) == before,
      "compaction + vacuum must not change one serving verdict")
  }

  test("a group pinned before a retract reads byte-identically after maintain at keepVersions = 1") {
    import graft.sources.Sinks.VersionedTable
    val docs = Tables.documents(spark, sf)
    val path = tmp("pinned-retention")
    // two ingests fragment the buckets, so maintain compacts (new
    // versions) and the keep budget of 1 would age the pinned ones out
    (0L until 2L).foreach { i =>
      DedupIndex.extend(docs.filter(pmod(col("doc_id"), lit(2L)) === i), path, buildV = i)
    }
    val g = VersionedTable.latestGroup(spark, path).get._1
    def pinned(): Seq[Seq[String]] = {
      val (f, s, b) = DedupIndex.loadFrames(spark, path, Some(g))
      Seq(f, s, b).map(_.collect().map(_.toString).sorted.toSeq)
    }
    val before = pinned()
    val victims = docs.select("doc_id").limit(3).collect().map(_.getLong(0)).toSeq
    DedupIndex.retract(spark, path, victims)
    DedupIndex.maintain(spark, path, keepVersions = 1)
    val pins = VersionedTable.groupAt(spark, path, g).get
    assert(Seq("fps", "sigs", "bands").forall(n =>
      VersionedTable.latestManifest(spark, s"$path/$n").get._1 > pins(n)),
      "premise: every pinned version sits below the keep budget")
    assert(pinned() == before,
      "maintenance must not age the pre-retract group's versions out")
  }

  test("crawl loop: admit the new docs, extend, and the re-served batch flags them exact") {
    val docs = Tables.documents(spark, sf)
    val path = tmp("loop")
    DedupIndex.build(docs, path, buildV = 0L)
    val batch = DedupIndex.plantedBatch(docs).cache()
    val first = verdicts(DedupIndex.serve(batch, path))
    val newIds = first.collect { case (id, ("new", _)) => id }.toSet
    assert(newIds.nonEmpty, "planted batch must contain novel docs")
    // admission: only the non-duplicates enter the corpus
    val admitted = batch.filter(col("doc_id").isInCollection(newIds))
    DedupIndex.extend(admitted, path, buildV = 1L)
    val second = verdicts(DedupIndex.serve(batch, path))
    newIds.foreach { id =>
      assert(second(id) == (("exact", id)),
        s"doc $id was admitted, so re-serving must flag it exact against itself")
    }
    // verdicts for already-duplicate docs are unchanged by the extend
    first.collect { case kv @ (_, (k, _)) if k != "new" => kv }.foreach {
      case (id, v) => assert(second(id) == v, s"non-new doc $id verdict drifted")
    }
    batch.unpersist()
  }

  test("takedown: retracted docs stop matching at serve, retract is idempotent, extend re-admits") {
    val docs = Tables.documents(spark, sf)
    val path = tmp("retract")
    DedupIndex.build(docs, path, buildV = 0L)
    DedupIndex.buildContain(docs, path, buildV = 0L) // opt-in lens present too
    val batch = DedupIndex.plantedBatch(docs).cache()
    val before = verdicts(DedupIndex.serve(batch, path))
    // pick probes flagged exact — their match_id is the corpus doc to take down
    val exactHits = before.collect { case (pid, ("exact", mid)) => (pid, mid) }
    assert(exactHits.nonEmpty, "need exact matches to exercise the takedown")
    val takedown = exactHits.map(_._2).toSet.toSeq
    DedupIndex.retract(spark, path, takedown)
    val after = verdicts(DedupIndex.serve(batch, path))
    exactHits.foreach { case (pid, mid) =>
      assert(after(pid)._2 != mid,
        s"probe $pid still matches retracted corpus doc $mid at serve")
    }
    // untouched corpus docs keep serving: verdicts not involving the
    // retracted ids are unchanged
    before.foreach { case (pid, v @ (kind, mid)) =>
      if (!takedown.contains(mid)) assert(after(pid) == v,
        s"probe $pid verdict drifted though its match $mid was not retracted")
    }
    // idempotent: replaying the takedown job changes nothing
    DedupIndex.retract(spark, path, takedown)
    assert(verdicts(DedupIndex.serve(batch, path)) == after)
    // the containment lens forgot them too: its sub-table holds no
    // retracted ids
    val rshIds = graft.sources.Sinks.VersionedTable
      .read(spark, s"$path/rsh").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    takedown.foreach(id => assert(!rshIds.contains(id), s"rsh kept retracted $id"))
    // re-ingesting removed content is legitimately NEW again — and once
    // extended, it serves as exact against its new identity
    val readd = docs.filter(col("doc_id").isInCollection(takedown.toSet))
    DedupIndex.extend(readd, path, buildV = 2L)
    val reserved = verdicts(DedupIndex.serve(batch, path))
    exactHits.foreach { case (pid, mid) =>
      assert(reserved(pid) == (("exact", mid)),
        s"re-admitted doc $mid must match probe $pid exactly again")
    }
    batch.unpersist()
  }

  test("takedown is bucket-pruned: a 1-doc retract rewrites a handful of buckets, untouched dirs carry over byte-identical (r10)") {
    import graft.sources.Sinks.VersionedTable
    val docs = Tables.documents(spark, sf)
    val path = tmp("pruned")
    DedupIndex.build(docs, path, buildV = 0L)
    DedupIndex.buildContain(docs, path, buildV = 0L)
    val one = Seq(docs.select("doc_id").head().getLong(0))
    val subs = Seq("fps", "sigs", "bands", "rsh")
    val before: Map[String, Map[Int, String]] =
      subs.map(t => t -> VersionedTable.latestManifest(spark, s"$path/$t").get._2).toMap
    // every data file's mtime before the takedown
    import scala.jdk.CollectionConverters._
    def mtimes(): Map[String, Long] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(p => p.toString.endsWith(".parquet"))
        .iterator().asScala
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally s.close()
    }
    val mtBefore = mtimes()
    val receipts = DedupIndex.retract(spark, path, one)
    assert(receipts.map(_.subTable) == subs,
      s"one receipt per sub-table in order: ${receipts.map(_.subTable)}")
    var rewritten = 0
    var total = 0
    subs.foreach { t =>
      val after = VersionedTable.latestManifest(spark, s"$path/$t").get._2
      val all = before(t).keySet ++ after.keySet
      total += before(t).size
      val changed = all.filter(b => before(t).get(b) != after.get(b))
      rewritten += changed.size
      // the r11 receipt reports exactly this independently-computed delta
      val r = receipts.find(_.subTable == t).get
      assert(r.bucketsRewritten == changed.size && r.pruned &&
        r.idsRequested == 1L && r.idsFound >= 1L,
        s"$t receipt must match the manifest delta: $r vs ${changed.size}")
      // carried-over buckets reference the SAME dirs — and those dirs'
      // files were not rewritten in place either (mtime unchanged)
      (all -- changed).foreach { b =>
        val dir = new java.io.File(s"$path/$t", before(t)(b))
        assert(dir.isDirectory, s"$t bucket $b carried over but its dir vanished")
        dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          assert(mtBefore.get(f.getPath).contains(f.lastModified()),
            s"untouched $t bucket $b file ${f.getName} was rewritten in place")
        }
      }
    }
    // 1 doc: one bucket each of fps/sigs/rsh + ≤ NumBands band buckets —
    // of 64 committed buckets a full-snapshot rewrite would touch
    val bound = 3 + graft.operators.Dedup.NumBands
    assert(rewritten <= bound && rewritten >= 1,
      s"1-doc takedown rewrote $rewritten of $total buckets (bound $bound)")
    assert(total >= 32, s"expected a well-populated index, got $total buckets")
    // verdict parity with the unpruned path: a second identical index
    // retracted via the full-snapshot fold serves identically
    val pathAll = tmp("pruned-vs-all")
    DedupIndex.build(docs, pathAll, buildV = 0L)
    DedupIndex.buildContain(docs, pathAll, buildV = 0L)
    for ((t, keys) <- Seq("fps" -> Seq("doc_id"), "sigs" -> Seq("doc_id"),
      "bands" -> Seq("doc_id", "b"), "rsh" -> Seq("doc_id")))
      VersionedTable.replaceAll(spark, s"$pathAll/$t", keys) { snap =>
        snap.filter(!col("doc_id").isInCollection(one.toSet))
      }
    // the raw replaceAll bypassed the artifact's root snapshot — refresh
    // it, as the real retract does (readers resolve through the snapshot)
    graft.sources.Sinks.ArtifactSnapshot.commit(spark, pathAll,
      Seq("fps", "sigs", "bands", "rsh"),
      refresh = Seq("fps", "sigs", "bands", "rsh"))
    val batch = DedupIndex.plantedBatch(docs)
    assert(verdicts(DedupIndex.serve(batch, path)) ==
      verdicts(DedupIndex.serve(batch, pathAll)),
      "bucket-pruned retract must serve identically to the full-snapshot rewrite")
    def contain(p: String): Map[Long, (String, Long, Long)] =
      DedupIndex.serveContain(DedupIndex.plantedContainBatch(docs), p)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(contain(path) == contain(pathAll),
      "bucket-pruned rsh retract must serve containment identically too")
  }
}
