package graft

import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.lake.LakeTable
import graft.model.Model._
import graft.stream.Tailer
import graft.stream.Tailer.TailerConfig
import scala.jdk.CollectionConverters._

/** Merge-on-read mode: O(batch) appends + read-time LWW resolution must
  * reach exactly the same final state as copy-on-write, under multi-batch
  * replay, out-of-order batches, replays, and compaction.
  */
class MorSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(seed = 77L, nEvents = 15000L, nFiles = 6)

  private lazy val logDir: String = {
    val d = tmpDir("morlog")
    ChangeLogGen.write(spark, cfg, d)
    d
  }
  private lazy val golden: Map[(String, String), RepoRecord] = {
    val evs = spark.read.schema(changeLogSchema).parquet(logDir)
      .as[ChangeEvent].collect().toSeq
    ChangeLogGen.oracle(evs)
  }

  private def mkTailer(): TailerConfig = {
    val base = tmpDir("mor")
    TailerConfig(
      logDir = logDir, tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 8,
      tableMode = LakeTable.Mor,
      maxFilesPerTrigger = Some(2)) // multiple micro-batches = multiple appends
  }

  private def assertGolden(table: LakeTable): Unit = {
    val actual = table.read(spark)
      .select($"repo", $"path", $"content", $"seq")
      .as[(String, String, String, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(actual.size === golden.size)
    golden.foreach { case (k, g) =>
      assert(actual(k) === ((g.content, g.seq)), s"@$k")
    }
  }

  test("MOR multi-batch replay reaches golden state; appends never rewrite") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    assert(table.tableMode === LakeTable.Mor)
    assertGolden(table)
    // physical rows = all applied upserts+tombstones (no rewrite happened)
    val h = table.head()
    assert(h.totalRows > golden.size.toLong, "appends accumulate versions")
    assert(h.version >= 3, "one snapshot per micro-batch")
  }

  test("MOR replayed batch is fenced (no duplicate appends)") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val v = table.head()
    val raw = spark.read.schema(changeLogSchema).parquet(logDir)
    val deduped = graft.cdc.Dedupe.lwwTyped(
      graft.cdc.Normalize(raw).select(Tailer.mergeCols.map(org.apache.spark.sql.functions.col): _*),
      Seq("repo", "path"), "seq")
    val stats = table.merge(spark, deduped, batchId = v.lastBatchId)
    assert(!stats.applied)
    assert(table.head().version === v.version)
  }

  test("MOR out-of-order: tombstone appended before an older upsert still wins") {
    val base = tmpDir("morooo")
    val table = LakeTable(s"$base/t", 4, LakeTable.Mor)
    def df(rows: Seq[(String, String, String, Long, String)]) =
      rows.map { case (r, p, op, s, c) => (r, p, op, s, "cm" + s, "scala", c, Option.empty[Long]) }
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, df(Seq(("r1", "k", "D", 20L, null))), 0L)
    table.merge(spark, df(Seq(("r1", "k", "I", 10L, "zombie"))), 1L)
    assert(table.read(spark).count() === 0)
    table.merge(spark, df(Seq(("r1", "k", "U", 30L, "alive"))), 2L)
    assert(table.read(spark).select("content").as[String].collect().toSeq === Seq("alive"))
    assert(table.lookup(spark, "r1", "k").count() === 1)
  }

  test("MOR compaction folds to unique-per-key files, preserves state + fence + mode") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val before = table.head()
    table.compact(spark, gcTombstones = true) // stream fully drained
    val after = table.head()
    assert(after.totalRows === golden.size.toLong, "compacted = live rows only")
    assert(after.lastBatchId === before.lastBatchId)
    assert(after.mode === LakeTable.Mor)
    assertGolden(table)
    // and ingest continues after compaction
    val extra = Seq(("zz/new", "a", "I", 999999999L, "c", "scala", "post-compact", Option.empty[Long]))
      .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, extra, after.lastBatchId + 1)
    assert(table.lookup(spark, "zz/new", "a").count() === 1)
  }

  test("wave compaction (maxBucketsPerWave) = single-shot state, bounded commits") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val before = table.head()
    val bucketsBefore = before.manifests.map(_.bucket).distinct.size
    // waves of ≤3 buckets: each wave is its own bounded job + commit — the
    // r6 memory-bounding of the full-table rewrite (r5 256M/32c OOM edge)
    table.compact(spark, gcTombstones = true, maxBucketsPerWave = Some(3))
    val after = table.head()
    val expectedWaves = (bucketsBefore + 2) / 3
    assert(after.version === before.version + expectedWaves,
      "one live-state-preserving commit per wave")
    assert(after.totalRows === golden.size.toLong, "waves compact = live rows only")
    assert(after.lastBatchId === before.lastBatchId, "fence preserved")
    assert(after.mode === LakeTable.Mor)
    assertGolden(table) // byte-for-byte the single-shot result
    // every bucket folded: one file per remaining bucket, all key-sorted
    assert(after.manifests.forall(_.fileCount === 1), "each bucket folded to one file")
    // ingest continues after wave compaction
    val extra = Seq(("zz/wave", "a", "I", 999999998L, "c", "scala", "post-wave", Option.empty[Long]))
      .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, extra, after.lastBatchId + 1)
    assert(table.lookup(spark, "zz/wave", "a").count() === 1)
  }

  test("compaction applies the table sort order: files are key-clustered") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    table.compact(spark, gcTombstones = true)
    assertGolden(table)
    // expire+vacuum so the only data files on disk are the compacted ones
    table.expireSnapshots(keepLast = 1)
    table.vacuum(olderThanMs = 0L)
    val dataFiles = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(tc.tableRoot, "data"))) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { f =>
      // one file = one scan partition = file order preserved on collect
      val keys = spark.read.parquet(f.toString)
        .select($"repo", $"path").as[(String, String)].collect().toSeq
      assert(keys === keys.sorted, s"compacted file not key-sorted: $f")
    }
  }

  test("manifest key bounds: sorted+sized compaction prunes lookups to one file") {
    val tc = mkTailer()
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    // split each sorted bucket into several range-disjoint files
    table.compact(spark, gcTombstones = true, targetFileRows = Some(150L))
    val h = table.head()
    assert(h.manifests.exists(_.fileCount > 1), "buckets split into multiple files")
    // every file carries bounds, and for a sample of keys the bounds prune
    // the bucket's file list down to exactly one candidate
    val someKeys = golden.keys.take(20).toSeq
    val candidateCounts = someKeys.map { case (r, p) =>
      val b = table.bucketOf(r, p)
      val files = table.filesOf(h, b)
      assert(files.forall(f => f.minRepo.isDefined && f.maxPath.isDefined))
      val candidates = files.filter(LakeTable.fileMayContain(_, r, p))
      // bounds are per-column (not composite), so a repo straddling file
      // boundaries can match several adjacent files — but never zero, and
      // pruning must still drop something whenever there is a choice
      assert(candidates.nonEmpty,
        s"($r,$p): ${candidates.size} candidates of ${files.size} files")
      assert(files.size == 1 || candidates.size < files.size, s"($r,$p): no pruning")
      // and the pruned lookup still answers correctly
      val got = table.lookup(spark, r, p).select($"content", $"seq")
        .as[(String, Long)].collect()
      assert(got.length === 1 && got.head === ((golden((r, p)).content, golden((r, p)).seq)))
      candidates.size
    }
    assert(candidateCounts.count(_ == 1) >= someKeys.size / 2,
      "majority of point lookups should hit exactly one file")
    // size-split output must not re-trigger cadence compaction: the pick
    // rule measures file count against the shape the rewrite produces
    assert(table.compactBuckets(spark, maxFilesPerBucket = 4,
      targetFileRows = Some(150L)) === 0,
      "sized compaction output re-qualified itself (perpetual rewrite)")
    // repo-scoped read: correct rows AND bounds-pruned file set (a repo
    // spans all buckets, so only the file bounds can prune this shape)
    val someRepo = golden.keys.head._1
    val expect = golden.collect { case ((r, p), rec) if r == someRepo => (p, rec.content, rec.seq) }.toSet
    val got = table.readWhereRepo(spark, someRepo)
      .select($"path", $"content", $"seq").as[(String, String, Long)].collect().toSet
    assert(got === expect)
    assert(table.filesForRepo(h, someRepo).size < table.filesOf(h).size,
      "repo bounds pruned no files")
    // directory listing: same repo, one directory prefix
    val dirExpect = expect.filter(_._1.startsWith("src/d1/"))
    val dirGot = table.readWherePathPrefix(spark, someRepo, "src/d1/")
      .select($"path", $"content", $"seq").as[(String, String, Long)].collect().toSet
    assert(dirGot === dirExpect)
  }

  test("COW layout restore: cadence compaction re-picks merge-degraded buckets") {
    val base = tmpDir("cow-layout")
    val t = LakeTable(s"$base/t", 4, LakeTable.Cow)
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    val seed = (1 to 200).map(i =>
      (s"r${i % 10}", f"p$i%03d", "I", i.toLong, s"c$i", "scala", s"v$i", Option(i.toLong)))
    t.merge(spark, seed.toDF(cols: _*), 0L)
    // establish the sorted size-split layout
    t.compact(spark, targetFileRows = Some(20L))
    val sortedAll = t.head().manifests
    assert(sortedAll.forall(r => r.sortedFiles == r.fileCount),
      "compaction output must be flagged sorted")

    // a COW merge rewrites its touched bucket to ONE unsorted file —
    // the file-count triggers alone could never re-select it
    t.merge(spark, Seq(("r1", "p001", "U", 1000L, "cX", "scala", "upd", Option(1L)))
      .toDF(cols: _*), 1L)
    val b = t.bucketOf("r1", "p001")
    val degraded = t.head().manifests.find(_.bucket == b).get
    assert(degraded.sortedFiles < degraded.fileCount, "merge output is unsorted")

    // cadence compaction with a target size restores EXACTLY that bucket
    val n = t.compactBuckets(spark, maxFilesPerBucket = 4, targetFileRows = Some(20L))
    assert(n === 1, s"exactly the degraded bucket re-compacts, got $n")
    val restored = t.head().manifests.find(_.bucket == b).get
    assert(restored.sortedFiles === restored.fileCount)
    // fixpoint: nothing left to do
    assert(t.compactBuckets(spark, maxFilesPerBucket = 4,
      targetFileRows = Some(20L)) === 0)
    // without a target size the trigger stays off (no thrash)
    assert(t.compactBuckets(spark, maxFilesPerBucket = 4) === 0)
  }

  test("MOR with auto-compaction (compactEvery=2): parity + bounded file count") {
    val base = tmpDir("morauto")
    val tc = mkTailer().copy(
      tableRoot = s"$base/table", checkpointDir = s"$base/ckpt",
      lineageDir = s"$base/lineage", metricsDir = s"$base/metrics",
      compactEvery = Some(2))
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    assertGolden(table)
    // after the periodic compactions, physical rows stay close to live rows
    val physical = table.head().totalRows
    assert(physical < golden.size.toLong * 2,
      s"auto-compaction bounded versions: physical=$physical live=${golden.size}")
  }

  test("MOR and COW replays of the same log agree exactly") {
    val tcMor = mkTailer()
    Tailer.replay(spark, tcMor)
    val baseCow = tmpDir("cow")
    val tcCow = tcMor.copy(tableRoot = s"$baseCow/table", checkpointDir = s"$baseCow/ckpt",
      lineageDir = s"$baseCow/lineage", metricsDir = s"$baseCow/metrics",
      tableMode = LakeTable.Cow)
    Tailer.replay(spark, tcCow)
    val mor = LakeTable(tcMor.tableRoot, 8).read(spark)
      .select("repo", "path", "commit", "language", "content", "seq")
      .as[(String, String, String, String, String, Long)].collect().toSet
    val cow = LakeTable(tcCow.tableRoot, 8).read(spark)
      .select("repo", "path", "commit", "language", "content", "seq")
      .as[(String, String, String, String, String, Long)].collect().toSet
    assert(mor === cow)
  }

  test("prefix pruning is sound: a file containing a match is never skipped") {
    // seeded adversarial strings around truncation edges: bounds shorter /
    // longer than the prefix, multi-byte UTF-8, shared prefixes
    val rnd = new scala.util.Random(4242)
    val alphabet = "ab/éÿ01"
    def str(): String = (0 until rnd.nextInt(6)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 2000).foreach { _ =>
      // a simulated sorted file: its true path contents and exact bounds
      val paths = Seq.fill(1 + rnd.nextInt(4))(str())
      val f = graft.lake.LakeTable.DataFile("f", 0, paths.size,
        minRepo = Some("r"), maxRepo = Some("r"),
        minPath = Some(paths.min), maxPath = Some(paths.max))
      val prefix = str()
      val contains = paths.exists(_.startsWith(prefix))
      val kept = graft.lake.LakeTable.fileMayContainPathPrefix(f, "r", prefix)
      // soundness: contains ⇒ kept (completeness is best-effort pruning)
      assert(!contains || kept,
        s"false skip: paths=$paths prefix='$prefix' bounds=[${paths.min},${paths.max}]")
    }
  }

  test("binpack trigger: small-file buckets compact even under the file-count bar") {
    val base = tmpDir("morbinpack")
    val table = LakeTable(s"$base/t", numBuckets = 4, LakeTable.Mor)
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    // two tiny appends to one key: 2 files, far under the count bar of 10
    table.merge(spark, Seq(("r", "k", "U", 1L, "c1", "scala", "a",
      Option.empty[Long])).toDF(cols: _*), 0L)
    table.merge(spark, Seq(("r", "k", "U", 2L, "c2", "scala", "b",
      Option.empty[Long])).toDF(cols: _*), 1L)
    val b = table.bucketOf("r", "k")
    val ref0 = table.head().manifests.find(_.bucket == b).get
    assert(ref0.fileCount === 2 && ref0.sizeBytes > 0)

    // count-only policy: nothing to do
    assert(table.compactBuckets(spark, maxFilesPerBucket = 10) === 0)
    // byte-aware policy: tiny files (avg ≪ 1 MiB) trigger the binpack
    val n = table.compactBuckets(spark, maxFilesPerBucket = 10,
      minFileBytes = Some(1L << 20))
    assert(n === 1)
    val ref1 = table.head().manifests.find(_.bucket == b).get
    assert(ref1.fileCount === 1)
    assert(table.read(spark).select($"content").as[String].collect().toSeq === Seq("b"))
    // stable: the compacted output must not re-qualify itself (the single
    // folded file is still tiny, but a rewrite would not reduce the count)
    assert(table.compactBuckets(spark, maxFilesPerBucket = 10,
      minFileBytes = Some(1L << 20)) === 0)
  }

  test("incremental compaction folds only over-threshold buckets; state unchanged") {
    val base = tmpDir("morinc")
    val table = LakeTable(s"$base/t", numBuckets = 8, LakeTable.Mor)
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    // 6 appends to ONE key (hot bucket) + 1 append to another key
    (1 to 6).foreach { i =>
      table.merge(spark, Seq(("hot", "p", "U", i.toLong, s"c$i", "scala", s"v$i",
        Option.empty[Long])).toDF(cols: _*), i - 1L)
    }
    table.merge(spark, Seq(("cold", "q", "U", 100L, "cX", "go", "w",
      Option.empty[Long])).toDF(cols: _*), 6L)
    val h0 = table.head()
    val hotBucket = table.bucketOf("hot", "p")
    val coldBucket = table.bucketOf("cold", "q")
    assert(h0.manifests.find(_.bucket == hotBucket).get.fileCount >= 6)

    val n = table.compactBuckets(spark, maxFilesPerBucket = 4)
    assert(n >= 1, "hot bucket must be selected")
    val h1 = table.head()
    assert(h1.manifests.find(_.bucket == hotBucket).get.fileCount === 1,
      "hot bucket folded to one file")
    if (coldBucket != hotBucket)
      assert(h1.manifests.find(_.bucket == coldBucket) ===
        h0.manifests.find(_.bucket == coldBucket), "cold bucket carried by reference")
    assert(h1.lastBatchId === h0.lastBatchId, "fence carried")
    val state = table.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("hot", "p", 6L, "v6"), ("cold", "q", 100L, "w")))
    // below threshold now: a second pass is a no-op
    assert(table.compactBuckets(spark, maxFilesPerBucket = 4) === 0)
  }

  test("change feed: I/U/D with before-image deletes, identical in COW and MOR") {
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    val feeds = Seq(LakeTable.Cow, LakeTable.Mor).map { mode =>
      val table = LakeTable(tmpDir(s"cdf-$mode") + "/t", numBuckets = 8, mode)
      table.merge(spark, Seq(
        ("r1", "p1", "I", 10L, "c1", "scala", "a", Option(1L)),
        ("r2", "p2", "I", 20L, "c2", "java", "b", Option(2L)),
        ("r3", "p3", "I", 30L, "c3", "go", "c", Option(3L))).toDF(cols: _*), 0L)
      table.merge(spark, Seq(
        ("r1", "p1", "U", 100L, "c9", "scala", "a2", Option(9L)), // update
        ("r2", "p2", "D", 100L, null, null, null, Option.empty[Long]), // delete
        ("r4", "p4", "I", 40L, "c4", "rs", "d", Option(4L))).toDF(cols: _*), 1L) // insert
      table.changesBetween(spark, 1, 2)
        .select("op", "repo", "content", "seq")
        .as[(String, String, String, Long)].collect().toSet
    }
    val expected = Set(
      ("U", "r1", "a2", 100L),
      ("D", "r2", "b", 20L), // before-image: content and seq from v1
      ("I", "r4", "d", 40L))
    assert(feeds.head === expected)
    assert(feeds(1) === expected, "MOR feed must equal COW feed")
  }

  test("change feed reads only buckets whose manifests changed") {
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    val table = LakeTable(tmpDir("cdf-prune") + "/t", numBuckets = 16)
    val wide = (1 to 64).map(i =>
      ("r" + i, "p" + i, "I", i.toLong, "c", "scala", "x" * 10, Option(10L)))
    table.merge(spark, wide.toDF(cols: _*), 0L)
    table.merge(spark, Seq(("r1", "p1", "U", 1000L, "c9", "scala", "y", Option(1L)))
      .toDF(cols: _*), 1L)
    val full = table.read(spark).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    val feed = table.changesBetween(spark, 1, 2)
    assert(feed.select("op", "repo").as[(String, String)].collect().toSeq
      === Seq(("U", "r1")))
    // the feed's partitions as planned: only r1's bucket, paired across
    // both endpoints, and both sides together ≪ the full file set
    val parts = feed.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.inputPartitions.map(_.asInstanceOf[graft.stream.CdfInputPartition])
    }.flatten
    assert(parts.map(_.bucket).distinct === Seq(table.bucketOf("r1", "p1")),
      s"feed planned buckets ${parts.map(_.bucket).distinct}")
    val feedFiles = parts.flatMap(p => p.beforeFiles ++ p.afterFiles).distinct.length
    assert(feedFiles > 0 && feedFiles < full,
      s"feed reads $feedFiles files vs full $full")
  }

  test("vacuum grace window protects a young empty snap directory (in-flight writer race)") {
    import java.nio.file.{Files, Paths}
    val cfg = mkTailer()
    Tailer.replay(spark, cfg)
    val table = LakeTable.open(cfg.tableRoot)

    // An in-flight Spark write's first committer step is mkdirs of
    // data/snap-<tag>/_temporary/0, created component by component — for a
    // moment the fresh snap dir sits EMPTY and unreferenced. An age-blind
    // empty-dir prune deletes it in that window (observed: concurrent
    // writers failing with "Mkdirs failed to create …/_temporary/0").
    val inflight = Paths.get(cfg.tableRoot, "data", "snap-inflight00")
    Files.createDirectories(inflight)
    table.vacuum(olderThanMs = 60000L)
    assert(Files.exists(inflight),
      "vacuum deleted a young empty snap dir — would break an in-flight writer")

    // Once the dir outlives the grace window it is a crashed writer's
    // leftover and must be reclaimed.
    Files.setLastModifiedTime(inflight,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 120000L))
    table.vacuum(olderThanMs = 60000L)
    assert(!Files.exists(inflight), "aged-out empty snap dir not reclaimed")

    // olderThanMs=0 is the documented exclusive mode ("no other writer can
    // be active"): even young empty dirs go.
    val young = Paths.get(cfg.tableRoot, "data", "snap-young0000")
    Files.createDirectories(young)
    table.vacuum(olderThanMs = 0L)
    assert(!Files.exists(young), "exclusive-mode vacuum must prune young empty dirs")
  }

  test("MOR append rejects duplicate (key, seq) with different payloads in one batch") {
    val base = tmpDir("mor-dupseq")
    val t = LakeTable(s"$base/t", 2, LakeTable.Mor)
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    // same (key, seq), different payloads, ONE batch: both rows would land
    // in one data file where the cross-file path tie-break cannot order
    // them — ambiguous, must be rejected up front
    val dup = Seq(
      ("r1", "p1", "U", 5L, "c5", "scala", "payload-A", Option(1L)),
      ("r1", "p1", "U", 5L, "c5", "scala", "payload-B", Option(1L))).toDF(cols: _*)
    val e = intercept[IllegalArgumentException](t.merge(spark, dup, 0L))
    assert(e.getMessage.contains("LWW cannot order"), e.getMessage)
    // same KEY at different seqs stays legal (the MOR log shape)
    val ok = Seq(
      ("r1", "p1", "U", 5L, "c5", "scala", "v5", Option(1L)),
      ("r1", "p1", "U", 6L, "c6", "scala", "v6", Option(1L))).toDF(cols: _*)
    t.merge(spark, ok, 0L)
    assert(t.read(spark).select("content").as[String].head() === "v6")
  }
}
