package graft

import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.lake.LakeTable
import graft.model.Model._
import graft.stream.Tailer
import graft.stream.Tailer.TailerConfig
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Golden end-to-end: deterministic log → streamed replay → LakeTable;
  * final state must equal the single-threaded HashMap oracle on every
  * column, including per-row sha256(content) (SURVEY §5.3, input_hint
  * invariant). Also: idempotent re-apply, checkpoint resume, truncate.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GenConfig(seed = 42L, nEvents = 20000L, nFiles = 8)

  private def mkTailer(logDir: String): (TailerConfig, String) = {
    val base = tmpDir("replay")
    (TailerConfig(
      logDir = logDir, tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 16), base)
  }

  private lazy val logDir: String = {
    val d = tmpDir("changelog")
    ChangeLogGen.write(spark, cfg, d)
    d
  }
  private lazy val golden: Map[(String, String), RepoRecord] = {
    val evs = spark.read.schema(changeLogSchema).parquet(logDir)
      .as[ChangeEvent].collect().toSeq
    ChangeLogGen.oracle(evs)
  }

  private def assertParity(table: LakeTable): Unit = {
    val actual = table.read(spark)
      .select($"repo", $"path", $"commit", $"language", $"content",
        $"size_bytes", $"seq", sha2($"content", 256).as("sha"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r)
      .toMap
    assert(actual.size === golden.size, "row-count parity")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    golden.foreach { case (k, g) =>
      val a = actual(k)
      assert(a.getString(2) === g.commit, s"commit @$k")
      assert(a.getString(3) === g.language, s"language @$k")
      assert(a.getString(4) === g.content, s"content @$k")
      assert((if (a.isNullAt(5)) None else Some(a.getLong(5))) === g.size_bytes, s"size_bytes @$k")
      assert(a.getLong(6) === g.seq, s"seq @$k")
      // sha256(content) parity — engine-computed vs oracle-computed
      val gh = sha.digest(g.content.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(a.getString(7) === gh, s"sha256 @$k")
    }
  }

  test("streamed replay reaches golden state (sha256 + row-count parity)") {
    val (tc, _) = mkTailer(logDir)
    Tailer.replay(spark, tc)
    assertParity(LakeTable(tc.tableRoot, tc.numBuckets))

    // typed read surface ≡ the untyped live rows ≡ the HashMap oracle
    val typed = LakeTable(tc.tableRoot, tc.numBuckets).readTyped(spark)
      .collect().map(r => (r.repo, r.path) -> r).toMap
    assert(typed.size === golden.size)
    golden.foreach { case (k, g) => assert(typed(k) === g, s"typed row @$k") }

    // lineage rows exist, cover the full offset range, and sum to all events
    val lin = spark.read.parquet(tc.lineageDir)
    assert(lin.agg(sum("rowsApplied")).head.getLong(0) === cfg.nEvents)
    assert(lin.agg(min("firstOffset")).head.getLong(0) === 0L)
    assert(lin.agg(max("lastOffset")).head.getLong(0) === cfg.nEvents - 1)
    assert(lin.agg(sum("bytesIn")).head.getLong(0) > 0L)
    // the canonical reader absorbs at-least-once duplicate appends: clone
    // the rows once (simulating a crash between merge and cursor) and the
    // deduped view still sums to exactly the event count
    lin.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(tc.lineageDir)
    val deduped = Tailer.readLineage(spark, tc.lineageDir)
    assert(deduped.agg(sum("rowsApplied")).head.getLong(0) === cfg.nEvents,
      "readLineage must dedupe re-delivered (batchId, partitionId) rows")
    assert(spark.read.parquet(tc.lineageDir).count() === 2 * deduped.count())
    // metrics emitted
    val met = spark.read.parquet(tc.metricsDir)
    assert(met.filter($"name" === "merge.applied" && $"value" === 1.0).count() > 0)
  }

  test("readLineage keeps ONE delivery attempt per batch, even re-partitioned differently") {
    // a re-delivered batch (crash between merge and cursor) re-splits the
    // same input under whatever parallelism the restart runs at — its rows
    // are NOT per-partition duplicates of the first attempt, so a
    // (batchId, partitionId)-only dedupe would double-count; the attempt
    // stamp makes the newest delivery win wholesale
    val dir = s"${tmpDir("lineage-repart")}/lineage"
    def rows(pids: Range, rowsEach: Long, attempt: Long) =
      pids.map(p => (0L, p, 0L, 799L, rowsEach, rowsEach * 10, attempt))
        .toDF("batchId", "partitionId", "firstOffset", "lastOffset",
          "rowsApplied", "bytesIn", "attempt")
    rows(0 until 8, 100L, attempt = 1000L) // first run: 8 partitions × 100
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    rows(0 until 4, 200L, attempt = 2000L) // restart: 4 partitions × 200
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    val lin = Tailer.readLineage(spark, dir)
    assert(lin.count() === 4L, "only the newest attempt's partitions survive")
    assert(lin.agg(sum("rowsApplied")).head.getLong(0) === 800L,
      "the batch must count its true 800 rows once, not 1200 across attempts")
    // legacy dirs (written before the attempt stamp) still dedupe by
    // (batchId, partitionId)
    val legacyDir = s"${tmpDir("lineage-legacy")}/lineage"
    rows(0 until 8, 100L, attempt = 0L).drop("attempt")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(legacyDir)
    rows(0 until 8, 100L, attempt = 0L).drop("attempt")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(legacyDir)
    val leg = Tailer.readLineage(spark, legacyDir)
    assert(leg.count() === 8L &&
      leg.agg(sum("rowsApplied")).head.getLong(0) === 800L)
    // a MIXED dir (pre-upgrade batches without the stamp + stamped
    // batches) surfaces the union schema with attempt = NULL on legacy
    // rows — those batches must survive (a null-keyed equi-join would
    // silently drop the entire pre-upgrade history)
    val mixedDir = s"${tmpDir("lineage-mixed")}/lineage"
    rows(0 until 8, 100L, attempt = 0L).drop("attempt")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mixedDir) // legacy batch 0
    rows(0 until 4, 50L, attempt = 3000L)
      .withColumn("batchId", lit(1L))
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mixedDir) // stamped batch 1
    val mixed = Tailer.readLineage(spark, mixedDir)
    assert(mixed.count() === 12L,
      s"legacy batch 0 (8 partitions) + stamped batch 1 (4) must both survive, got ${mixed.count()}")
    assert(mixed.agg(sum("rowsApplied")).head.getLong(0) === 1000L)
    // …and a STAMPED re-delivery of the legacy batch must beat the legacy
    // rows in the same mixed dir. This is the read that REQUIRES
    // mergeSchema on the parquet scan: without it Spark samples ONE
    // arbitrary footer, and a legacy footer drops the attempt column
    // entirely — reverting to plain (batchId, partitionId) dedupe that
    // max-merges rows across attempts into totals no delivery produced
    rows(0 until 2, 400L, attempt = 4000L)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(mixedDir) // batch 0 re-delivered, stamped
    val healed = Tailer.readLineage(spark, mixedDir)
    assert(healed.filter(col("batchId") === 0L).count() === 2L,
      "stamped re-delivery wins wholesale over legacy batch-0 rows")
    assert(healed.agg(sum("rowsApplied")).head.getLong(0) === 1000L,
      "batch 0 counts its true 800 rows once (+200 from batch 1)")
  }

  test("exactly-once: replaying the same batch is a no-op (batchId fence)") {
    val (tc, _) = mkTailer(logDir)
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val v1 = table.head()
    // re-apply the whole log as an already-seen batchId
    val raw = spark.read.schema(changeLogSchema).parquet(logDir)
    val normalized = graft.cdc.Normalize(raw).select(Tailer.mergeCols.map(col): _*)
    val deduped = graft.cdc.Dedupe.lww(normalized, Seq("repo", "path"), "seq")
    val stats = table.merge(spark, deduped, batchId = v1.lastBatchId)
    assert(!stats.applied)
    assert(table.head().version === v1.version, "snapshot unchanged on replay")
    assertParity(table)
  }

  test("resume from checkpoint: restart mid-log converges to golden state") {
    // stage the full log, then expose it to the tailer in two halves with a
    // "restart" (fresh query, same checkpoint) in between — the offset log
    // must carry over so no event is lost or double-applied.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val live = tmpDir("resume-log")
    val parts = Files.list(Paths.get(logDir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val (h1, h2) = parts.splitAt(parts.size / 2)
    val (tc, _) = mkTailer(live)
    h1.foreach(p => Files.copy(p, Paths.get(live, p.getFileName.toString)))
    Tailer.replay(spark, tc.copy(maxFilesPerTrigger = Some(2))) // multiple micro-batches
    val midRows = LakeTable(tc.tableRoot, tc.numBuckets).read(spark).count()
    assert(midRows > 0 && midRows < golden.size.toLong + 1)
    h2.foreach(p => Files.copy(p, Paths.get(live, p.getFileName.toString)))
    Tailer.replay(spark, tc) // restart: same checkpoint, new files only
    assertParity(LakeTable(tc.tableRoot, tc.numBuckets))
  }

  test("stale events lose: merging an old seq after a newer one is a no-op") {
    val base = tmpDir("stale")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    def batch(seq: Long, content: String, op: String = "U") =
      Seq((("r1"), ("p1"), op, seq, "c" + seq, "scala", content, Option(content.length.toLong)))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, batch(10L, "newer"), batchId = 0L)
    table.merge(spark, batch(5L, "older"), batchId = 1L) // applied, but seq-guard rejects row
    val rows = table.read(spark).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("content") === "newer")
    assert(rows.head.getAs[Long]("seq") === 10L)
  }

  test("merge arms: insert / update / delete / absent-delete") {
    val base = tmpDir("arms")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    def df(rows: Seq[(String, String, String, Long, String)]) =
      rows.map { case (r, p, op, s, c) => (r, p, op, s, "cm" + s, "scala", c, Option.empty[Long]) }
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, df(Seq(("r1", "a", "I", 1L, "A1"), ("r1", "b", "I", 2L, "B1"))), 0L)
    table.merge(spark, df(Seq(
      ("r1", "a", "U", 3L, "A2"), // update
      ("r1", "b", "D", 4L, null), // delete
      ("r2", "c", "U", 5L, "C1"), // not-matched upsert-insert
      ("r9", "z", "D", 6L, null) // delete of absent key = no-op
    )), 1L)
    val got = table.read(spark).select("repo", "path", "content").as[(String, String, String)]
      .collect().toSet
    assert(got === Set(("r1", "a", "A2"), ("r2", "c", "C1")))
  }

  test("out-of-order batches: delete tombstone outranks a later-arriving older upsert") {
    val base = tmpDir("ooo")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    def df(rows: Seq[(String, String, String, Long, String)]) =
      rows.map { case (r, p, op, s, c) => (r, p, op, s, "cm" + s, "scala", c, Option.empty[Long]) }
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    // batch 0 arrives FIRST but holds the LATER event: D @ seq 20 (key absent)
    table.merge(spark, df(Seq(("r1", "k", "D", 20L, null))), 0L)
    // batch 1 arrives later with the OLDER insert @ seq 10
    table.merge(spark, df(Seq(("r1", "k", "I", 10L, "zombie"))), 1L)
    assert(table.read(spark).count() === 0, "deleted key must not resurrect")
    // and a genuinely newer write does win over the tombstone
    table.merge(spark, df(Seq(("r1", "k", "U", 30L, "alive"))), 2L)
    assert(table.read(spark).select("content").as[String].collect().toSeq === Seq("alive"))
  }

  test("compaction drops tombstones, keeps live rows and the batchId fence") {
    val (tc, _) = mkTailer(logDir)
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val before = table.head()
    val tombs = table.readWithTombstones(spark).filter($"deleted").count()
    assert(tombs > 0, "fixture should have tombstones")
    // default compaction RETAINS tombstones (late-data guard)
    table.compact(spark)
    assert(table.readWithTombstones(spark).filter($"deleted").count() === tombs)
    assertParity(table)
    // end-of-stream compaction may GC them
    table.compact(spark, gcTombstones = true)
    assert(table.readWithTombstones(spark).filter($"deleted").count() === 0)
    assert(table.head().lastBatchId === before.lastBatchId, "fence preserved")
    assert(table.head().totalFiles > 0 &&
      table.head().totalFiles <= tc.numBuckets, "≤1 file per bucket after compaction")
    assertParity(table) // live state unchanged
  }

  test("per-bucket manifests: a commit writes manifests only for touched buckets") {
    val base = tmpDir("manifests")
    val table = LakeTable(s"$base/t", numBuckets = 8)
    def row(r: String, p: String, op: String, seq: Long) =
      (r, p, op, seq, s"c$seq", "scala", s"v$seq", Option.empty[Long])
    val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    val seed = (0 until 50).map(i => row(s"r$i", s"p$i", "I", i.toLong)).toDF(cols: _*)
    table.merge(spark, seed, 0L)
    val h1 = table.head()
    assert(h1.manifests.size > 1, "seed must span several buckets")
    // single-key update → exactly one bucket touched → one new manifest,
    // every other manifest carried by REFERENCE (same path)
    table.merge(spark, Seq(row("r1", "p1", "U", 100L)).toDF(cols: _*), 1L)
    val h2 = table.head()
    val newRefs = h2.manifests.toSet diff h1.manifests.toSet
    assert(newRefs.size === 1, s"expected 1 new manifest, got $newRefs")
    assert((h2.manifests.toSet intersect h1.manifests.toSet).size === h1.manifests.size - 1)
    assert(table.read(spark).count() === 50L)
    assert(table.lookup(spark, "r1", "p1").select("seq").as[Long].head() === 100L)
  }

  test("column-subset merge: only listed columns update on match; others kept") {
    val base = tmpDir("partial")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    def df(seq: Long, commit: String, lang: String, content: String) =
      Seq(("r", "p", "U", seq, commit, lang, content, Option.empty[Long]))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, df(1L, "c1", "scala", "body1"), 0L)
    // partial update: only `commit` listed — language/content must survive
    table.merge(spark, df(2L, "c2", "go", "body2"), 1L, updateColumns = Some(Seq("commit")))
    val row = table.read(spark).select("commit", "language", "content", "seq")
      .as[(String, String, String, Long)].head()
    assert(row === (("c2", "scala", "body1", 2L)))
    // partial update on a NOT-matched key inserts the full source row
    val ins = Seq(("r", "q", "U", 3L, "c3", "rs", "body3", Option.empty[Long]))
      .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, ins, 2L, updateColumns = Some(Seq("commit")))
    val got = table.lookup(spark, "r", "q").select("language", "content")
      .as[(String, String)].head()
    assert(got === (("rs", "body3")))
  }

  test("time travel: readAt(v) returns each snapshot's state immutably") {
    val base = tmpDir("tt")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    def df(seq: Long, c: String) =
      Seq(("r", "p", "U", seq, "cm" + seq, "scala", c, Option.empty[Long]))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
    table.merge(spark, df(1L, "v1"), 0L)
    table.merge(spark, df(2L, "v2"), 1L)
    assert(table.versions() === Seq(0, 1, 2))
    assert(table.readAt(spark, 1).select("content").as[String].head() === "v1")
    assert(table.readAt(spark, 2).select("content").as[String].head() === "v2")
    assert(table.readAt(spark, 0).count() === 0)
  }

  test("crash safety: data files written without a HEAD flip are invisible") {
    val base = tmpDir("orphan")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    table.merge(spark,
      Seq(("r", "p", "I", 1L, "c", "scala", "real", Option.empty[Long]))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes"), 0L)
    // simulate a crash mid-commit: orphan parquet in a new snapshot dir +
    // an orphan snapshot json, but HEAD untouched
    val orphanDir = s"${table.root}/data/snap-99"
    Seq(("rX", "pX", "ghost", "scala", "ghost", Option.empty[Long], 9L, false))
      .toDF("repo", "path", "commit", "language", "content", "size_bytes", "seq", "deleted")
      .write.parquet(s"$orphanDir/_b=0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table.root, "meta", "v99.json"), "{bogus")
    val rows = table.read(spark).select("content").as[String].collect().toSeq
    assert(rows === Seq("real"), "orphans must be invisible")
    // and the next merge continues cleanly from the real HEAD
    table.merge(spark,
      Seq(("r", "p", "U", 2L, "c2", "scala", "real2", Option.empty[Long]))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes"), 1L)
    assert(table.read(spark).select("content").as[String].head() === "real2")
  }

  test("truncate produces an empty snapshot") {
    val base = tmpDir("trunc")
    val table = LakeTable(s"$base/t", numBuckets = 4)
    table.merge(spark,
      Seq(("r", "p", "I", 1L, "c", "scala", "x", Option.empty[Long]))
        .toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes"), 0L)
    assert(table.read(spark).count() === 1)
    table.truncate()
    assert(table.read(spark).count() === 0)
  }

  test("tail mode: ProcessingTime trigger picks up files arriving while running") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val live = tmpDir("tail-log")
    val parts = Files.list(Paths.get(logDir)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val (h1, h2) = parts.splitAt(parts.size / 2)
    h1.foreach(p => Files.copy(p, Paths.get(live, p.getFileName.toString)))
    val (tc, _) = mkTailer(live)
    val q = Tailer.run(spark, tc.copy(availableNow = false)) // continuous tail
    try {
      def waitRows(min: Long): Long = {
        val deadline = System.nanoTime() + 120e9.toLong
        var n = 0L
        while (n < min && System.nanoTime() < deadline) {
          Thread.sleep(500)
          n = try LakeTable(tc.tableRoot, tc.numBuckets).read(spark).count()
          catch { case _: Throwable => 0L }
        }
        n
      }
      assert(waitRows(1L) > 0, "first wave applied while query is live")
      // second wave arrives while the query is running — binlog-tail shape
      h2.foreach(p => Files.copy(p, Paths.get(live, p.getFileName.toString)))
      assert(waitRows(golden.size.toLong) === golden.size.toLong,
        "tailer converged to golden row count")
    } finally q.stop()
    assertParity(LakeTable(tc.tableRoot, tc.numBuckets))
  }

  test("point lookup prunes to one bucket") {
    val (tc, _) = mkTailer(logDir)
    Tailer.replay(spark, tc)
    val table = LakeTable(tc.tableRoot, tc.numBuckets)
    val k = golden.keysIterator.next()
    val row = table.lookup(spark, k._1, k._2).collect()
    assert(row.length === 1)
    assert(row.head.getAs[String]("content") === golden(k).content)
  }

  test("rebucket 16→64: state parity, sharper pruning, stale handles fenced") {
    val (tc, _) = mkTailer(logDir)
    Tailer.replay(spark, tc)
    val t16 = LakeTable(tc.tableRoot, tc.numBuckets)
    val t64 = t16.rebucket(spark, 64, targetFileRows = Some(512L))
    assert(t64.numBuckets === 64)
    assertParity(t64)
    // openers resolve the NEW modulus from the snapshot (and the sidecar)
    assert(LakeTable.open(tc.tableRoot).numBuckets === 64)

    // point lookup: the key's (finer) bucket manifest + key bounds prune to
    // exactly one file before any parquet footer is read
    val k = golden.keysIterator.next()
    val h = t64.head()
    val b = t64.bucketOf(k._1, k._2)
    val candidates = t64.filesOf(h, b)
      .filter(LakeTable.fileMayContain(_, k._1, k._2))
    assert(candidates.size === 1,
      s"sorted size-split rebucket output must prune to 1 file, got ${candidates.size}")
    assert(t64.lookup(spark, k._1, k._2)
      .select("content").as[String].head() === golden(k).content)

    // the stale pre-rebucket handle must fail loudly, not mis-hash keys
    val e = intercept[IllegalStateException](t16.lookup(spark, k._1, k._2))
    assert(e.getMessage.contains("rebucket"), e.getMessage)
    val e2 = intercept[IllegalStateException](
      t16.merge(spark, spark.range(0).selectExpr(
        "'r' as repo", "'p' as path", "'I' as op", "id as seq",
        "'c' as commit", "'l' as language", "'x' as content",
        "id as size_bytes"), 9999L))
    assert(e2.getMessage.contains("rebucket"), e2.getMessage)

    // merges continue against the new layout; time travel to the
    // pre-rebucket snapshot still reads the OLD files correctly
    val preVersion = t64.head().parent
    t64.merge(spark, Seq(("zz-new", "pp", "I", 999999L, "c", "scala", "post-rebucket",
      Option(1L))).toDF("repo", "path", "op", "seq", "commit", "language",
      "content", "size_bytes"), t64.head().lastBatchId + 1)
    assert(t64.lookup(spark, "zz-new", "pp").count() === 1)
    assert(t64.readAt(spark, preVersion).count() === golden.size.toLong)
  }

  test("readLineage collapses legacy multi-attempt offsets with min(firstOffset)") {
    // two pre-stamp deliveries of the same batch with DIFFERENT offset
    // splits: max(firstOffset) would report a range belonging to no actual
    // delivery (max of mins); the collapsed row must span the union
    val dir = s"${tmpDir("lineage-minoff")}/lineage"
    def legacy(first: Long, last: Long) =
      Seq((0L, 0, first, last, 700L, 7000L))
        .toDF("batchId", "partitionId", "firstOffset", "lastOffset",
          "rowsApplied", "bytesIn")
    legacy(100L, 799L).write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    legacy(0L, 699L).write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    val row = Tailer.readLineage(spark, dir).collect()
    assert(row.length === 1)
    assert(row.head.getAs[Long]("firstOffset") === 0L, "firstOffset is a MIN")
    assert(row.head.getAs[Long]("lastOffset") === 799L, "lastOffset is a MAX")
  }

  test("Tailer.run opens an existing table with ITS modulus — cfg.numBuckets seeds creation only") {
    // the table was created with 8 buckets; a tailer configured with the
    // default 16 must hash keys mod 8 (LakeTable.open), not mod cfg — a
    // cfg-built handle would refuse every merge with a misleading
    // "rebucket ran" error (and silently mis-bucket legacy tables)
    val d = tmpDir("modulus-log")
    val small = GenConfig(seed = 7L, nEvents = 1000L, nFiles = 2)
    ChangeLogGen.write(spark, small, d)
    val base = tmpDir("modulus")
    LakeTable(s"$base/table", 8) // pre-created ahead of the tailer
    val tc = TailerConfig(logDir = d, tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 16)
    Tailer.replay(spark, tc)
    val t = LakeTable.open(s"$base/table")
    assert(t.head().numBuckets === 8, "the table keeps its own modulus")
    val evs = spark.read.schema(changeLogSchema).parquet(d)
      .as[ChangeEvent].collect().toSeq
    val oracle = ChangeLogGen.oracle(evs)
    val actual = t.read(spark).select($"repo", $"path", $"seq", $"content")
      .as[(String, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(actual.size === oracle.size, "row-count parity under the opened modulus")
    oracle.foreach { case (k, g) => assert(actual(k) === ((g.seq, g.content)), s"@$k") }
  }

  test("a failed merge commit writes NO lineage rows (commit-then-append ordering)") {
    // the lineage AGGREGATION overlaps the merge, but the WRITE must wait
    // for the commit: rows claiming rowsApplied for a batch that never
    // applied would stand forever if the stream never redelivers it
    import graft.model.SchemaRegistry
    val base = tmpDir("lineage-order")
    val table = LakeTable(s"$base/table", 4)
    val tc = TailerConfig(logDir = "unused", tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 4)
    val sid = SchemaRegistry.latest.schemaId
    val raw = Seq((1L, "U", "r1", "p1", sid, new java.sql.Timestamp(0L),
      ChangeLogGen.payloadJson(sid, "c1", "scala", "v1")))
      .toDF("seq", "op", "repo", "path", "schema_id", "ts", "payload")
    // hard failure after the data write, before the CAS (not a retryable
    // lost-CAS): applyBatch must propagate and leave no lineage behind
    table.preCommitHook = () => throw new RuntimeException("deliberate commit failure")
    intercept[RuntimeException] { Tailer.applyBatch(table, tc)(raw, 0L) }
    val lineagePath = java.nio.file.Paths.get(s"$base/lineage")
    assert(!java.nio.file.Files.exists(lineagePath) ||
      spark.read.parquet(s"$base/lineage").count() === 0L,
      "no lineage rows for an unapplied batch")
    // the hook is one-shot — the redelivery applies and THEN writes lineage
    Tailer.applyBatch(table, tc)(raw, 0L)
    assert(spark.read.parquet(s"$base/lineage")
      .agg(sum("rowsApplied")).head.getLong(0) === 1L)
    assert(table.read(spark).count() === 1L)
  }

  /** A MOR table and tailer config for direct applyBatch calls. */
  private def morBatchTarget(name: String): (LakeTable, TailerConfig) = {
    val base = tmpDir(name)
    val table = LakeTable(s"$base/table", 8, LakeTable.Mor)
    (table, TailerConfig(logDir = "unused", tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 8, tableMode = LakeTable.Mor))
  }

  /** A 4-file log read back as one batch: one input partition per file. */
  private lazy val multiPartLog: String = {
    val d = tmpDir("multipart-log")
    ChangeLogGen.write(spark, GenConfig(seed = 5L, nEvents = 3000L, nFiles = 4), d)
    d
  }
  private def multiPartRaw = spark.read.schema(changeLogSchema).parquet(multiPartLog)

  /** A replication feed (the [[Tailer.applyChanges]] columns) of 1200
    * distinct keys in 4 files, so one input partition per file; every
    * tenth row is a delete without content.
    */
  private lazy val multiPartFeedDir: String = {
    val d = tmpDir("multipart-feed")
    (0 until 1200).map { i =>
      val del = i % 10 == 9
      (s"r${i % 5}", s"p$i", if (del) "D" else "I", i.toLong, s"c$i", "scala",
        if (del) null else s"body-$i", Option(i.toLong))
    }.toDF("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
      .repartition(4).write.mode("overwrite").parquet(d)
    d
  }
  private def multiPartFeed = spark.read.parquet(multiPartFeedDir)

  private def lineageStats(df: org.apache.spark.sql.DataFrame) =
    df.select("partitionId", "firstOffset", "lastOffset", "rowsApplied", "bytesIn")
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

  /** The per-partition lineage of `raw` as a standalone aggregate. */
  private def standaloneLineage(raw: org.apache.spark.sql.DataFrame, bytesCol: String) =
    lineageStats(raw.groupBy(spark_partition_id().as("partitionId"))
      .agg(min("seq").as("firstOffset"), max("seq").as("lastOffset"),
        count(lit(1)).as("rowsApplied"),
        sum(coalesce(length(col(bytesCol)).cast("long"), lit(0L))).as("bytesIn")))

  test("lineage rides the batch scan: per-partition rows equal the standalone aggregate") {
    val (table, tc) = morBatchTarget("lineage-fused")
    val raw = multiPartRaw
    assert(raw.rdd.getNumPartitions >= 3, "the batch spans several input partitions")
    Tailer.applyBatch(table, tc)(raw, 0L)
    val expected = standaloneLineage(raw, "payload")
    assert(expected.size >= 3)
    val written = spark.read.parquet(tc.lineageDir)
    assert(written.select("batchId").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(lineageStats(written) === expected)
    assert(table.head().lastBatchId === 0L)

    // the replication sink: the tap sits under a COW mirror's merge and
    // counts the feed's content
    val feed = multiPartFeed
    assert(feed.rdd.getNumPartitions >= 3, "the feed spans several input partitions")
    val base = tmpDir("lineage-fused-feed")
    val mirror = LakeTable(s"$base/mirror", 8)
    Tailer.applyChanges(mirror, feed, 0L, Some(s"$base/lineage"))
    val fromFeed = standaloneLineage(feed, "content")
    assert(fromFeed.size >= 3)
    assert(lineageStats(spark.read.parquet(s"$base/lineage")) === fromFeed)
    assert(mirror.head().lastBatchId === 0L)
  }

  test("a fenced redelivery still appends its lineage, and readLineage sums to the batch") {
    val (table, tc) = morBatchTarget("lineage-fenced")
    val raw = multiPartRaw
    val events = raw.count()
    Tailer.applyBatch(table, tc)(raw, 0L)
    val v = table.headVersion()
    val before = spark.read.parquet(tc.lineageDir).count()
    Tailer.applyBatch(table, tc)(raw, 0L) // batchId <= lastBatchId: the merge scans nothing
    assert(table.headVersion() === v, "the fenced merge committed nothing")
    val all = spark.read.parquet(tc.lineageDir)
    assert(all.count() === 2 * before, "the redelivery appended its own attempt")
    assert(all.select("attempt").distinct().count() === 2L)
    assert(Tailer.readLineage(spark, tc.lineageDir)
      .agg(sum("rowsApplied")).head.getLong(0) === events)

    // the replication sink, on a MOR mirror
    val feed = multiPartFeed
    val rows = feed.count()
    val base = tmpDir("lineage-fenced-feed")
    val mirror = LakeTable(s"$base/mirror", 8, LakeTable.Mor)
    val dir = s"$base/lineage"
    Tailer.applyChanges(mirror, feed, 0L, Some(dir))
    val mv = mirror.headVersion()
    Tailer.applyChanges(mirror, feed, 0L, Some(dir))
    assert(mv === 1, "the feed committed once")
    assert(mirror.headVersion() === mv, "the fenced feed committed nothing")
    assert(spark.read.parquet(dir).select("attempt").distinct().count() === 2L,
      "the redelivery appended its own attempt")
    assert(Tailer.readLineage(spark, dir).agg(sum("rowsApplied")).head.getLong(0) === rows)
    // an empty feed (its partitions drained, no rows) commits nothing and
    // appends no lineage file
    def lineageFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
    val files = lineageFiles
    Tailer.applyChanges(mirror, feed.filter(col("seq") < 0), 1L, Some(dir))
    assert(mirror.headVersion() === mv, "the empty feed committed nothing")
    assert(lineageFiles === files, "the empty feed appended a lineage file")
  }

  /** Runs `body` and returns the call sites of the probe jobs it ran: jobs
    * whose caller invoked one of `methods` (e.g. `isEmpty`) or whose stack
    * passes through one of `frames`. `onStage` sees every submitted stage.
    * A job is matched by its stages' names and details AND by its SQL
    * execution's description and details: AQE submits a query's jobs from
    * its own threads, so a job's stage may name that thread while its SQL
    * execution keeps the caller's stack.
    */
  private def probeJobs(methods: Seq[String], frames: Seq[String] = Nil,
                        onStage: org.apache.spark.scheduler.StageInfo => Unit = _ => ())(
      body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val sc = spark.sparkContext
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a call site's long form opens with the Spark method the caller
    // invoked, e.g. `...Dataset.isEmpty(Dataset.scala:N)`
    def probe(site: String, stack: String): Unit = {
      val top = stack.linesIterator.take(2).mkString(" < ")
      if (methods.exists(m => site.startsWith(s"$m at") || top.contains(s".$m(")) ||
          frames.exists(stack.contains)) probes.add(top)
    }
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        onStage(e.stageInfo)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => probe(s.name, s.details))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          probe(x.description, x.details)
        case _ =>
      }
    }
    // a streaming query pins its jobs' call site to its start(); the
    // started event arrives on the query's thread before its first batch,
    // so clearing the pin there names each job by the stack that ran it
    val unpin = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = sc.clearCallSite()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    org.apache.spark.graftbridge.BusDrain(sc)
    sc.addSparkListener(listener)
    spark.streams.addListener(unpin)
    try {
      body
      org.apache.spark.graftbridge.BusDrain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.streams.removeListener(unpin)
    }
    probes.asScala.toSeq
  }

  test("a MOR batch reads its log at most twice and runs no isEmpty or count job") {
    val (table, tc) = morBatchTarget("scan-guard")
    val raw = multiPartRaw
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    // every file scan in a MOR batch (no compaction, no bucket reads) is
    // a scan of the batch's log files
    val probes = probeJobs(Seq("isEmpty", "count"), onStage = s =>
      if (s.rddInfos.exists(_.name == "FileScanRDD")) scans.incrementAndGet()) {
      Tailer.applyBatch(table, tc)(raw, 0L)
    }
    assert(table.head().lastBatchId === 0L, "the batch applied")
    assert(scans.get() <= 2, s"log scans: ${scans.get()}")
    assert(probes.isEmpty, s"probe jobs: $probes")
  }

  test("replication and view batches run no isEmpty probe and no lineage aggregate") {
    val base = tmpDir("sink-guard")
    val primary = LakeTable(s"$base/primary", 4, LakeTable.Mor)
    primary.merge(spark, multiPartFeed, 0L)
    val mirror = LakeTable(s"$base/mirror", 4)
    val probes = probeJobs(Seq("isEmpty"), frames = Seq("lineageAggregate")) {
      Tailer.followInto(spark, s"$base/primary", mirror, s"$base/mirror-ckpt",
        Some(s"$base/mirror-lineage"))
      graft.stream.Mv.maintainInto(spark, s"$base/primary", s"$base/view", s"$base/view-ckpt")
    }
    val live = primary.read(spark).count()
    assert(mirror.read(spark).count() === live, "mirror parity")
    assert(Tailer.readLineage(spark, s"$base/mirror-lineage")
      .agg(sum("rowsApplied")).head.getLong(0) === live, "the bootstrap feed's lineage")
    assert(graft.stream.Mv.read(spark, s"$base/view").agg(sum("cnt")).head.getLong(0) === live,
      "view parity")
    assert(probes.isEmpty, s"probe jobs: $probes")
  }

  test("metrics sinks follow the session of each call and drop what a stopped context buffered") {
    // a session stop and restart in a child JVM, so the suite's shared
    // context keeps running
    val dir = s"${tmpDir("sink-restart")}/metrics"
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq
    val opens: Seq[String] = jvm.sliding(2).toSeq.flatMap {
      case Seq("--add-opens", v) => Seq("--add-opens", v)
      case _ => Nil
    } ++ jvm.filter(_.startsWith("--add-opens="))
    val cmd: Seq[String] = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.MetricsSinkRestart", dir)
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc === 0, out.toString)
  }
}
