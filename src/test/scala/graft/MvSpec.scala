package graft

import graft.lake.LakeTable
import graft.stream.Mv
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Incrementally-maintained materialized aggregate ([[Mv]]): the view must
  * equal a full recompute from the primary's live state after every
  * maintenance cycle — including GROUP-MOVING updates (the case an
  * after-image-only feed cannot maintain) — and replays must be no-ops.
  */
class MvSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")

  /** Ground truth: the same (group, cnt, bytes) shape recomputed from the
    * primary's full live state.
    */
  private def recompute(t: LakeTable, groupCol: String): Set[(String, Long, Long)] =
    t.read(spark).groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt"),
        sum(coalesce(col("size_bytes"), lit(0L))).as("bytes"))
      .as[(String, Long, Long)].collect().toSet

  private def rm(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))

  private def view(viewDir: String): Set[(String, Long, Long)] =
    Mv.read(spark, viewDir).select("language", "cnt", "bytes")
      .as[(String, Long, Long)].collect().toSet

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"view == recompute across insert/update/move/delete cycles, resumable ($mode)") {
    val base = tmpDir(s"mv-$mode")
    val primary = LakeTable(s"$base/t", 4, mode)
    val viewDir = s"$base/view"
    val ckpt = s"$base/ckpt"
    var batch = 0L
    def mergeP(rows: (String, String, String, Long, String, String, String, Option[Long])*): Unit = {
      primary.merge(spark, rows.toSeq.toDF(cols: _*), batch); batch += 1
    }
    def mk(r: String, p: String, s: Long, lang: String, size: Long, op: String = "U") =
      (r, p, op, s, s"c$s", lang, if (op == "D") null else s"v$s", if (op == "D") Option.empty[Long] else Option(size))

    // cycle 1: bootstrap (first batch = full state as I rows)
    mergeP(mk("r1", "a", 1, "scala", 10), mk("r1", "b", 2, "scala", 20),
      mk("r2", "c", 3, "java", 30))
    Mv.maintainInto(spark, s"$base/t", viewDir, ckpt, groupCol = "language")
    assert(view(viewDir) === recompute(primary, "language"), "bootstrap")
    assert(view(viewDir) === Set(("scala", 2L, 30L), ("java", 1L, 30L)))

    // cycle 2: a GROUP-MOVING update (scala→java), a delete, an insert, and
    // a compaction inside the window — resumed from the same checkpoint
    mergeP(mk("r1", "a", 10, "java", 11)) // moves groups AND changes size
    primary.compact(spark)
    mergeP(mk("r2", "c", 11, "java", 30, "D"), mk("r3", "d", 12, "rust", 5))
    Mv.maintainInto(spark, s"$base/t", viewDir, ckpt, groupCol = "language")
    assert(view(viewDir) === recompute(primary, "language"), "after move+delete")
    assert(view(viewDir) === Set(("scala", 1L, 20L), ("java", 1L, 11L), ("rust", 1L, 5L)),
      "the moved row must retract from scala and apply to java")

    // cycle 3: empty a group entirely — it must LEAVE the view
    mergeP(mk("r3", "d", 20, "rust", 5, "D"))
    Mv.maintainInto(spark, s"$base/t", viewDir, ckpt, groupCol = "language")
    assert(view(viewDir) === recompute(primary, "language"))
    assert(!view(viewDir).exists(_._1 == "rust"), "emptied group must vanish")

    // caught-up drain: view version pointer must not advance
    val before = Mv.read(spark, viewDir).collect().toSet
    Mv.maintainInto(spark, s"$base/t", viewDir, ckpt)
    assert(Mv.read(spark, viewDir).collect().toSet === before, "drained no-op")
  }

  test("replayed batch is a no-op (pointer fence) and plain-U feeds fail loudly") {
    val base = tmpDir("mv-fence")
    val primary = LakeTable(s"$base/t", 4)
    val viewDir = s"$base/view"
    primary.merge(spark,
      Seq(("r1", "a", "U", 1L, "c1", "scala", "v1", Option(10L))).toDF(cols: _*), 0L)
    val feed = primary.changesBetween(spark, 0, primary.headVersion(),
      updatePreimages = true)
    Mv.applyDeltas(viewDir, "language", feed, batchId = 0L)
    val v0 = Mv.read(spark, viewDir).collect().toSet
    // same batchId re-delivered (foreachBatch crash-replay): no-op even if
    // the replayed feed were garbage — the fence short-circuits first
    Mv.applyDeltas(viewDir, "language", feed.limit(0), batchId = 0L)
    assert(Mv.read(spark, viewDir).collect().toSet === v0, "replay must no-op")

    // a feed WITHOUT preimages carries plain U rows on an update — the
    // maintainer must refuse rather than silently drift
    primary.merge(spark,
      Seq(("r1", "a", "U", 2L, "c2", "java", "v2", Option(10L))).toDF(cols: _*), 1L)
    val plain = primary.changesBetween(spark, 1, primary.headVersion())
    val e = intercept[IllegalStateException] {
      Mv.applyDeltas(viewDir, "language", plain, batchId = 1L)
    }
    assert(e.getMessage.contains("updatePreimages"))
    // and the preimage feed for the same window applies exactly
    val pre = primary.changesBetween(spark, 1, primary.headVersion(),
      updatePreimages = true)
    Mv.applyDeltas(viewDir, "language", pre, batchId = 1L)
    assert(Mv.read(spark, viewDir).select("language", "cnt", "bytes")
      .as[(String, Long, Long)].collect().toSet === Set(("java", 1L, 10L)))
  }

  test("a fresh checkpoint cannot silently re-point an existing view (consumer tag)") {
    val base = tmpDir("mv-tag")
    val primary = LakeTable(s"$base/t", 4)
    primary.merge(spark,
      Seq(("r1", "a", "U", 1L, "c1", "scala", "v1", Option(10L))).toDF(cols: _*), 0L)
    Mv.maintainInto(spark, s"$base/t", s"$base/view", s"$base/ckptA")
    assert(view(s"$base/view") === Set(("scala", 1L, 10L)))
    // a NEW checkpoint restarts batchIds at 0 — without the tag the pointer
    // fence would no-op the bootstrap and the view could then drift; with
    // it the mismatch is loud
    primary.merge(spark,
      Seq(("r2", "b", "U", 2L, "c2", "java", "v2", Option(5L))).toDF(cols: _*), 1L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Mv.maintainInto(spark, s"$base/t", s"$base/view", s"$base/ckptB")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("checkpoint"))),
      s"want the consumer-tag error, got: ${e.getMessage}")
    // the original checkpoint still converges
    Mv.maintainInto(spark, s"$base/t", s"$base/view", s"$base/ckptA")
    assert(view(s"$base/view") === recompute(primary, "language"))
  }

  test("cursor-driven maintenance (no streaming query) converges and absorbs crash-replays") {
    val base = tmpDir("mv-cursor")
    val primary = LakeTable(s"$base/t", 4)
    val cursor = java.nio.file.Paths.get(s"$base/cursor")
    val viewDir = s"$base/view"
    def mk(r: String, p: String, s: Long, lang: String, op: String = "U") =
      (r, p, op, s, s"c$s", lang, if (op == "D") null else s"v$s",
        if (op == "D") Option.empty[Long] else Option(s))
    primary.merge(spark, Seq(mk("r1", "a", 1, "scala"), mk("r2", "b", 2, "java")).toDF(cols: _*), 0L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir))
    assert(view(viewDir) === recompute(primary, "language"), "bootstrap window")
    assert(!Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir), "caught up")

    // a run that folded the window [1, 2] and was killed right after its
    // pointer advance: the pointer is the only progress record it leaves
    primary.merge(spark, Seq(mk("r1", "a", 10, "java"), mk("r3", "c", 11, "rust")).toDF(cols: _*), 1L)
    Mv.applyDeltas(viewDir, "language", primary.changesBetween(spark, 1, 2, updatePreimages = true),
      batchId = 2L, consumerTag = Some(cursor.toString))
    // a NEW commit lands BEFORE the retry: the retry must diff from the
    // pointer, never re-fold the already-folded [1, 2]
    primary.merge(spark, Seq(mk("r2", "b", 20, "java", "D")).toDF(cols: _*), 2L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir),
      "retry after crash still advances")
    assert(view(viewDir) === recompute(primary, "language"),
      "crash + concurrent commit must not double-apply the overlap")
    assert(!java.nio.file.Files.exists(cursor), "the cursor path is only a tag")

    // and the cursor view rejects a different cursor (same foot-gun as a
    // fresh checkpoint)
    val e = intercept[IllegalStateException] {
      Mv.maintainViaCursor(spark, s"$base/t",
        java.nio.file.Paths.get(s"$base/cursor2"), viewDir)
    }
    assert(e.getMessage.contains("checkpoint") || e.getMessage.contains("cursor"),
      e.getMessage)
  }

  test("property: view == recompute under randomized keyed U/D feeds with group moves (seeded)") {
    // Deterministic randomized soak of the maintenance algebra: random
    // upsert/delete ops over a small key space across several windows,
    // each op free to MOVE its key's group (the case an after-image-only
    // feed cannot maintain) or delete it; after every drain the view must
    // equal a full recompute. Seeded Random → reproducible, no shrinking
    // machinery needed; one seq-descending LWW pick per (key, window)
    // because merge rejects duplicate source keys per batch (the Tailer
    // feeds it deduped batches the same way).
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val base = tmpDir(s"mv-prop$trial")
      val primary = LakeTable(s"$base/t", 4)
      val cursor = java.nio.file.Paths.get(s"$base/cursor")
      val viewDir = s"$base/view"
      val keys = for (r <- 0 until 3; p <- 0 until 4) yield (s"r$r", s"p$p")
      var seq = 0L
      for (window <- 0 until 4) {
        val nOps = 3 + rnd.nextInt(10)
        val ops = (0 until nOps).map { _ =>
          val (r, p) = keys(rnd.nextInt(keys.size))
          seq += 1
          val del = rnd.nextInt(4) == 0
          val lang = s"g${rnd.nextInt(4)}"
          (r, p, if (del) "D" else "U", seq, s"c$seq", lang,
            if (del) null else s"v$seq",
            if (del) Option.empty[Long] else Option(seq))
        }
        val batch = ops.groupBy(o => (o._1, o._2)) // LWW within the window
          .values.map(_.maxBy(_._4)).toSeq
        primary.merge(spark, batch.toDF(cols: _*), window.toLong)
        Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir)
        assert(view(viewDir) === recompute(primary, "language"),
          s"trial=$trial window=$window seqThrough=$seq")
      }
    }
  }

  test("view gc retains the newest N EXISTING versions even when batchIds jump (cursor mode)") {
    val base = tmpDir("mv-gc-retain")
    val primary = LakeTable(s"$base/t", 4)
    val cursor = java.nio.file.Paths.get(s"$base/cursor")
    val viewDir = s"$base/view"
    def mk(r: String, p: String, s: Long, lang: String) =
      (r, p, "U", s, s"c$s", lang, s"v$s", Option(s))
    def versionsOnDisk: Set[Long] = {
      val d = java.nio.file.Paths.get(viewDir)
      scala.util.Using.resource(java.nio.file.Files.list(d))(
        _.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
          .map(_.drop(1).toLong).toSet)
    }
    primary.merge(spark, Seq(mk("r1", "a", 1, "scala")).toDF(cols: _*), 0L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir, retain = 2))
    val first = versionsOnDisk
    assert(first.size === 1, s"bootstrap leaves one version: $first")

    // two commits fold in ONE refresh → batchId = toVersion JUMPS past
    // first+1; a numeric latest−retain+1 floor would wrongly gc the
    // bootstrap version, leaving 1 where the retain=2 contract promises 2
    primary.merge(spark, Seq(mk("r2", "b", 10, "java")).toDF(cols: _*), 1L)
    primary.merge(spark, Seq(mk("r3", "c", 11, "rust")).toDF(cols: _*), 2L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir, retain = 2))
    val second = versionsOnDisk
    assert(second.size === 2 && second.subsetOf(first ++ Set(2L, 3L)),
      s"newest two versions retained across a batchId jump: $second")
    assert(view(viewDir) === recompute(primary, "language"))

    // a third refresh rolls the window: newest two survive, oldest goes
    primary.merge(spark, Seq(mk("r4", "d", 20, "go")).toDF(cols: _*), 3L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir, retain = 2))
    val third = versionsOnDisk
    assert(third.size === 2 && !third.contains(first.head),
      s"oldest version gc'd once retain is exceeded: $third")
    assert(view(viewDir) === recompute(primary, "language"))
  }

  test("expired window fails with rebuild guidance; following it rebuilds exactly") {
    val base = tmpDir("mv-expire")
    val primary = LakeTable(s"$base/t", 4)
    val cursor = java.nio.file.Paths.get(s"$base/cursor")
    val viewDir = s"$base/view"
    def mk(r: String, p: String, s: Long, lang: String, op: String = "U") =
      (r, p, op, s, s"c$s", lang, if (op == "D") null else s"v$s",
        if (op == "D") Option.empty[Long] else Option(s))
    primary.merge(spark, Seq(mk("r1", "a", 1, "scala"), mk("r2", "b", 2, "java")).toDF(cols: _*), 0L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir))

    // the view falls behind by two commits (one a group move, one a
    // delete), then expireSnapshots erases the cursor's window
    primary.merge(spark, Seq(mk("r1", "a", 10, "java"), mk("r3", "c", 11, "rust")).toDF(cols: _*), 1L)
    primary.merge(spark, Seq(mk("r2", "b", 20, "java", "D")).toDF(cols: _*), 2L)
    primary.expireSnapshots(keepLast = 1)

    val pointer = java.nio.file.Paths.get(viewDir, "_latest")
    val before = java.nio.file.Files.readString(pointer)
    val e = intercept[IllegalStateException] {
      Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(e.getMessage.contains(s"delete '$viewDir'"),
      s"guidance must name what to delete: ${e.getMessage}")
    // the failed attempt must not have moved anything: the view pointer
    // is exactly where it was
    assert(java.nio.file.Files.readString(pointer) === before)
    assert(Mv.read(spark, viewDir).count() > 0)

    // follow the guidance: drop the view (the cursor path stays its tag);
    // the fresh bootstrap window (full live state as I rows) rebuilds the
    // aggregate exactly
    rm(java.nio.file.Paths.get(viewDir))
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir),
      "rebuild drain applies")
    assert(view(viewDir) === recompute(primary, "language"),
      "rebuilt view == full recompute")
    assert(!Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir), "caught up")
  }

  test("a cursor view deleted while its cursor path is kept rebuilds to a full recompute") {
    val base = tmpDir("mv-view-deleted")
    val primary = LakeTable(s"$base/t", 4)
    val cursor = java.nio.file.Paths.get(s"$base/cursor")
    val viewDir = s"$base/view"
    def mk(r: String, p: String, s: Long, lang: String) =
      (r, p, "U", s, s"c$s", lang, s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", "a", 1, "scala"), mk("r2", "b", 2, "java")).toDF(cols: _*), 0L)
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir))
    primary.merge(spark, Seq(mk("r3", "c", 3, "scala")).toDF(cols: _*), 1L)

    rm(java.nio.file.Paths.get(viewDir))
    assert(Mv.maintainViaCursor(spark, s"$base/t", cursor, viewDir))
    assert(view(viewDir) === recompute(primary, "language"),
      "a view with no pointer folds the full live state, whatever the cursor path holds")
    assert(view(viewDir).map(r => r._1 -> r._2) === Set("scala" -> 2L, "java" -> 1L))
  }

  test("continuous maintenance converges while the primary keeps committing") {
    val base = tmpDir("mv-cont")
    val primary = LakeTable(s"$base/t", 4)
    val viewDir = s"$base/view"
    def rows(lang: String, n: Int, seq0: Long) = (0 until n).map(i =>
      ("r1", s"p${seq0 + i}", "U", seq0 + i, s"c${seq0 + i}", lang, "x", Option(1L)))
    primary.merge(spark, rows("scala", 5, 1).toDF(cols: _*), 0L)
    val q = Mv.maintainContinuously(spark, s"$base/t", viewDir, s"$base/ckpt",
      intervalMs = 100L)
    try {
      primary.merge(spark, rows("java", 3, 100).toDF(cols: _*), 1L)
      primary.merge(spark, rows("scala", 2, 200).toDF(cols: _*), 2L)
      val want = recompute(primary, "language")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        ok = try view(viewDir) == want catch { case _: IllegalStateException => false }
        if (!ok) Thread.sleep(100)
      }
      assert(ok, s"view must converge to $want")
    } finally q.stop()
  }
}
