package graft

import graft.lake.LakeTable
import graft.stream.Tailer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The change feed as a STREAMING SOURCE (`format("graft-cdf")`): a derived
  * lake table must stay in exact sync with the primary across repeated
  * merge + compact cycles using ONLY the feed — the invariant that makes
  * derived pipelines sound (extends LakeModelSpec's per-window CDF
  * reconstruction to the full streaming loop with checkpointed offsets).
  */
class CdfStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")

  private def state(t: LakeTable): Set[(String, String, Long, String)] =
    t.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet

  /** A change row as (op, repo, path, commit, language, content, size_bytes, seq). */
  private type Row8 = (String, String, String, String, String, String, Option[Long], Long)

  private def rows8(feed: DataFrame): Set[Row8] =
    feed.select("op", "repo", "path", "commit", "language", "content", "size_bytes", "seq")
      .as[Row8].collect().toSet

  /** The change window [from, to] diffed on the driver, independently of
    * the change-feed reader: each endpoint's live state comes from `readAt`
    * (the Dataset LWW resolve) as a map by key; a key only `to` holds is I,
    * one only `from` holds is D (before-image), one whose payload differs
    * is U (after-image) or, with preimages, the U-/U+ pair. An expired v0
    * reads as empty: it is the table's empty initial snapshot.
    */
  private def referenceDiff(t: LakeTable, from: Int, to: Int,
                            updatePreimages: Boolean = false): Set[Row8] = {
    type Image = (String, String, String, Option[Long], Long)
    def at(v: Int): Map[(String, String), Image] =
      if (v == 0 && !t.versions().contains(0)) Map.empty
      else t.readAt(spark, v)
        .select("repo", "path", "commit", "language", "content", "size_bytes", "seq")
        .as[(String, String, String, String, String, Option[Long], Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    val (before, after) = (at(from), at(to))
    def row(op: String, k: (String, String), i: Image): Row8 =
      (op, k._1, k._2, i._1, i._2, i._3, i._4, i._5)
    (before.keySet ++ after.keySet).toSeq.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a)) => Seq(row("I", k, a))
        case (Some(b), None) => Seq(row("D", k, b))
        case (Some(b), Some(a)) if b != a =>
          if (updatePreimages) Seq(row("U-", k, b), row("U+", k, a))
          else Seq(row("U", k, a))
        case _ => Nil
      }
    }.toSet
  }

  test("derived table follows the primary across 3 merge/compact cycles via the feed only") {
    val base = tmpDir("cdf-follow")
    val primary = LakeTable(s"$base/primary", 8)
    val derived = LakeTable(s"$base/derived", 4) // different bucket count: feed is logical
    val ckpt = s"$base/ckpt"

    def mk(r: String, p: String, s: Long, op: String = "U") =
      (r, p, op, s, s"c$s", "scala", if (op == "D") null else s"v$s-$r$p", Option(s))

    var batchId = 0L
    def mergeP(rows: (String, String, String, Long, String, String, String, Option[Long])*): Unit = {
      primary.merge(spark, rows.toSeq.toDF(cols: _*), batchId); batchId += 1
    }

    // cycle 1: inserts, then follow (with lineage emission)
    mergeP(mk("r1", "p1", 1), mk("r2", "p2", 2), mk("r3", "p3", 3))
    Tailer.followInto(spark, s"$base/primary", derived, ckpt,
      lineageDir = Some(s"$base/lineage"))
    assert(state(derived) === state(primary), "cycle 1 parity")
    val lin = spark.read.parquet(s"$base/lineage")
    assert(lin.agg(sum("rowsApplied")).head.getLong(0) === 3L,
      "follow lineage covers the applied feed rows")
    assert(lin.columns.toSet === Set("batchId", "partitionId", "firstOffset",
      "lastOffset", "rowsApplied", "bytesIn", "attempt"))

    // cycle 2: update + delete + insert, a compaction in between (must diff
    // to zero extra rows), then follow again from the SAME checkpoint
    mergeP(mk("r1", "p1", 10), mk("r2", "p2", 11, "D"))
    primary.compact(spark)
    mergeP(mk("r4", "p4", 12))
    Tailer.followInto(spark, s"$base/primary", derived, ckpt)
    assert(state(derived) === state(primary), "cycle 2 parity")
    assert(state(derived).exists(_._1 == "r4") && !state(derived).exists(_._1 == "r2"))

    // cycle 3: re-insert a deleted key (seq advanced past the delete),
    // compact with tombstone GC, update again
    mergeP(mk("r2", "p2", 20))
    primary.compact(spark, gcTombstones = true)
    mergeP(mk("r3", "p3", 21), mk("r1", "p1", 22, "D"))
    Tailer.followInto(spark, s"$base/primary", derived, ckpt)
    assert(state(derived) === state(primary), "cycle 3 parity")

    // nothing new: the follow is a no-op (offset checkpoint holds)
    val vBefore = derived.head().version
    Tailer.followInto(spark, s"$base/primary", derived, ckpt)
    assert(derived.head().version === vBefore, "drained feed must not re-apply")

    // replaying the WHOLE feed from a fresh checkpoint into the same derived
    // table is idempotent (batch fence + seq guard absorb the re-delivery)
    Tailer.followInto(spark, s"$base/primary", derived, s"$base/ckpt2")
    assert(state(derived) === state(primary), "full re-feed is idempotent")
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"equal-seq payload mutation on the primary replicates through the feed ($mode mirror)") {
    // the primary's SQL MERGE can mutate payload WITHOUT assigning seq;
    // changesBetween emits that as a U row carrying the seq the mirror
    // already holds — a strict seq guard in the sink would silently drop
    // it and the replica would diverge until the key's next real event
    val base = tmpDir(s"cdf-eqseq-$mode")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4, mode)
    val ckpt = s"$base/ckpt"
    def mk(r: String, s: Long) = (r, "p", "U", s, s"c$s", "scala", s"v$s", Option(s))

    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    Tailer.followInto(spark, s"$base/p", derived, ckpt)
    assert(state(derived) === state(primary), "bootstrap parity")

    spark.sql(
      s"""MERGE INTO graft_lake.`$base/p` AS t
         |USING (SELECT 'r1' AS repo, 'p' AS path) AS s
         |ON t.repo = s.repo AND t.path = s.path
         |WHEN MATCHED THEN UPDATE SET t.content = 'payload-only-mutation'""".stripMargin)
    Tailer.followInto(spark, s"$base/p", derived, ckpt)
    assert(state(derived) === state(primary),
      s"equal-seq mutation must reach the mirror: ${state(derived)} vs ${state(primary)}")
    assert(state(derived).exists(r => r._1 == "r1" && r._4 == "payload-only-mutation" && r._3 == 1L),
      "mirror must hold the new content at the UNCHANGED seq")

    // and the replicated batch stays idempotent: a fresh-checkpoint full
    // re-feed (re-delivering the equal-seq row) changes nothing
    Tailer.followInto(spark, s"$base/p", derived, s"$base/ckpt2")
    assert(state(derived) === state(primary), "full re-feed is idempotent")
  }

  test("continuous follow: derived table converges to live primary commits") {
    val base = tmpDir("cdf-tail")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4)
    def mk(r: String, s: Long) = (r, "p", "U", s, s"c$s", "scala", s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1)).toDF(cols: _*), 0L)

    val q = Tailer.followContinuously(spark, s"$base/p", derived, s"$base/ckpt",
      intervalMs = 100L)
    try {
      def awaitRows(n: Long): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (derived.read(spark).count() < n) {
          assert(System.currentTimeMillis < deadline, s"derived never reached $n rows")
          Thread.sleep(200)
        }
      }
      awaitRows(1)
      // commits arriving WHILE the follower runs (binlog-tail shape)
      primary.merge(spark, Seq(mk("r2", 2), mk("r3", 3)).toDF(cols: _*), 1L)
      awaitRows(3)
      primary.compact(spark) // layout-only: must not disturb the mirror
      primary.merge(spark, Seq(mk("r4", 4)).toDF(cols: _*), 2L)
      awaitRows(4)
      // let the follower drain fully, then assert exact parity
      val deadline = System.currentTimeMillis + 60000
      while (state(derived) != state(primary) &&
             System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(state(derived) === state(primary), "tail-mode mirror parity")
    } finally q.stop()
  }

  test("maxVersionsPerBatch: a 100-version backlog drains in bounded batches") {
    val base = tmpDir("cdf-bounded")
    val primary = LakeTable(s"$base/t", 2)
    def mk(i: Long) = ("r", s"p${i % 10}", "U", i, s"c$i", "scala", s"v$i", Option(i))
    (1L to 100L).foreach(i =>
      primary.merge(spark, Seq(mk(i)).toDF(cols: _*), i - 1))
    assert(primary.headVersion() === 100)

    // AvailableNow + cap 10: the drain must proceed in version windows of
    // ≤10 (≥10 non-empty batches), and LWW-applying the batches IN ORDER
    // must reconstruct the primary's live state exactly
    var batches = 0
    val mirror = scala.collection.mutable.Map[(String, String), (Long, String)]()
    val q = spark.readStream.format("graft-cdf")
      .option("path", s"$base/t").option("maxVersionsPerBatch", "10")
      .load()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (feed: DataFrame, _: Long) =>
        val rows = feed.select("op", "repo", "path", "seq", "content")
          .as[(String, String, String, Long, String)].collect()
        if (rows.nonEmpty) batches += 1
        rows.foreach {
          case ("D", r, p, _, _) => mirror.remove((r, p))
          case (_, r, p, s, c) => mirror((r, p)) = (s, c)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches >= 10, s"100 versions at cap 10 → at least 10 batches, got $batches")
    val want = primary.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect()
      .map { case (r, p, s, c) => (r, p) -> (s, c) }.toMap
    assert(mirror.toMap === want, "windowed drain must reconstruct the live state")
  }

  test("a follower poll tick costs one HEAD read — no snapshot JSON IO") {
    val base = tmpDir("cdf-poll")
    val primary = LakeTable(s"$base/t", 4)
    def mk(s: Long) = ("r", s"p$s", "I", s, s"c$s", "scala", s"v$s", Option(s))
    primary.merge(spark, Seq(mk(1)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk(2)).toDF(cols: _*), 1L)

    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val head = stream.latestOffset(graft.stream.CdfOffset(0), ReadLimit.allAvailable())
    assert(head.json.toInt === primary.headVersion())
    val before = stream.table.snapshotReads.get()
    (1 to 5).foreach(_ => stream.latestOffset(head, ReadLimit.allAvailable()))
    assert(stream.table.snapshotReads.get() === before,
      "idle poll ticks must read only the HEAD pointer, never snapshot bodies")
  }

  test("batch planning pins snapshot endpoints against interleaved commits (deterministic race)") {
    val base = tmpDir("cdf-pin")
    val primary = LakeTable(s"$base/t", 4)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk("r1", 10), mk("r2", 11, "D")).toDF(cols: _*), 1L)

    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val end = stream.latestOffset(graft.stream.CdfOffset(0), ReadLimit.allAvailable())
    val endV = end.json.toInt

    // commits landing BETWEEN offset choice and batch planning/reading —
    // the follower's batch must still be the diff of the PINNED snapshots
    primary.merge(spark, Seq(mk("r3", 20)).toDF(cols: _*), 2L)
    primary.compact(spark)

    val factory = stream.createReaderFactory()
    val got = stream.planInputPartitions(graft.stream.CdfOffset(0), end).flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[(String, String, String, Long, String)]()
      while (r.next()) {
        val row = r.get()
        buf += ((row.getUTF8String(0).toString, row.getUTF8String(1).toString,
          row.getUTF8String(2).toString, row.getLong(7),
          Option(row.getUTF8String(5)).map(_.toString).orNull))
      }
      r.close(); buf
    }.toSet
    val want = referenceDiff(primary, 0, endV).map(r => (r._1, r._2, r._3, r._8, r._6))
    assert(got === want, s"pinned-window diff must match the reference diff of [0, $endV]")
    assert(got.map(t => (t._1, t._2)) === Set(("I", "r1")),
      "window [0,2] live diff is exactly the surviving insert (r2 deleted within it)")
  }

  test("abandoning a partition reader mid-stream releases its open file reader via close()") {
    val base = tmpDir("cdf-abandon")
    val primary = LakeTable(s"$base/t", 1) // one bucket → one partition, many rows
    val rows = (1 to 500).map(i => (s"r$i", "p", "U", i.toLong, s"c$i", "scala", s"v$i", Option(i.toLong)))
    primary.merge(spark, rows.toDF(cols: _*), 0L)

    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    val end = stream.latestOffset(graft.stream.CdfOffset(0),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(graft.stream.CdfOffset(0), end)
    assert(parts.length == 1)
    val factory = stream.createReaderFactory()

    // consume ONE row and abandon — the streamScan's parquet reader is
    // still open on the file; close() must release it (a cancelled task or
    // a downstream limit hits exactly this path) and be idempotent
    val r = factory.createReader(parts.head)
    assert(r.next(), "partition should yield rows")
    r.close()
    r.close() // idempotent

    // a fully-drained reader has already closed its file inline — close()
    // is then a no-op and the drain still saw every change row
    val r2 = factory.createReader(parts.head)
    var n = 0
    while (r2.next()) n += 1
    r2.close()
    assert(n == 500, s"full drain must emit all I rows, got $n")
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"executor-side bucket diff ≡ changesBetween over random op sequences (property, $mode)") {
    val base = tmpDir(s"cdf-prop-$mode")
    val primary = LakeTable(s"$base/t", 4, mode)
    val rnd = new scala.util.Random(42)
    var seq = 0L
    var batch = 0L
    // 8 commits of random upserts/deletes over a 12-key space, compaction
    // interleaved — covers I/U/D, re-deletes, re-inserts, tombstone carry
    (1 to 8).foreach { _ =>
      val keys = rnd.shuffle((0 until 12).toList).take(1 + rnd.nextInt(6))
      val rows = keys.map { k =>
        seq += 1
        val del = rnd.nextInt(4) == 0
        (s"r${k % 3}", s"p$k", if (del) "D" else "U", seq, s"c$seq", "scala",
          if (del) null else s"v$seq", if (del) Option.empty[Long] else Option(seq))
      }
      primary.merge(spark, rows.toDF(cols: _*), batch); batch += 1
      if (batch % 3 == 0) primary.compact(spark)
    }
    val head = primary.headVersion()
    assert(head >= 10)

    // four readers: unsplit and memory-bounded (maxStateRows=2 forces
    // every bucket into hash-of-key slices), each without and with update
    // preimages — all must agree with the driver-side reference diff, and
    // so must the batch frame changesBetween builds over the same reader
    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    val streamSliced = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0, maxStateRows = 2L)
    val pre = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0, updatePreimages = true)
    val preSliced = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0,
      maxStateRows = 2L, updatePreimages = true)
    def via(s: graft.stream.CdfMicroBatchStream)(from: Int, to: Int): Set[Row8] = {
      val factory = s.createReaderFactory()
      s.planInputPartitions(graft.stream.CdfOffset(from), graft.stream.CdfOffset(to))
        .flatMap { p =>
          val r = factory.createReader(p)
          val buf = scala.collection.mutable.ArrayBuffer[Row8]()
          while (r.next()) {
            val row = r.get()
            def f(i: Int) = Option(row.getUTF8String(i)).map(_.toString).orNull
            buf += ((f(0), f(1), f(2), f(3), f(4), f(5),
              if (row.isNullAt(6)) None else Some(row.getLong(6)), row.getLong(7)))
          }
          r.close(); buf
        }.toSet
    }
    (1 to 10).foreach { _ =>
      val from = rnd.nextInt(head)
      val to = from + 1 + rnd.nextInt(head - from)
      val want = referenceDiff(primary, from, to)
      assert(via(stream)(from, to) === want,
        s"window [$from, $to] diverged between the DSv2 reader and the reference diff")
      assert(via(streamSliced)(from, to) === want,
        s"window [$from, $to] diverged under hash-of-key slicing")
      assert(rows8(primary.changesBetween(spark, from, to)) === want,
        s"window [$from, $to] diverged between changesBetween and the reference diff")
      val wantPre = referenceDiff(primary, from, to, updatePreimages = true)
      assert(via(pre)(from, to) === wantPre,
        s"window [$from, $to]: preimage reader diverged from the reference diff")
      assert(via(preSliced)(from, to) === wantPre,
        s"window [$from, $to]: preimage reader diverged under slicing")
    }
    // slicing actually splits: more partitions than changed buckets
    assert(streamSliced.planInputPartitions(
        graft.stream.CdfOffset(0), graft.stream.CdfOffset(head)).length >
      stream.planInputPartitions(
        graft.stream.CdfOffset(0), graft.stream.CdfOffset(head)).length)

    // a fresh cursor after v0 has been expired: the bootstrap window is
    // the live state at head as I rows — the reference diff against the
    // empty v0
    primary.expireSnapshots(keepLast = 2)
    assert(!primary.versions().contains(0), "v0 must be expired")
    val w = primary.drainChanges(spark,
      java.nio.file.Paths.get(s"$base/fresh-cursor"), updatePreimages = true).get
    assert(rows8(w.feed) === referenceDiff(primary, 0, w.toVersion),
      "fresh drain after v0 expiry diverged from the reference diff")
  }

  test("rebucket inside the window → whole-state fallback ≡ changesBetween (and legacy numBuckets)") {
    val base = tmpDir("cdf-rebucket")
    val primary = LakeTable(s"$base/t", 4)
    def mk(r: String, p: String, s: Long, op: String = "U") =
      (r, p, op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", "p1", 1), mk("r2", "p2", 2), mk("r3", "p3", 3)).toDF(cols: _*), 0L)
    val vPre = primary.headVersion()
    // rebucket MID-WINDOW: key→bucket mapping changes, so per-bucket
    // pairing would emit moved keys as spurious same-seq D+I pairs
    primary.rebucket(spark, 8)
    val rebucketed = LakeTable.open(s"$base/t")
    rebucketed.merge(spark, Seq(mk("r1", "p1", 10), mk("r2", "p2", 11, "D"), mk("r4", "p4", 12)).toDF(cols: _*), 1L)
    val head = rebucketed.headVersion()

    type Row5 = (String, String, String, Long, String)
    def viaReader(from: Int, to: Int): (Set[Row5], Array[graft.stream.CdfInputPartition]) = {
      val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
      val parts = stream.planInputPartitions(
        graft.stream.CdfOffset(from), graft.stream.CdfOffset(to))
        .map(_.asInstanceOf[graft.stream.CdfInputPartition])
      val factory = stream.createReaderFactory()
      val rows = parts.flatMap { p =>
        val r = factory.createReader(p)
        val buf = scala.collection.mutable.ArrayBuffer[Row5]()
        while (r.next()) {
          val row = r.get()
          buf += ((row.getUTF8String(0).toString, row.getUTF8String(1).toString,
            row.getUTF8String(2).toString, row.getLong(7),
            Option(row.getUTF8String(5)).map(_.toString).orNull))
        }
        r.close(); buf
      }.toSet
      (rows, parts)
    }
    def want(from: Int, to: Int): Set[Row5] =
      referenceDiff(rebucketed, from, to).map(r => (r._1, r._2, r._3, r._8, r._6))

    // window straddling the rebucket: the reader must take the bucket=-1
    // whole-state path and still agree with the reference diff exactly —
    // NO spurious D+I for keys that merely moved buckets
    val (got, parts) = viaReader(0, head)
    assert(parts.forall(_.bucket == -1), "a rebucket window must plan the whole-state fallback")
    assert(got === want(0, head))
    // window starting AFTER r3's insert: r3 is unchanged across it (it
    // merely MOVED buckets in the rebucket) — per-bucket pairing would
    // fabricate a same-seq D+I pair for it; the fallback must emit nothing
    val (gotMoved, partsMoved) = viaReader(vPre, head)
    assert(partsMoved.forall(_.bucket == -1))
    assert(gotMoved === want(vPre, head))
    assert(!gotMoved.exists(t => t._2 == "r3"),
      "an unchanged (merely moved) key must not appear in the feed")
    // the batch frame over the same straddling windows takes the fallback too
    for ((from, to) <- Seq((0, head), (vPre, head)))
      assert(rows8(rebucketed.changesBetween(spark, from, to)) === referenceDiff(rebucketed, from, to),
        s"changesBetween($from, $to) across the rebucket")

    // window NOT straddling it (both endpoints post-rebucket): per-bucket diff
    val (gotPost, partsPost) = viaReader(vPre + 1, head)
    assert(partsPost.forall(_.bucket >= 0), "post-rebucket windows pair per bucket again")
    assert(gotPost === want(vPre + 1, head))

    // LEGACY endpoint (numBuckets unrecorded, -1): moduli unprovable →
    // whole-state fallback too. Simulate by stripping the field from a
    // snapshot JSON, as a pre-field-era table would look.
    val meta = java.nio.file.Paths.get(s"$base/t/meta")
    val vJson = meta.resolve(s"v$head.json")
    java.nio.file.Files.writeString(vJson,
      java.nio.file.Files.readString(vJson).replaceAll(""""numBuckets"\s*:\s*\d+,?""", ""))
    val (gotLegacy, partsLegacy) = viaReader(vPre + 1, head)
    assert(partsLegacy.forall(_.bucket == -1),
      "a legacy (unrecorded-modulus) endpoint must take the whole-state fallback")
    assert(gotLegacy === want(vPre + 1, head))
  }

  test("ReadLimit hints (maxRows/maxFiles/composite) cap the version window") {
    val base = tmpDir("cdf-readlimit")
    val primary = LakeTable(s"$base/t", 2)
    def mk(i: Long, j: Long) = ("r", s"p$i-$j", "I", i * 10 + j, s"c$i", "scala", s"v$i", Option(i))
    // 6 commits × 3 rows each (srcRows=3 recorded per snapshot summary)
    (1L to 6L).foreach(i =>
      primary.merge(spark, Seq(mk(i, 1), mk(i, 2), mk(i, 3)).toDF(cols: _*), i - 1))
    assert(primary.headVersion() === 6)

    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    def off(l: ReadLimit, from: Int = 0): Int =
      stream.latestOffset(graft.stream.CdfOffset(from), l).json.toInt

    assert(off(ReadLimit.allAvailable()) === 6)
    // maxFiles n ↦ n versions (one version = one commit's files)
    assert(off(ReadLimit.maxFiles(2)) === 2)
    assert(off(ReadLimit.maxFiles(2), from = 3) === 5)
    // maxRows walks recorded srcRows: budget 7 admits v1 (3) + v2 (3),
    // stops before v3; budget 1 still admits one version (progress)
    assert(off(ReadLimit.maxRows(7L)) === 2)
    assert(off(ReadLimit.maxRows(1L)) === 1)
    assert(off(ReadLimit.maxRows(100L)) === 6)
    // composite: every member cap applies (min wins)
    assert(off(ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(5), ReadLimit.maxRows(7L)))) === 2)
    assert(off(ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(1), ReadLimit.maxRows(100L)))) === 1)
    // the source's own option still caps underneath the hints
    val capped = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 2)
    assert(capped.latestOffset(graft.stream.CdfOffset(0), ReadLimit.maxRows(100L)).json.toInt === 2)

    // and a full AvailableNow drain under a rows limit still converges: the
    // windowed batches reconstruct the complete feed
    val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = spark.readStream.format("graft-cdf")
      .option("path", s"$base/t")
      .load()
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (feed: DataFrame, _: Long) =>
        rows ++= feed.select("op", "path").as[(String, String)].collect(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows.size === 18, s"all 18 inserts must flow, got ${rows.size}")
  }

  test("maxRowsPerTrigger / maxFilesPerTrigger OPTIONS reach admission control in a real query") {
    // the end-to-end path: MicroBatchExecution only ever applies the limit
    // the source returns from getDefaultReadLimit, so the stock trigger
    // knobs must be parsed from the source options to have any effect
    val base = tmpDir("cdf-triggeropt")
    val primary = LakeTable(s"$base/t", 2)
    def mk(i: Long, j: Long) = ("r", s"p$i-$j", "I", i * 10 + j, s"c$i", "scala", s"v$i", Option(i))
    (1L to 6L).foreach(i =>
      primary.merge(spark, Seq(mk(i, 1), mk(i, 2), mk(i, 3)).toDF(cols: _*), i - 1))

    def drain(opts: (String, String)*): Seq[Long] = {
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      val ckpt = s"$base/ckpt-${opts.hashCode.toHexString}"
      var r = spark.readStream.format("graft-cdf").option("path", s"$base/t")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (feed: DataFrame, _: Long) => sizes += feed.count(); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sizes.toSeq
    }

    // budget 7 rows/batch over 6 commits × 3 rows ⇒ 2 versions per batch
    // ⇒ exactly 3 batches of 6 feed rows
    val byRows = drain("maxRowsPerTrigger" -> "7")
    assert(byRows === Seq(6L, 6L, 6L), s"maxRowsPerTrigger must window the drain, got $byRows")
    // maxFilesPerTrigger n ↦ n versions per batch ⇒ 2 batches (3+3 commits)
    val byFiles = drain("maxFilesPerTrigger" -> "3")
    assert(byFiles === Seq(9L, 9L), s"maxFilesPerTrigger must window the drain, got $byFiles")
    // composed: the tighter cap wins per batch
    val both = drain("maxRowsPerTrigger" -> "4", "maxFilesPerTrigger" -> "3")
    assert(both === Seq(3L, 3L, 3L, 3L, 3L, 3L), s"composite caps must both apply, got $both")
    // malformed values fail loudly, not silently unbounded
    val e = intercept[Exception](drain("maxRowsPerTrigger" -> "-1"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("must be positive"), msgs)
  }

  test("equal-seq duplicate across MOR files: Dataset read and DSv2 feed agree (file-order tie-break)") {
    val base = tmpDir("cdf-tie")
    val primary = LakeTable(s"$base/t", 2, LakeTable.Mor)
    def row(content: String) =
      Seq(("r1", "p1", "U", 5L, "c", "scala", content, Option(5L))).toDF(cols: _*)
    // two MOR append files carrying the SAME (key, seq) with DIFFERENT
    // payloads — only possible across files (requireUniqueKeys guards
    // within one); the pathological reused-seq shape ADVICE flagged
    primary.merge(spark, row("first-file"), 0L)
    primary.merge(spark, row("second-file"), 1L)
    val head = primary.headVersion()

    // Dataset path: deterministic across repeated reads (file-path tie-break)
    val viaRead = (1 to 3).map(_ =>
      primary.read(spark).select("content").as[String].collect().toSeq)
    assert(viaRead.distinct.size === 1, s"read() must be deterministic, got $viaRead")
    assert(viaRead.head.size === 1)
    // the winner lives in the byte-wise greatest data-file path; write
    // tokens are MONOTONE per JVM, so on a sequentially-written table the
    // tie-break is latest-write-wins — the exact LWW extension a
    // replication sink needs for equal-seq payload mutations
    val winner = viaRead.head.head
    assert(winner === "second-file",
      "monotone write tokens must make the LATER equal-seq write win")

    // the point lookup (resolved in the scan's own stage) and the repo scan
    // apply the same file-path tie-break
    assert(primary.lookup(spark, "r1", "p1").select("content").as[String].collect().toSeq
      === Seq(winner), "lookup must agree with read()")
    assert(primary.readWhereRepo(spark, "r1").select("content").as[String].collect().toSeq
      === Seq(winner), "readWhereRepo must agree with read()")

    // changesBetween full-window after-image = the same winner
    val viaCdc = primary.changesBetween(spark, 0, head)
      .filter($"op" =!= "D").select("content").as[String].collect().toSeq
    assert(viaCdc === Seq(winner), "changesBetween must agree with read()")

    // DSv2 partition reader = the same winner
    val stream = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)
    val factory = stream.createReaderFactory()
    val viaFeed = stream.planInputPartitions(
      graft.stream.CdfOffset(0), graft.stream.CdfOffset(head)).flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (r.next()) buf += r.get().getUTF8String(5).toString
      r.close(); buf
    }.toSeq
    assert(viaFeed === Seq(winner), "the DSv2 feed must agree with the Dataset paths")
  }

  test("equal-seq tie-break survives a binary upgrade: post-upgrade write outranks a legacy random-hex-token file") {
    val base = tmpDir("cdf-tie-epoch")
    val primary = LakeTable(s"$base/t", 1, LakeTable.Mor)
    def row(content: String) =
      Seq(("r1", "p1", "U", 5L, "c", "scala", content, Option(5L))).toDF(cols: _*)
    primary.merge(spark, row("stale-pre-upgrade"), 0L)

    // Rewrite the write token to the PRE-upgrade format: 8 random hex
    // chars, here the worst case 'ffffffff' (sorts above every bare
    // zero-padded millis stamp — the shape that silently inverted the
    // equal-seq LWW tie-break before the 'z' epoch prefix)
    val dataDir = java.nio.file.Paths.get(s"$base/t/data")
    val snapDir = java.nio.file.Files.list(dataDir).iterator().next()
    val legacyTok = "ffffffff"
    val oldTok = snapDir.getFileName.toString.stripPrefix("snap-")
    java.nio.file.Files.move(snapDir, dataDir.resolve(s"snap-$legacyTok"))
    val manDir = java.nio.file.Paths.get(s"$base/t/meta/manifests")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(manDir).iterator().asScala.foreach { m =>
      java.nio.file.Files.writeString(m,
        java.nio.file.Files.readString(m).replace(oldTok, legacyTok))
    }

    // fresh handle (the writer's manifest cache predates the rewrite)
    val fresh = LakeTable.open(s"$base/t")
    fresh.merge(spark, row("fresh-post-upgrade"), 1L)
    val got = fresh.read(spark).select("content").as[String].collect().toSeq
    assert(got === Seq("fresh-post-upgrade"),
      s"the post-upgrade equal-seq write must win the path tie-break, got $got")
    // and the DSv2/changesBetween after-image agrees
    val viaCdc = fresh.changesBetween(spark, 0, fresh.headVersion())
      .filter($"op" =!= "D").select("content").as[String].collect().toSeq
    assert(viaCdc === Seq("fresh-post-upgrade"))
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"resyncInto recovers an expired-history follower exactly (incl. gap deletions + equal-seq mutation, $mode mirror)") {
    val base = tmpDir(s"cdf-resync-$mode")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4, mode)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))

    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2), mk("r3", 3)).toDF(cols: _*), 0L)
    // first sync: the bootstrap window (history intact)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Bootstrap)
    assert(state(derived) === state(primary), "bootstrap parity")
    val recorded = derived.head().summary(LakeTable.ProgressVersion).toInt
    assert(recorded === primary.headVersion(), "the mirror's commit records the synced version")

    // the gap the follower will MISS: an update, a DELETE, an insert, AND a
    // SQL-MERGE payload mutation that leaves seq unassigned (r3 keeps seq 3
    // with new content — the equal-seq shape only an accept-equal sink can
    // replicate) — then retention erases the history behind the cursor
    primary.merge(spark, Seq(mk("r1", 10), mk("r2", 11, "D"), mk("r4", 12)).toDF(cols: _*), 1L)
    spark.sql(
      s"""MERGE INTO graft_lake.`$base/p` AS t
         |USING (SELECT 'r3' AS repo, 'p' AS path) AS s
         |ON t.repo = s.repo AND t.path = s.path
         |WHEN MATCHED THEN UPDATE SET t.content = 'mutated-in-gap'""".stripMargin)
    primary.compact(spark, gcTombstones = true)
    primary.expireSnapshots(keepLast = 1)
    primary.vacuum(olderThanMs = 0)

    // the incremental window from the recorded version is gone…
    val e = intercept[IllegalStateException](
      primary.changesBetween(spark, recorded, primary.headVersion()))
    assert(e.getMessage.contains("expired"), e.getMessage)
    // …and resyncInto recovers EXACTLY: r2's gap deletion must not linger,
    // r3's equal-seq mutation must land
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Expired)
    assert(state(derived) === state(primary), "post-resync parity")
    assert(!state(derived).exists(_._1 == "r2"), "gap-deleted key must be gone")
    assert(state(derived).exists(r => r._1 == "r3" && r._4 == "mutated-in-gap"),
      s"equal-seq gap mutation must replicate: ${state(derived)}")

    // and the full sync's recorded version resumes incremental syncs
    primary.merge(spark, Seq(mk("r5", 20)).toDF(cols: _*), 2L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Incremental)
    assert(state(derived) === state(primary), "post-resync incremental parity")
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"resyncInto after a crash that applied a window without its progress purges a later delete ($mode mirror)") {
    // A build that kept the mirror's progress in a cursor written AFTER the
    // mirror commit could crash between the two. The next run re-drained
    // the WIDER window [cursor, new head]: a key inserted inside the
    // applied window and deleted after it has no row there, so it stayed
    // live in the mirror forever. That crash leaves a mirror commit which
    // records no progress — reproduced here by applying the window
    // through the sink directly.
    val base = tmpDir(s"cdf-resync-crash-$mode")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4, mode)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1)).toDF(cols: _*), 0L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Bootstrap)
    primary.merge(spark, Seq(mk("rX", 2)).toDF(cols: _*), 1L)
    val v1 = derived.head().summary(LakeTable.ProgressVersion).toInt
    Tailer.applyChanges(derived, primary.changesBetween(spark, v1, primary.headVersion()),
      batchId = derived.head().lastBatchId + 1)
    assert(state(derived).exists(_._1 == "rX"), "the crashed run's window landed")
    primary.merge(spark, Seq(mk("rX", 3, "D")).toDF(cols: _*), 2L)

    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Unrecorded)
    assert(state(derived) === state(primary), "post-crash parity")
    assert(!state(derived).exists(_._1 == "rX"), "the key deleted after the crash must go")
  }

  test("resyncInto rebuilds a deleted and re-created mirror to parity") {
    val base = tmpDir("cdf-resync-recreated")
    val primary = LakeTable(s"$base/p", 4)
    def mk(r: String, s: Long) = (r, "p", "U", s, s"c$s", "scala", s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    assert(Tailer.resyncInto(spark, s"$base/p", LakeTable(s"$base/d", 4)) === Tailer.Resync.Bootstrap)
    primary.merge(spark, Seq(mk("r3", 3)).toDF(cols: _*), 1L)

    // the mirror goes and comes back empty: its progress went with it
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/d")).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.delete(_))
    val derived = LakeTable(s"$base/d", 4)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Bootstrap)
    assert(state(derived) === state(primary), "re-created mirror parity")
    assert(state(derived).map(_._1) === Set("r1", "r2", "r3"))
  }

  test("the mirror's progress rides its own compactions and goes with any other write") {
    val base = tmpDir("cdf-resync-progress")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4, LakeTable.Mor)
    def mk(r: String, s: Long) = (r, "p", "U", s, s"c$s", "scala", s"v$s", Option(s))
    def progress = derived.head().summary.keySet
      .intersect(Set(LakeTable.ProgressSource, LakeTable.ProgressVersion))
    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Bootstrap)
    assert(progress.size === 2)

    // live-state-preserving rewrites of the mirror keep where it stands
    derived.compactBuckets(spark, maxFilesPerBucket = 0)
    derived.compact(spark)
    assert(progress.size === 2, "compaction carries the progress keys")
    primary.merge(spark, Seq(mk("r3", 3)).toDF(cols: _*), 1L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Incremental)
    assert(state(derived) === state(primary))
    // an empty window commits nothing and is diffed again next time
    val v = derived.head().version
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Incremental)
    assert(derived.head().version === v, "an up-to-date mirror commits nothing")

    // any other write to the mirror leaves it with no recorded progress,
    // and the next resync full-syncs it back to the primary
    derived.merge(spark, Seq(mk("stray", 9)).toDF(cols: _*), derived.head().lastBatchId + 1)
    assert(progress.isEmpty, "a direct merge drops the progress keys")
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Unrecorded)
    assert(state(derived) === state(primary), "the stray row is purged")
  }

  test("an existing checkpoint's offset wins over a raised startVersion (no skipped window)") {
    // Kafka-source contract: startingOffsets only seed a FRESH checkpoint.
    // Before the fix, latestOffset/planInputPartitions clamped the restored
    // offset with math.max(checkpoint, startVersion) — restarting a
    // follower with a raised startVersion silently skipped the
    // (checkpoint, startVersion] window (deletes included) and the mirror
    // diverged permanently.
    val base = tmpDir("cdf-startver-ckpt")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4)
    val ckpt = s"$base/ckpt"
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))

    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    Tailer.followInto(spark, s"$base/p", derived, ckpt) // checkpoint now at v1
    assert(state(derived) === state(primary), "bootstrap parity")

    // changes the raised startVersion would have skipped — including a D
    primary.merge(spark, Seq(mk("r1", 10, "D"), mk("r3", 11)).toDF(cols: _*), 1L)
    val headV = primary.headVersion()
    Tailer.followInto(spark, s"$base/p", derived, ckpt,
      sourceOptions = Map("startVersion" -> headV.toString))
    assert(state(derived) === state(primary),
      s"the (checkpoint, startVersion] window must still be delivered: " +
        s"${state(derived)} vs ${state(primary)}")
    assert(!state(derived).exists(_._1 == "r1"), "the delete inside the window must land")
  }

  test("resyncInto full-syncs a stateful mirror with no recorded progress (purges stale keys)") {
    val base = tmpDir("cdf-unrecorded-mirror")
    val primary = LakeTable(s"$base/p", 4)
    val derived = LakeTable(s"$base/d", 4)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))

    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    // a mirror first filled by the streaming follower, whose progress
    // lives in its checkpoint: its commits record none
    Tailer.followInto(spark, s"$base/p", derived, s"$base/ckpt")
    assert(state(derived) === state(primary))
    assert(!derived.head().summary.contains(LakeTable.ProgressVersion),
      "streaming mirror commits carry no progress keys")

    // meanwhile the primary deletes r2 and adds r3. History stays
    // RETAINED — so a bootstrap window (live state as I rows) would apply
    // cleanly but could never purge r2 from the mirror; the full-sync arm
    // must run instead.
    primary.merge(spark, Seq(mk("r2", 10, "D"), mk("r3", 11)).toDF(cols: _*), 1L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Unrecorded,
      "a stateful mirror with no recorded progress must full-sync")
    assert(state(derived) === state(primary), "post-resync parity")
    assert(!state(derived).exists(_._1 == "r2"), "stale key must be purged")

    // and the full sync's recorded version resumes incrementally
    primary.merge(spark, Seq(mk("r4", 20)).toDF(cols: _*), 2L)
    assert(Tailer.resyncInto(spark, s"$base/p", derived) === Tailer.Resync.Incremental)
    assert(state(derived) === state(primary))
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"fresh consumers bootstrap after v0 expiry: stream + cursor ($mode)") {
    val base = tmpDir("cdf-expired-bootstrap")
    val primary = LakeTable(s"$base/t", 4, mode)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk("r1", 10), mk("r2", 11, "D"), mk("r3", 12)).toDF(cols: _*), 1L)
    primary.expireSnapshots(keepLast = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/t/meta/v0.json")), "v0 must be expired")

    // a FRESH streaming consumer needs no history: its bootstrap window is
    // the live state at head as I rows, not a diff against expired v0
    val derived = LakeTable(s"$base/d", 2, mode)
    Tailer.followInto(spark, s"$base/t", derived, s"$base/ckpt")
    assert(state(derived) === state(primary), "fresh stream bootstrap parity")

    // same for a fresh CURSOR consumer (drainChanges from no cursor file)
    val cursor = java.nio.file.Paths.get(s"$base/cursor")
    val w = primary.drainChanges(spark, cursor, updatePreimages = true).get
    val feed = w.feed.select("op", "repo", "seq").as[(String, String, Long)].collect()
    assert(feed.forall(_._1 == "I"), s"bootstrap feed must be all-I: ${feed.toSeq}")
    assert(feed.map(r => (r._2, r._3)).toSet === Set(("r1", 10L), ("r3", 12L)),
      s"bootstrap feed == live state: ${feed.toSeq}")
    w.commit()
    // and the cursor resumes incrementally from there
    primary.merge(spark, Seq(mk("r4", 20)).toDF(cols: _*), 2L)
    val w2 = primary.drainChanges(spark, cursor).get
    assert(w2.feed.select("op", "repo").as[(String, String)].collect().toSet ===
      Set(("I", "r4")), "post-bootstrap incremental window")

    // a NON-fresh cursor that predates retention still fails loudly
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/stale"), "1")
    val e = intercept[IllegalStateException](
      primary.drainChanges(spark,
        java.nio.file.Paths.get(s"$base/stale")).foreach(_.feed.count()))
    assert(e.getMessage.contains("expired"), e.getMessage)
  }

  test("fresh consumer + admission caps on an expired-v0 table: first window clamps to a retained version") {
    val base = tmpDir("cdf-expired-capped")
    val primary = LakeTable(s"$base/t", 4)
    def mk(r: String, s: Long, op: String = "U") =
      (r, "p", op, s, s"c$s", "scala", if (op == "D") null else s"v$s", Option(s))
    // 4 commits, then retention leaves ONLY v4 — every count-capped first
    // window (maxVersionsPerBatch=1 → [0,1]) would land on an EXPIRED
    // intermediate version and throw the curated error at a checkpoint
    // that IS fresh; latestOffset must raise it to the earliest retained
    primary.merge(spark, Seq(mk("r1", 1)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk("r2", 2)).toDF(cols: _*), 1L)
    primary.merge(spark, Seq(mk("r1", 10), mk("r3", 11)).toDF(cols: _*), 2L)
    primary.merge(spark, Seq(mk("r2", 20, "D")).toDF(cols: _*), 3L)
    primary.expireSnapshots(keepLast = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/t/meta/v1.json")), "v1 must be expired")

    val derived = LakeTable(s"$base/d", 2)
    Tailer.followInto(spark, s"$base/t", derived, s"$base/ckpt",
      sourceOptions = Map("maxVersionsPerBatch" -> "1", "maxRowsPerTrigger" -> "1"))
    assert(state(derived) === state(primary), "capped fresh bootstrap parity")

    // post-bootstrap the caps pace normally from a retained base
    primary.merge(spark, Seq(mk("r4", 30)).toDF(cols: _*), 4L)
    primary.merge(spark, Seq(mk("r5", 31)).toDF(cols: _*), 5L)
    Tailer.followInto(spark, s"$base/t", derived, s"$base/ckpt",
      sourceOptions = Map("maxVersionsPerBatch" -> "1"))
    assert(state(derived) === state(primary), "incremental catch-up under the cap")
  }

  test("AvailableNow edge: target expired before the first tick → fresh bootstrap exceeds it instead of failing") {
    // prepareForTriggerAvailableNow captures head=V; if an EXTERNAL
    // expireSnapshots then erases V before the first latestOffset tick, a
    // fresh consumer has no retained version <= V to bootstrap from. The
    // documented resolution: the first window deliberately exceeds the
    // captured target up to the earliest retained version — the minimal
    // readable state — rather than failing a fresh checkpoint.
    val base = tmpDir("cdf-an-edge")
    val primary = LakeTable(s"$base/t", 4)
    def mk(r: String, s: Long) =
      (r, "p", "U", s, s"c$s", "scala", s"v$s", Option(s))
    primary.merge(spark, Seq(mk("r1", 1)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk("r2", 2)).toDF(cols: _*), 1L)
    primary.merge(spark, Seq(mk("r3", 3)).toDF(cols: _*), 2L)

    val s = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 1)
    s.prepareForTriggerAvailableNow() // captures target = v3
    // a 4th commit lands and retention erases everything but it
    primary.merge(spark, Seq(mk("r4", 4)).toDF(cols: _*), 3L)
    primary.expireSnapshots(keepLast = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/t/meta/v3.json")), "captured target must be expired")

    val start = s.deserializeOffset("0")
    val end = s.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(end.json.trim.toInt === 4,
      s"first window must clamp past the erased target to the earliest retained, got ${end.json}")
    val parts = s.planInputPartitions(start, end)
    assert(parts.nonEmpty, "bootstrap partitions must plan (not throw the curated expired error)")
    assert(parts.collect { case p: graft.stream.CdfInputPartition => p }
      .forall(_.beforeFiles.isEmpty),
      "bootstrap partitions carry an EMPTY before side (live state as I rows)")
    s.stop()
  }

  test("graft-cdf source: startVersion skips history; missing path fails loudly") {
    val base = tmpDir("cdf-opts")
    val primary = LakeTable(s"$base/t", 4)
    def mk(s: Long) = ("r", s"p$s", "I", s, s"c$s", "scala", s"v$s", Option(s))
    primary.merge(spark, Seq(mk(1)).toDF(cols: _*), 0L)
    primary.merge(spark, Seq(mk(2)).toDF(cols: _*), 1L)

    // startVersion = 1: only the second commit's changes flow
    val got = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val q = spark.readStream.format("graft-cdf")
      .option("path", s"$base/t").option("startVersion", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (feed: DataFrame, _: Long) =>
        got ++= feed.select("op", "path").as[(String, String)].collect()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.toSet === Set(("I", "p2")), s"got $got")

    val e = intercept[Exception] {
      spark.readStream.format("graft-cdf").load()
        .writeStream.option("checkpointLocation", s"$base/ckpt3")
        .foreachBatch((_: DataFrame, _: Long) => ())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("graft-cdf"))),
      s"want a graft-cdf usage error, got: ${e.getMessage}")
  }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
  test(s"update preimages: reader ≡ changesBetween(updatePreimages) and retractions balance (property, $mode)") {
    val base = tmpDir(s"cdf-pre-$mode")
    val primary = LakeTable(s"$base/t", 4, mode)
    val rnd = new scala.util.Random(7)
    var seq = 0L
    var batch = 0L
    // random upserts/deletes where updates MOVE GROUPS (language changes):
    // exactly the transitions after-image-only feeds cannot restate
    val langs = Array("scala", "java", "rust")
    (1 to 8).foreach { _ =>
      val keys = rnd.shuffle((0 until 12).toList).take(1 + rnd.nextInt(6))
      val rows = keys.map { k =>
        seq += 1
        val del = rnd.nextInt(4) == 0
        (s"r${k % 3}", s"p$k", if (del) "D" else "U", seq, s"c$seq",
          langs(rnd.nextInt(langs.length)),
          if (del) null else s"v$seq", if (del) Option.empty[Long] else Option(seq))
      }
      primary.merge(spark, rows.toDF(cols: _*), batch); batch += 1
      if (batch % 3 == 0) primary.compact(spark)
    }
    val head = primary.headVersion()

    def viaReader(s: graft.stream.CdfMicroBatchStream)(from: Int, to: Int): Seq[Row8] = {
      val factory = s.createReaderFactory()
      s.planInputPartitions(graft.stream.CdfOffset(from), graft.stream.CdfOffset(to))
        .toSeq.flatMap { p =>
          val r = factory.createReader(p)
          val buf = scala.collection.mutable.ArrayBuffer[Row8]()
          while (r.next()) {
            val row = r.get()
            def f(i: Int) = Option(row.getUTF8String(i)).map(_.toString).orNull
            buf += ((f(0), f(1), f(2), f(3), f(4), f(5),
              if (row.isNullAt(6)) None else Some(row.getLong(6)), row.getLong(7)))
          }
          r.close(); buf
        }
    }
    val pre = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0,
      updatePreimages = true)
    val preSliced = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0,
      maxStateRows = 2L, updatePreimages = true)
    val plain = new graft.stream.CdfMicroBatchStream(s"$base/t", 0, 0)

    (1 to 8).foreach { _ =>
      val from = rnd.nextInt(head)
      val to = from + 1 + rnd.nextInt(head - from)
      val want = referenceDiff(primary, from, to, updatePreimages = true)
      val got = viaReader(pre)(from, to)
      assert(got.toSet === want,
        s"window [$from, $to]: preimage reader diverged from the reference diff")
      assert(rows8(primary.changesBetween(spark, from, to, updatePreimages = true)) === want,
        s"window [$from, $to]: changesBetween(updatePreimages) diverged from the reference diff")
      assert(viaReader(preSliced)(from, to).toSet === want,
        s"window [$from, $to]: preimage reader diverged under slicing")
      // schema-level invariants of the retraction alphabet:
      assert(!got.exists(_._1 == "U"), "plain U must not appear with preimages on")
      val byKey = got.groupBy(r => (r._2, r._3))
      byKey.foreach { case (k, rs) =>
        assert(rs.count(_._1 == "U-") === rs.count(_._1 == "U+"),
          s"key $k: U-/U+ must pair within a window")
      }
      // collapsing the pair (drop U-, relabel U+→U) recovers the plain feed
      val collapsed = got.filter(_._1 != "U-")
        .map(r => if (r._1 == "U+") r.copy(_1 = "U") else r).toSet
      val plainFeed = viaReader(plain)(from, to).toSet
      assert(collapsed === plainFeed,
        s"window [$from, $to]: U-/U+ must collapse to the plain feed")
      // the U- row is the window's OLD image: for every retraction there
      // is a live row in the FROM snapshot with exactly that (key, seq)
      val fromState = primary.readAt(spark, from)
        .select("repo", "path", "seq")
        .as[(String, String, Long)].collect().toSet
      got.filter(_._1 == "U-").foreach { r =>
        assert(fromState.contains((r._2, r._3, r._8)),
          s"U- image ${(r._2, r._3, r._8)} must be live in v$from")
      }
    }
  }
}
