package graft

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** Model-based test of the lake: a seeded random sequence of merges and
  * maintenance ops (compact / incremental compact, then a terminal
  * expire+vacuum retention phase) against an in-memory LWW model, in BOTH
  * apply modes. Invariants per step:
  *
  *  1. live state == model (every column, every key);
  *  2. CDF reconstruction: applying changesBetween(v, v') to the
  *     materialized state at v reproduces the state at v' exactly —
  *     the property that makes incremental downstream pipelines sound;
  *  3. maintenance ops never change live state and diff to zero changes;
  *  4. after expire+vacuum, live state and CDF between RETAINED versions
  *     survive, and expired-range CDF fails with bootstrap guidance.
  */
class LakeModelSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
  private type Key = (String, String)
  private type Payload = (Long, String, String, String, Option[Long]) // seq, commit, language, content, size

  private def liveState(df: DataFrame): Map[Key, Payload] =
    df.select("repo", "path", "seq", "commit", "language", "content", "size_bytes")
      .collect().map { r =>
        (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getString(3), r.getString(4), r.getString(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6))))
      }.toMap

  /** Apply a CDF frame to a before-state: D removes, I/U upsert. */
  private def applyFeed(state: Map[Key, Payload], feed: DataFrame): Map[Key, Payload] =
    feed.select("op", "repo", "path", "seq", "commit", "language", "content", "size_bytes")
      .collect().foldLeft(state) { (st, r) =>
        val k = (r.getString(1), r.getString(2))
        r.getString(0) match {
          case "D" => st - k
          case _ => st + (k -> ((r.getLong(3), r.getString(4), r.getString(5),
            r.getString(6), if (r.isNullAt(7)) None else Some(r.getLong(7)))))
        }
      }

  for (mode <- Seq(LakeTable.Cow, LakeTable.Mor))
    test(s"random op sequence vs in-memory model + CDF reconstruction [$mode]") {
      val rnd = new Random(4242)
      val table = LakeTable(tmpDir(s"model-$mode") + "/t", numBuckets = 8, mode)
      val keys = for (r <- 1 to 6; p <- 1 to 8) yield (s"r$r", s"p$p")
      var model = Map.empty[Key, Payload]
      var seq = 0L
      // checkpoint: materialized state per committed version (for CDF replay)
      var stateAt = Map(0 -> model)

      def randomBatch(): Seq[(String, String, String, Long, String, String, String, Option[Long])] = {
        val n = 1 + rnd.nextInt(12)
        val raw = (1 to n).map { _ =>
          val (r, p) = keys(rnd.nextInt(keys.size))
          seq += 1
          // 15% deletes; occasional STALE seq (guard must ignore)
          val useSeq = if (rnd.nextInt(10) == 0) math.max(1, seq - 20) else seq
          if (rnd.nextInt(100) < 15)
            (r, p, "D", useSeq, null, null, null, Option.empty[Long])
          else
            (r, p, if (model.contains((r, p))) "U" else "I", useSeq,
              s"c$useSeq", "scala", s"v$useSeq-$r$p", Some(useSeq))
        }
        // merge's contract: one row per key per batch (LWW winner) — same
        // dedupe the Tailer performs before every merge
        raw.groupBy(e => (e._1, e._2)).values.map(_.maxBy(_._4)).toSeq
      }

      // tombstone seqs also guard (the engine persists delete markers)
      var tombs = Map.empty[Key, Long]
      def modelApply(batch: Seq[(String, String, String, Long, String, String, String, Option[Long])]): Unit =
        batch.foreach { case (r, p, op, s, c, l, v, sz) =>
          val k = (r, p)
          val cur = model.get(k).map(_._1).getOrElse(tombs.getOrElse(k, -1L))
          if (s > cur) {
            if (op == "D") { model -= k; tombs += k -> s }
            else { model += k -> ((s, c, l, v, sz)); tombs -= k }
          }
        }

      var batchId = 0L
      (1 to 14).foreach { round =>
        // 1-2 merges
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val batch = randomBatch()
          table.merge(spark, batch.toDF(cols: _*), batchId)
          batchId += 1
          modelApply(batch)
          stateAt += table.head().version -> model
        }
        // occasional maintenance: must not change live state; sometimes
        // with a target file size so the sorted size-split layout (and
        // its manifest key bounds) is exercised under the model too
        if (rnd.nextInt(3) == 0) {
          val before = model
          val target = if (rnd.nextBoolean()) Some(7L) else None
          if (rnd.nextBoolean()) table.compact(spark, gcTombstones = false,
            targetFileRows = target)
          else table.compactBuckets(spark, maxFilesPerBucket = 2,
            targetFileRows = target)
          stateAt += table.head().version -> before
        }

        // invariant 1: live state == model
        assert(liveState(table.read(spark)) === model, s"state@round$round[$mode]")
      }

      // a batch with no rows commits nothing and leaves the fence where it was
      val h = table.head()
      val none = table.merge(spark, Seq.empty[(String, String, String, Long, String, String,
        String, Option[Long])].toDF(cols: _*), batchId)
      assert(!none.applied, s"empty merge applied [$mode]")
      assert(table.headVersion() === h.version, s"empty merge committed [$mode]")
      assert(table.head().lastBatchId === h.lastBatchId, s"empty merge moved the fence [$mode]")

      // invariant 2+3: CDF between EVERY adjacent committed version pair
      // reconstructs the destination state; maintenance versions diff empty
      val versions = stateAt.keys.toSeq.sorted
      versions.sliding(2).foreach { case Seq(a, b) =>
        val feed = table.changesBetween(spark, a, b)
        val rebuilt = applyFeed(stateAt(a), feed)
        assert(rebuilt === stateAt(b), s"CDF v$a→v$b must reconstruct [$mode]")
        if (stateAt(a) == stateAt(b))
          assert(feed.isEmpty, s"no-op diff v$a→v$b must be empty [$mode]")
      }
      // and one long-range feed across all history
      val first = versions.head; val last = versions.last
      assert(applyFeed(stateAt(first), table.changesBetween(spark, first, last))
        === stateAt(last), s"CDF v$first→v$last [$mode]")

      // retention phase: expire all but the newest 3 snapshots + vacuum —
      // live state and recent CDF survive; expired history fails loudly
      val expired = table.expireSnapshots(keepLast = 3)
      assert(expired.nonEmpty, "the 14-round run must leave expirable history")
      assert(table.vacuum(olderThanMs = 0) > 0,
        "expired snapshots must strand reclaimable files")
      assert(liveState(table.read(spark)) === model, s"state after vacuum [$mode]")
      val retained = table.versions()
      retained.sliding(2).foreach { case Seq(a, b) =>
        if (stateAt.contains(a) && stateAt.contains(b))
          assert(applyFeed(stateAt(a), table.changesBetween(spark, a, b))
            === stateAt(b), s"post-vacuum CDF v$a→v$b [$mode]")
      }
      val gone = expired.head
      val e = intercept[IllegalStateException](
        table.changesBetween(spark, gone, retained.last))
      assert(e.getMessage.contains("expired"), e.getMessage)
    }

  test("drainChanges: cursor advances only on commit; windows never skip or overlap") {
    val base = tmpDir("drain")
    val table = LakeTable(s"$base/t", 4)
    val cursor = java.nio.file.Paths.get(base, "cdf.cursor")
    def mk(r: String, s: Long, op: String = "I") =
      (r, "p", op, s, s"c$s", "scala", s"v$s", Option(s))
    table.merge(spark, Seq(mk("r1", 1), mk("r2", 2)).toDF(cols: _*), 0L)

    // window 1: full history from v0; re-drain BEFORE commit re-delivers
    val w1 = table.drainChanges(spark, cursor).get
    assert((w1.fromVersion, w1.toVersion) === ((0, 1)))
    assert(w1.feed.count() === 2)
    val w1again = table.drainChanges(spark, cursor).get // crashed consumer
    assert((w1again.fromVersion, w1again.toVersion) === ((0, 1)))
    w1.commit()
    assert(table.drainChanges(spark, cursor).isEmpty, "up to date after commit")

    // window 2: only the delta
    table.merge(spark, Seq(mk("r1", 10, "U"), mk("r3", 3)).toDF(cols: _*), 1L)
    val w2 = table.drainChanges(spark, cursor).get
    assert((w2.fromVersion, w2.toVersion) === ((1, 2)))
    assert(w2.feed.select("op", "repo").as[(String, String)].collect().toSet
      === Set(("U", "r1"), ("I", "r3")))
    w2.commit()
    assert(table.drainChanges(spark, cursor).isEmpty)

    // a cursor that does not hold a version fails with the curated error
    java.nio.file.Files.writeString(cursor, "not-a-version")
    val e = intercept[IllegalStateException](table.drainChanges(spark, cursor))
    assert(e.getMessage.contains(s"cursor file $cursor is corrupt"), e.getMessage)
  }

  test("COW merge rejects duplicate source keys (cardinality violation); MOR accepts") {
    val dupBatch = Seq(
      ("r", "p", "I", 1L, "c1", "scala", "a", Option(1L)),
      ("r", "p", "U", 2L, "c2", "scala", "b", Option(2L)))
      .toDF(cols: _*)
    val cow = LakeTable(tmpDir("card-cow") + "/t", 4, LakeTable.Cow)
    val e = intercept[IllegalArgumentException](cow.merge(spark, dupBatch, 0L))
    assert(e.getMessage.contains("cardinality violation"), e.getMessage)
    assert(cow.head().version === 0, "failed merge must not commit")
    val mor = LakeTable(tmpDir("card-mor") + "/t", 4, LakeTable.Mor)
    mor.merge(spark, dupBatch, 0L) // log semantics: read-time LWW resolves
    assert(liveState(mor.read(spark)) ===
      Map(("r", "p") -> ((2L, "c2", "scala", "b", Some(2L)))))
  }

  test("change feed catches seq-preserving payload updates (SQL MERGE SET content)") {
    val base = tmpDir("cdf-seqless")
    val table = LakeTable(s"$base/t", 4)
    table.merge(spark, Seq(("r", "p", "I", 5L, "c1", "scala", "old", Option(1L)))
      .toDF(cols: _*), 0L)
    // SQL UPDATE that assigns content but NOT seq: live state changes while
    // seq stays 5 — the feed must still emit a U row
    Seq(("r", "p")).toDF("repo", "path").createOrReplaceTempView("touch")
    spark.sql(
      s"""MERGE INTO graft_lake.`$base/t` AS t USING touch AS s
         |ON t.repo = s.repo AND t.path = s.path
         |WHEN MATCHED THEN UPDATE SET content = 'new'""".stripMargin)
    val feed = table.changesBetween(spark, 1, 2)
      .select("op", "repo", "content", "seq")
      .as[(String, String, String, Long)].collect().toSeq
    assert(feed === Seq(("U", "r", "new", 5L)),
      s"seq-preserving update must reach the feed: $feed")
  }

  test("changesBetween on an expired snapshot fails with bootstrap guidance") {
    val base = tmpDir("cdf-expired")
    val table = LakeTable(s"$base/t", 4)
    (0 to 2).foreach { i =>
      table.merge(spark, Seq(("r", s"p$i", "I", i + 1L, "c", "scala", "x", Option(1L)))
        .toDF(cols: _*), i.toLong)
    }
    table.expireSnapshots(keepLast = 1)
    val e = intercept[IllegalStateException](table.changesBetween(spark, 0, 3))
    assert(e.getMessage.contains("expired") && e.getMessage.contains("bootstrap"),
      e.getMessage)
  }

  test("SQL MERGE rejects duplicate source keys") {
    val base = tmpDir("card-sql")
    lake.LakeTable(s"$base/t", 4)
    Seq(("r", "p", 1L, "x"), ("r", "p", 2L, "y")).toDF("repo", "path", "seq", "content")
      .createOrReplaceTempView("dupsrc")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft_lake.`$base/t` AS t USING dupsrc AS s
           |ON t.repo = s.repo AND t.path = s.path
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality violation"), e.getMessage)
  }
}
