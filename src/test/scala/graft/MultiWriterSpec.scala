package graft

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame

/** Multi-writer commit arbitration: a writer that loses the HEAD CAS must
  * rebase (disjoint buckets / append-only), recompute (overlapping
  * buckets), or no-op (its batch already applied) — never corrupt state or
  * deadlock. Interleavings are made deterministic with the one-shot
  * preCommitHook seam (fires between a writer's data write and its CAS).
  */
class MultiWriterSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("repo", "path", "op", "seq", "commit", "language", "content", "size_bytes")
  private def rows(rs: (String, String, Long, String)*): DataFrame =
    rs.map { case (r, p, seq, c) => (r, p, "U", seq, s"c$seq", "scala", c, Option.empty[Long]) }
      .toDF(cols: _*)

  /** A second key guaranteed to land in a different bucket than (r1,p1). */
  private def disjointKey(t: LakeTable): (String, String) = {
    val b1 = t.bucketOf("r1", "p1")
    (2 to 64).map(i => (s"r$i", s"p$i")).find { case (r, p) => t.bucketOf(r, p) != b1 }.get
  }

  test("COW: compaction racing a merge → REBASE (state-preserving, no recompute)") {
    val base = tmpDir("mw-recompute")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1"), ("r9", "p9", 2L, "w1")), 0L)
    // t2 compacts (rewrites EVERY bucket manifest) just before t1's CAS.
    // Compaction preserves live state, so the loser's computed output is
    // still valid — Iceberg's rewrite-vs-data non-conflict rule: exactly
    // ONE commit from t1 after t2's (a recompute would also converge, but
    // would let a cadence compactor starve writers under contention).
    t1.preCommitHook = () => t2.compact(spark)
    val vBefore = t1.head().version
    val stats = t1.merge(spark, rows(("r1", "p1", 10L, "v2")), 1L)
    assert(stats.applied, "merge must win after rebase")
    assert(t1.head().version === vBefore + 2, "compact + one rebased merge commit")
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 10L, "v2"), ("r9", "p9", 2L, "w1")))
    assert(t1.head().lastBatchId === 1L)
  }

  test("COW: a real DATA commit on a touched bucket still forces recompute") {
    val base = tmpDir("mw-data-conflict")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // t2 commits a HIGHER-seq write to the SAME key just before t1's CAS:
    // t1's computed output is stale (derived from seq=1) — rebasing it
    // would clobber t2's seq=50 row; the merge must recompute and the seq
    // guard must then keep t2's row.
    t1.preCommitHook = () => {
      val src = rows(("r1", "p1", 50L, "newer")).alias("s")
      t2.mergeSql(spark, src, "t", "s",
        "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`",
        Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`"),
        matched = Seq(LakeTable.SqlMergeClause("update",
          Some("`s`.`seq` > `t`.`seq`"), Nil, star = true, starAlias = "s")),
        notMatched = Seq(LakeTable.SqlMergeClause("insert", None, Nil,
          star = true, starAlias = "s")))
      ()
    }
    t1.merge(spark, rows(("r1", "p1", 10L, "stale-loser")), 1L)
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 50L, "newer")),
      "recompute + seq guard must preserve the interleaved higher-seq write")
    assert(t1.head().lastBatchId === 1L)
  }

  test("COW: disjoint-bucket SQL merge racing a merge → pure manifest rebase") {
    val base = tmpDir("mw-rebase")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    val (r2, p2) = disjointKey(t1)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // t2 commits an insert into a DIFFERENT bucket via mergeSql (which does
    // not advance the batch fence) just before t1's CAS
    t1.preCommitHook = () => {
      val src = rows((r2, p2, 5L, "other")).alias("s")
      t2.mergeSql(spark, src, "t", "s",
        "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`",
        Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`"),
        matched = Nil,
        notMatched = Seq(LakeTable.SqlMergeClause("insert", None, Nil,
          star = true, starAlias = "s")))
    }
    val vBefore = t1.head().version
    val stats = t1.merge(spark, rows(("r1", "p1", 10L, "v2")), 1L)
    assert(stats.applied)
    // rebase = no recompute: exactly ONE commit from t1 after t2's (v+2)
    assert(t1.head().version === vBefore + 2)
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 10L, "v2"), (r2, p2, 5L, "other")))
  }

  test("COW: duplicate delivery of the same batch by a zombie writer → no-op") {
    val base = tmpDir("mw-fence")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    val dup = rows(("r1", "p1", 10L, "v2"))
    t1.preCommitHook = () => { t2.merge(spark, dup, 1L); () }
    val stats = t1.merge(spark, dup, 1L)
    assert(!stats.applied, "second delivery of batch 1 must be fenced")
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 10L, "v2")), "exactly-once state")
    assert(t1.head().lastBatchId === 1L)
  }

  test("MOR: compaction racing an append → append rebases (no recompute)") {
    val base = tmpDir("mw-mor")
    val t1 = LakeTable(s"$base/t", 4, LakeTable.Mor)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1"), ("r9", "p9", 2L, "w1")), 0L)
    t1.preCommitHook = () => t2.compact(spark)
    val stats = t1.merge(spark, rows(("r1", "p1", 10L, "v2")), 1L)
    assert(stats.applied)
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 10L, "v2"), ("r9", "p9", 2L, "w1")))
    // compaction's single-file-per-bucket layout survived for untouched keys
    assert(t1.head().lastBatchId === 1L)
  }

  test("COW: a rebucket racing a merge fails loudly — a stale modulus never rebases") {
    // The dangerous interleaving: t1's touched buckets are all EMPTY at its
    // base, a concurrent rebucket wins the CAS, and the rebase conflict
    // check (refOf over touched buckets) compares None == None across the
    // rebucket — without the checkedHead guard in the retry loop, t1 would
    // silently commit old-modulus data files AND stamp the stale modulus
    // back into the snapshot, mis-bucketing every later lookup and merge.
    val base = tmpDir("mw-rebucket-race")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // a key whose mod-4 bucket is empty at base AND whose bucket id holds
    // no manifest in the rebucketed (mod-8) layout either — the pure-rebase
    // interleaving (no ref difference on any touched bucket)
    val b1mod4 = t1.bucketOf("r1", "p1")
    val b1mod8 = new LakeTable(s"$base/t", 8).bucketOf("r1", "p1")
    val (r, p) = (2 to 200).map(i => (s"r$i", s"p$i"))
      .find { case (rr, pp) =>
        val b = t1.bucketOf(rr, pp); b != b1mod4 && b != b1mod8
      }.get
    t1.preCommitHook = () => { t2.rebucket(spark, 8); () }
    val e = intercept[IllegalStateException] {
      t1.merge(spark, rows((r, p, 2L, "v2")), 1L)
    }
    assert(e.getMessage.contains("rebucket"), s"curated stale-handle error, got: ${e.getMessage}")
    // a fresh handle sees the new modulus and the retry lands correctly
    val t3 = LakeTable.open(s"$base/t")
    assert(t3.head().numBuckets === 8)
    t3.merge(spark, rows((r, p, 2L, "v2")), 1L)
    val state = t3.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 1L, "v1"), (r, p, 2L, "v2")))
  }

  test("compaction loses to an interleaved merge and retries cleanly") {
    val base = tmpDir("mw-compact")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    t1.preCommitHook = () => { t2.merge(spark, rows(("r9", "p9", 5L, "late")), 1L); () }
    val n = t1.compact(spark) // must retry against the post-merge head
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 1L, "v1"), ("r9", "p9", 5L, "late")),
      "ingest wins over compaction; compaction folds the new state")
    assert(t1.head().lastBatchId === 1L, "retried compaction carries the fence")
    // the count is of the head the retry compacted, not of the head at the
    // call: the racer's bucket is counted too
    assert(n === Set(t1.bucketOf("r1", "p1"), t1.bucketOf("r9", "p9")).size)
  }

  test("wave compaction picks each wave from the current head: a bucket filled mid-call is compacted") {
    val base = tmpDir("mw-waves")
    val t1 = LakeTable(s"$base/t", 4, LakeTable.Mor)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    t1.merge(spark, rows(("r1", "p1", 2L, "v2")), 1L)
    val filled = t1.head().manifests.map(_.bucket).toSet
    val (er, ep) = (2 to 400).map(i => (s"x$i", s"y$i"))
      .find { case (r, p) => !filled(t1.bucketOf(r, p)) }.get
    // before the first wave's CAS, two versions of one key land in a
    // bucket that was empty when compact() started
    t1.preCommitHook = () => {
      t2.merge(spark, rows((er, ep, 5L, "old")), 2L)
      t2.merge(spark, rows((er, ep, 7L, "new")), 3L)
      ()
    }
    val n = t1.compact(spark, maxBucketsPerWave = Some(1))
    val h = t1.head()
    assert(h.manifests.forall(_.fileCount == 1),
      s"every bucket must end compacted to one file: ${h.manifests}")
    assert(n === 2 && h.manifests.size === 2)
    assert(h.totalRows === 2L, "MOR duplicates folded")
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 2L, "v2"), (er, ep, 7L, "new")))
    assert(h.lastBatchId === 3L)
  }

  test("retries = 0: every commit path throws on a lost CAS and leaves the racer's head") {
    val base = tmpDir("mw-budget")
    val on = "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`"
    val keys = Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`")
    val insertAll = Seq(LakeTable.SqlMergeClause("insert", None, Nil, star = true, starAlias = "s"))
    def mine = rows(("r5", "p5", 3L, "mine"))
    val cases: Seq[(String, String, LakeTable => Any)] = Seq(
      ("cow-merge", LakeTable.Cow, _.merge(spark, mine, 5L, None, retries = 0)),
      ("mor-merge", LakeTable.Mor, _.merge(spark, mine, 5L, None, retries = 0)),
      ("merge-sql", LakeTable.Cow, _.mergeSql(spark, mine.alias("s"), "t", "s", on, keys,
        matched = Nil, notMatched = insertAll, retries = 0)),
      ("insert", LakeTable.Cow, _.insertStrict(spark,
        Seq(("r5", "p5", "mine", 3L)).toDF("repo", "path", "content", "seq"), retries = 0)),
      ("compact", LakeTable.Mor, _.compact(spark, retries = 0)),
      ("compact-waves", LakeTable.Mor, _.compact(spark, retries = 0, maxBucketsPerWave = Some(1))),
      ("compact-buckets", LakeTable.Mor, _.compactBuckets(spark, maxFilesPerBucket = 1, retries = 0)),
      ("rebucket", LakeTable.Mor, _.rebucket(spark, 8, retries = 0)))
    cases.foreach { case (name, mode, op) =>
      val t1 = LakeTable(s"$base/$name", 4, mode)
      val t2 = new LakeTable(s"$base/$name", 4)
      // two versions of one key: two files in its bucket on a MOR table
      t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
      t1.merge(spark, rows(("r1", "p1", 2L, "v2")), 1L)
      var racer = -1
      t1.preCommitHook = () => {
        racer = t2.merge(spark, rows(("r1", "p1", 9L, "racer")), 2L).version
      }
      intercept[LakeTable.ConcurrentCommitException](op(t1))
      assert(racer > 0, s"$name: the racer must have committed")
      assert(t1.head().version === racer, s"$name: head must stay at the racer's commit")
      assert(t1.lookup(spark, "r1", "p1").select("content").as[String].collect() === Array("racer"))
    }
  }

  test("expireSnapshots + vacuum reclaim COW rewrites and arbitration orphans") {
    val base = tmpDir("mw-vacuum")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    // several COW rewrites of the same bucket → superseded snapshot files
    (1 to 4).foreach { i =>
      t1.merge(spark, rows(("r1", "p1", i.toLong, s"v$i")), i - 1L)
    }
    // an arbitration race leaves the loser's recompute predecessors as orphans
    t1.preCommitHook = () => t2.compact(spark)
    t1.merge(spark, rows(("r1", "p1", 50L, "raced")), 4L)
    val stateBefore = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet

    def parquetCount = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$base/t/data"))) { st =>
        st.iterator.asScala.count(_.toString.endsWith(".parquet"))
      }
    }
    val filesBefore = parquetCount
    val expired = t1.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty, "older snapshots must be expirable")
    // default grace protects files an in-flight writer just wrote
    assert(t1.vacuum() === 0, "fresh files survive the default grace window")
    val removed = t1.vacuum(olderThanMs = 0) // single-writer: reclaim now
    assert(removed > 0, "superseded rewrites + race orphans must be reclaimed")
    assert(parquetCount < filesBefore)
    // surviving state is untouched, lookup still prunes, fence intact
    val stateAfter = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(stateAfter === stateBefore)
    assert(t1.lookup(spark, "r1", "p1").select("seq").as[Long].head() === 50L)
    assert(t1.head().lastBatchId === 4L)
    // a second vacuum finds nothing (fixpoint)
    assert(t1.vacuum(olderThanMs = 0) === 0)
  }

  test("vacuum reclaims dead-writer meta tmp debris, spares young tmps") {
    // a writer that dies inside commitSnapshot (between writeString and the
    // createLink arbitration, or between createLink and the tmp delete)
    // orphans a dot-prefixed .tmp in the meta dir; nothing ever re-reads
    // one, so vacuum reclaims them once they outlive the grace window —
    // without it every crashed commit grows the meta dir forever
    val base = tmpDir("mw-metatmp")
    val t = LakeTable(s"$base/t", 4)
    t.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    val meta = java.nio.file.Paths.get(s"$base/t/meta")
    val dead = meta.resolve(".v9.json.zdeadbeef01.tmp")
    val deadHead = meta.resolve(".HEAD.zdeadbeef02.tmp")
    java.nio.file.Files.writeString(dead, "{}")
    java.nio.file.Files.writeString(deadHead, "v9.json")
    // young tmps are possibly an in-flight commit: default grace spares them
    assert(t.vacuum() === 0)
    assert(java.nio.file.Files.exists(dead) && java.nio.file.Files.exists(deadHead))
    val aged = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis - 3600000L)
    java.nio.file.Files.setLastModifiedTime(dead, aged)
    java.nio.file.Files.setLastModifiedTime(deadHead, aged)
    assert(t.vacuum() === 2, "aged tmp debris must be reclaimed")
    assert(!java.nio.file.Files.exists(dead) && !java.nio.file.Files.exists(deadHead))
    // committed metadata and state untouched
    assert(t.headVersion() === 1)
    assert(t.read(spark).count() === 1L)
    assert(t.vacuum(olderThanMs = 0) === 0) // fixpoint
  }

  test("vacuum(0) racing a loser's rebase: retry recomputes, never dangling refs") {
    val base = tmpDir("mw-vacrace")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    val (r2, p2) = disjointKey(t1)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // interleaving: after t1 wrote its pending (unreferenced) files but
    // before its CAS, a DISJOINT writer commits (so t1 would normally take
    // the cheap manifest-rebase path) and an aggressive vacuum(olderThan=0)
    // reclaims t1's pending output. The rebase must detect the loss and
    // recompute — committing the stale refs would corrupt the table.
    t1.preCommitHook = () => {
      val src = rows((r2, p2, 5L, "other")).alias("s")
      t2.mergeSql(spark, src, "t", "s",
        "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`",
        Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`"),
        matched = Nil,
        notMatched = Seq(LakeTable.SqlMergeClause("insert", None, Nil,
          star = true, starAlias = "s")))
      Thread.sleep(10) // ensure pending-file mtimes are strictly < cutoff
      t2.vacuum(olderThanMs = 0)
      ()
    }
    val stats = t1.merge(spark, rows(("r1", "p1", 10L, "v2")), 1L)
    assert(stats.applied, "merge must still win (recompute path)")
    // invariant: every file the committed head references exists on disk
    val h = t1.head()
    t1.filesOf(h).foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/t", f.path)),
        s"head v${h.version} references deleted file ${f.path}")
    }
    val state = t1.read(spark).select("repo", "path", "seq", "content")
      .as[(String, String, Long, String)].collect().toSet
    assert(state === Set(("r1", "p1", 10L, "v2"), (r2, p2, 5L, "other")))

    // same interleaving in MOR (append rebase path)
    val m1 = LakeTable(s"$base/m", 4, LakeTable.Mor)
    val m2 = new LakeTable(s"$base/m", 4)
    m1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    m1.preCommitHook = () => {
      m2.merge(spark, rows((r2, p2, 7L, "mor-other")), 98L)
      Thread.sleep(10)
      m2.vacuum(olderThanMs = 0)
      ()
    }
    val mStats = m1.merge(spark, rows(("r1", "p1", 20L, "v2")), 99L)
    assert(mStats.applied)
    val mh = m1.head()
    m1.filesOf(mh).foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/m", f.path)),
        s"MOR head v${mh.version} references deleted file ${f.path}")
    }
    assert(m1.read(spark).filter($"repo" === "r1").select("content").as[String].head() === "v2")
  }

  test("BY SOURCE full-sync racing an insert into an EMPTY bucket → recompute (no write skew)") {
    val base = tmpDir("mw-skew")
    val t1 = LakeTable(s"$base/t", 8)
    val t2 = new LakeTable(s"$base/t", 8)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // a key whose bucket is EMPTY at h0 (and distinct from the source's):
    // the BY SOURCE conflict check must still cover it, else a racer's
    // insert there escapes both the rebase conflict test and the DELETE arm
    val nonEmpty = t1.head().manifests.map(_.bucket).toSet
    val (er, ep) = (2 to 400).map(i => (s"x$i", s"y$i"))
      .find { case (r, p) => !nonEmpty.contains(t1.bucketOf(r, p)) }.get
    t1.preCommitHook = () => { t2.merge(spark, rows((er, ep, 5L, "interloper")), 1L); () }
    // full sync to exactly {(r1,p1)}: every other live key must be deleted
    val src = rows(("r1", "p1", 10L, "v2")).alias("s")
    t1.mergeSql(spark, src, "t", "s",
      "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`",
      Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`"),
      matched = Seq(LakeTable.SqlMergeClause("update", None, Nil,
        star = true, starAlias = "s")),
      notMatched = Seq(LakeTable.SqlMergeClause("insert", None, Nil,
        star = true, starAlias = "s")),
      notBySource = Seq(LakeTable.SqlMergeClause("delete", None, Nil)))
    val keys = t1.read(spark).select("repo", "path").as[(String, String)].collect().toSet
    assert(keys === Set(("r1", "p1")),
      s"full-sync DELETE must also remove the racer's row in the h0-empty bucket: $keys")
  }

  test("INSERT racing a same-key writer: recompute detects the duplicate, never clobbers") {
    val base = tmpDir("mw-insert")
    val t1 = LakeTable(s"$base/t", 4)
    val t2 = new LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r0", "p0", 1L, "seed")), 0L)
    // t2 commits the SAME key t1 is inserting, between t1's duplicate
    // check and its CAS — the retry must recompute and surface the
    // collision, never silently duplicate or clobber the racer's row
    t1.preCommitHook = () => { t2.merge(spark, rows(("r1", "p1", 5L, "first")), 1L); () }
    val src = Seq(("r1", "p1", "second", 9L)).toDF("repo", "path", "content", "seq")
    val e = intercept[IllegalArgumentException](t1.insertStrict(spark, src))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    val state = t1.read(spark).select("repo", "content").as[(String, String)].collect().toMap
    assert(state("r1") === "first", "racer's committed row must survive the failed INSERT")

    // disjoint-key race: the retry recomputes and the insert lands
    val t3 = new LakeTable(s"$base/t", 4)
    t3.preCommitHook = () => { t2.merge(spark, rows(("r2", "p2", 6L, "other")), 2L); () }
    t3.insertStrict(spark, Seq(("r9", "p9", "mine", 1L))
      .toDF("repo", "path", "content", "seq"))
    val keys = t3.read(spark).select("repo").as[String].collect().toSet
    assert(keys === Set("r0", "r1", "r2", "r9"))
  }

  test("vacuum with full history keeps every time-travel version readable") {
    val base = tmpDir("mw-vacuum2")
    val t1 = LakeTable(s"$base/t", 4)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    t1.merge(spark, rows(("r1", "p1", 2L, "v2")), 1L)
    t1.vacuum(olderThanMs = 0) // nothing expired → only true orphans (none here)
    assert(t1.readAt(spark, 1).select("content").as[String].head() === "v1")
    assert(t1.readAt(spark, 2).select("content").as[String].head() === "v2")
  }

  test("acceptEqualSeq survives a lost-CAS RECOMPUTE (replication under contention)") {
    val base = tmpDir("mw-eqseq")
    // ONE bucket: any interleaved data commit conflicts → forced recompute
    val t1 = LakeTable(s"$base/t", 1)
    val t2 = new LakeTable(s"$base/t", 1)
    t1.merge(spark, rows(("r1", "p1", 5L, "old")), 0L)
    // contender lands a DIFFERENT key in the same (only) bucket just
    // before t1's CAS — t1 must recompute, and the recompute must keep
    // honoring equal-seq source wins or the mirror silently diverges
    t1.preCommitHook = () => { t2.merge(spark, rows(("r2", "p2", 6L, "other")), 1L); () }
    val stats = t1.merge(spark, rows(("r1", "p1", 5L, "mutated")), 2L,
      updateColumns = None, retries = 3, srcKeyUnique = true, acceptEqualSeq = true)
    assert(stats.applied)
    val state = t1.read(spark).select("repo", "seq", "content")
      .as[(String, Long, String)].collect().toSet
    assert(state === Set(("r1", 5L, "mutated"), ("r2", 6L, "other")),
      s"equal-seq mutation must survive the recompute: $state")
  }

  test("MOR append losing the CAS to a REBUCKET fails loudly (stale modulus)") {
    val base = tmpDir("mw-rebucket")
    val t1 = LakeTable(s"$base/t", 4, LakeTable.Mor)
    t1.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    // the rebucket changes the key modulus while t1's files (bucketed mod
    // 4) await their CAS — rebasing them onto the mod-8 head would
    // mis-bucket silently; the writer must fail with re-open guidance
    t1.preCommitHook = () => { LakeTable.open(s"$base/t").rebucket(spark, 8); () }
    val e = intercept[IllegalStateException](
      t1.merge(spark, rows(("r2", "p2", 2L, "v2")), 1L))
    assert(e.getMessage.contains("re-open"), e.getMessage)
    // and a fresh handle applies the write cleanly at the new modulus
    val fresh = LakeTable.open(s"$base/t")
    fresh.merge(spark, rows(("r2", "p2", 2L, "v2")), 1L)
    assert(fresh.read(spark).count() === 2)
  }

  test("a crashed writer's stray v<N>.json beyond HEAD is invisible to reads") {
    val base = tmpDir("mw-stray")
    val t = LakeTable(s"$base/t", 4)
    t.merge(spark, rows(("r1", "p1", 1L, "v1")), 0L)
    t.merge(spark, rows(("r1", "p1", 2L, "v2")), 1L)
    // simulate a writer that died between creating v3.json and the HEAD
    // flip: a fully-stamped snapshot file exists but was never committed
    val meta = java.nio.file.Paths.get(s"$base/t/meta")
    val stray = java.nio.file.Files.readString(meta.resolve("v2.json"))
      .replaceAll("\"version\"\\s*:\\s*2", "\"version\" : 3")
      .replaceAll("\"parent\"\\s*:\\s*1", "\"parent\" : 2")
    java.nio.file.Files.writeString(meta.resolve("v3.json"), stray)

    val fresh = LakeTable.open(s"$base/t")
    assert(fresh.versions().max === 2, "versions() must cap at HEAD")
    assert(fresh.versionAt(System.currentTimeMillis) === 2,
      "TIMESTAMP AS OF must never resolve to an uncommitted stray")
    val e1 = intercept[IllegalArgumentException](fresh.readAt(spark, 3))
    assert(e1.getMessage.contains("not committed"), e1.getMessage)
    val e2 = intercept[IllegalStateException](fresh.changesBetween(spark, 2, 3))
    assert(e2.getMessage.contains("not committed"), e2.getMessage)
  }

  test("same-version CAS storm: every applied merge is on the committed chain (no silent clobber)") {
    // Regression canary for the snapshot-create TOCTOU: Files.move without
    // REPLACE_EXISTING is check-then-rename, so two same-version racers in
    // a tight window could BOTH "commit" (rename clobbers) and the first
    // writer's batch silently vanished — every merge returned applied,
    // zero errors, one snapshot missing (caught live by ConcurrencyStress:
    // 47 of 48 merges on the chain). With createLink arbitration exactly
    // one racer can ever win a version. Barrier-started writers maximize
    // the same-parent window; with the fix this is deterministic-pass,
    // without it a clobber shows up as a missing key.
    val base = tmpDir("mw-casstorm")
    LakeTable(s"$base/t", 4)
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = try {
          val t = new LakeTable(s"$base/t", 4)
          val src = Seq((s"r$w", s"p$w", "U", 1L, "c", "scala", s"w$w", Option(1L)))
            .toDF(cols: _*).drop("op").alias("s")
          barrier.await()
          t.mergeSql(spark, src, "t", "s",
            "`t`.`repo` = `s`.`repo` AND `t`.`path` = `s`.`path`",
            Map("repo" -> "`s`.`repo`", "path" -> "`s`.`path`"),
            matched = Seq(LakeTable.SqlMergeClause("update", None, Nil,
              star = true, starAlias = "s")),
            notMatched = Seq(LakeTable.SqlMergeClause("insert", None, Nil,
              star = true, starAlias = "s")),
            retries = 50)
        } catch { case t: Throwable => errs.add(t) } finally ()
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, {
      import scala.jdk.CollectionConverters._
      s"writers failed: ${errs.asScala.toSeq}"
    })
    val t = LakeTable.open(s"$base/t")
    val got = t.read(spark).select("repo").as[String].collect().toSet
    assert(got === (0 until n).map(w => s"r$w").toSet,
      s"every applied merge must be durably on the chain, got $got")
    assert(t.headVersion() === n, s"$n merges → $n commits, got v${t.headVersion()}")
  }
}
