package graft

import graft.cdc.{Dedupe, Normalize}
import graft.lake.LakeTable
import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.model.Model._
import org.apache.spark.sql.functions._
/** Property tests for the LWW core (SURVEY §5.2): every dedupe
  * implementation — the production `lwwBroadcast` on both sides of its
  * broadcast cap included — agrees with the others and with a HashMap
  * fold, at any parallelism, and is idempotent under log duplication. (Properties run
  * as seeded multi-trial loops: the offline cache has no scalatestplus
  * bridge, so generators are hand-rolled and fully deterministic.)
  */
class DedupeSpec extends SparkSpec {
  import spark.implicits._

  private def lwwKeys(df: org.apache.spark.sql.DataFrame) =
    df.select($"repo", $"path", $"seq").as[(String, String, Long)]
      .collect().map { case (r, p, s) => (r, p) -> s }.toMap

  private lazy val dedupeLogDir: String = {
    val dir = tmpDir("dedupe-log")
    ChangeLogGen.write(spark, GenConfig(seed = 11L, nEvents = 10000L, nFiles = 4), dir)
    dir
  }
  private val keys = Seq("repo", "path")
  /** lwwBroadcast below its cap (broadcast join-back) and above it
    * (the lwwTyped fallback).
    */
  private val broadcastCaps = Seq(0L, 1000000L)

  private lazy val normalized =
    Normalize(spark.read.schema(changeLogSchema).parquet(dedupeLogDir)).cache()

  test("every LWW implementation agrees on a generated log") {
    val a = lwwKeys(Dedupe.lww(normalized, Seq("repo", "path"), "seq"))
    assert(a.nonEmpty)
    assert(a === lwwKeys(Dedupe.lwwSalted(normalized, Seq("repo", "path"), "seq", 8)))
    assert(a === lwwKeys(Dedupe.lwwWindow(normalized, Seq("repo", "path"), "seq")))
    assert(a === lwwKeys(Dedupe.lwwTyped(normalized, Seq("repo", "path"), "seq")))
    assert(a === lwwKeys(Dedupe.lwwTypedSalted(normalized, Seq("repo", "path"), "seq", 8)))
    assert(a === lwwKeys(Dedupe.lwwJoin(normalized, Seq("repo", "path"), "seq")))
    broadcastCaps.foreach { cap =>
      assert(a === lwwKeys(Dedupe.lwwBroadcast(normalized, keys, "seq", cap)), s"maxKeys $cap")
    }
  }

  test("lwwJoin collapses re-delivered identical (key, max-seq) rows to one row per key") {
    // a re-delivered idempotent write duplicates the winning (key, seq)
    // pair — the join-back would keep both copies without the collapse
    val df = Seq(("r1", "p1", 5L, "v5"), ("r1", "p1", 5L, "v5"), ("r1", "p1", 3L, "v3"))
      .toDF("repo", "path", "seq", "content")
    val out = Dedupe.lwwJoin(df, Seq("repo", "path"), "seq")
    assert(out.count() === 1L, "one row per key, even with a duplicated winner")
    assert(out.select("seq", "content").as[(Long, String)].head() === ((5L, "v5")))
  }

  test("every variant resolves payload/key columns with dots in the name literally") {
    val df = Seq(("r1", 1L, 10), ("r1", 2L, 20), ("r2", 7L, 70))
      .toDF("id", "seq", "meta.size")
    type Lww = (org.apache.spark.sql.DataFrame, Seq[String], String) => org.apache.spark.sql.DataFrame
    val fns: Seq[Lww] =
      Seq[Lww](Dedupe.lww, Dedupe.lwwTyped, Dedupe.lwwJoin, Dedupe.lwwWindow,
        Dedupe.lwwSalted(_, _, _, 4), Dedupe.lwwTypedSalted(_, _, _, 4)) ++
        broadcastCaps.map[Lww](cap => Dedupe.lwwBroadcast(_, _, _, cap))
    fns.foreach { f =>
      val out = f(df, Seq("id"), "seq")
      assert(out.columns.toSeq === df.columns.toSeq, "original column order")
      val got = out.select($"id", col("`meta.size`")).as[(String, Int)].collect().toMap
      assert(got === Map("r1" -> 20, "r2" -> 70))
    }
  }

  test("lwwTyped rejects a non-bigint seq column at analysis time") {
    val df = Seq(("r1", 1, "v")).toDF("id", "seq", "content") // seq is INT
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Dedupe.lwwTyped(df, Seq("id"), "seq").collect()
    }
    assert(e.getMessage.contains("BIGINT"), e.getMessage)
  }

  test("lwwTyped preserves full payload content (vs lww reference impl)") {
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select($"repo", $"path", $"seq", $"op", $"commit", $"language", $"content", $"size_bytes")
        .as[(String, String, Long, String, String, String, String, Option[Long])]
        .collect().map(r => (r._1, r._2) -> r).toMap
    assert(full(Dedupe.lwwTyped(normalized, Seq("repo", "path"), "seq")) ===
      full(Dedupe.lww(normalized, Seq("repo", "path"), "seq")))
  }

  test("partition invariance: result identical at parallelism 2 / 16 / 64") {
    val base = lwwKeys(Dedupe.lww(normalized, Seq("repo", "path"), "seq"))
    Seq(2, 16, 64).foreach { n =>
      val r = lwwKeys(Dedupe.lww(normalized.repartition(n), Seq("repo", "path"), "seq"))
      assert(r === base, s"parallelism $n changed the result")
      broadcastCaps.foreach { cap =>
        assert(lwwKeys(Dedupe.lwwBroadcast(normalized.repartition(n), keys, "seq", cap)) === base,
          s"lwwBroadcast maxKeys $cap: parallelism $n changed the result")
      }
    }
  }

  test("idempotence: lww(log ++ log) == lww(log)") {
    val once = lwwKeys(Dedupe.lww(normalized, Seq("repo", "path"), "seq"))
    val twice = lwwKeys(Dedupe.lww(normalized.union(normalized), Seq("repo", "path"), "seq"))
    assert(once === twice)
    // every winner is an equal-(key, seq) duplicate here: lwwBroadcast's
    // join-back matches both copies and must still emit one row per key
    broadcastCaps.foreach { cap =>
      val out = Dedupe.lwwBroadcast(normalized.union(normalized), keys, "seq", cap)
      assert(lwwKeys(out) === once, s"maxKeys $cap")
      assert(out.count() === once.size.toLong, s"maxKeys $cap: one row per key")
    }
  }

  test("property: LWW over random event sets equals HashMap fold oracle (20 seeded trials)") {
    (1 to 20).foreach { trial =>
      val rnd = new scala.util.Random(trial * 7919L)
      val n = 50 + rnd.nextInt(300)
      // unique seq per event so ties are impossible, like the WAL
      val rows = (0 until n).map { i =>
        val k = rnd.nextInt(25)
        (s"r${k % 5}", s"p$k", i.toLong, rnd.alphanumeric.take(8).mkString)
      }
      val df = rows.toDF("repo", "path", "seq", "content")
      def resolved(out: org.apache.spark.sql.DataFrame) = {
        val rs = out.select($"repo", $"path", $"seq", $"content")
          .as[(String, String, Long, String)].collect()
        val m = rs.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        assert(m.size === rs.length, s"trial $trial: one row per key")
        m
      }
      val oracle = rows.foldLeft(Map.empty[(String, String), (Long, String)]) {
        case (m, (r, p, s, c)) =>
          val k = (r, p)
          if (m.get(k).forall(_._1 < s)) m.updated(k, (s, c)) else m
      }
      assert(resolved(Dedupe.lwwSalted(df, keys, "seq", 4)) === oracle, s"trial $trial")
      broadcastCaps.foreach { cap =>
        assert(resolved(Dedupe.lwwBroadcast(df, keys, "seq", cap)) === oracle,
          s"trial $trial, lwwBroadcast maxKeys $cap")
      }
    }
  }

  test("property: lwwBroadcast output is independent of maxKeys when keys have all-null seqs") {
    // a key whose every seq is null has no winner: the broadcast join-back
    // and the lwwTyped fallback must both drop it, so crossing the cap
    // (batch size) never changes which keys a batch carries
    (1 to 10).foreach { trial =>
      val rnd = new scala.util.Random(trial * 104729L)
      val n = 40 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        val k = rnd.nextInt(30)
        // keys 0-9 only ever carry null seqs, 10-19 carry a mix
        val seq = if (k < 10 || (k < 20 && rnd.nextBoolean())) None else Some(i.toLong)
        (s"r${k % 4}", s"p$k", seq, rnd.alphanumeric.take(6).mkString)
      }
      val df = rows.toDF("repo", "path", "seq", "content")
      def resolved(out: org.apache.spark.sql.DataFrame) = out
        .select($"repo", $"path", $"seq", $"content")
        .as[(String, String, Option[Long], String)].collect().toSet
      def out(cap: Long) = resolved(Dedupe.lwwBroadcast(df, keys, "seq", cap))
      val below = out(1000000L)
      assert(out(0L) === below, s"trial $trial: maxKeys changed the output")
      assert(resolved(Dedupe.lwwTypedSalted(df, keys, "seq", 4)) === below,
        s"trial $trial: the salted path agrees")
      val oracle = rows.collect { case (r, p, Some(s), c) => (r, p, s, c) }
        .groupBy(x => (x._1, x._2)).values.map(_.maxBy(_._3))
        .map { case (r, p, s, c) => (r, p, Option(s), c) }.toSet
      assert(below === oracle, s"trial $trial: all-null-seq keys dropped, others keep max seq")
    }
  }

  test("property: seq_max_count equals a fold over seqs with nulls and ties, at any parallelism") {
    (1 to 10).foreach { trial =>
      val rnd = new scala.util.Random(trial * 31337L)
      val rows = (0 until 100 + rnd.nextInt(300)).map { _ =>
        (s"k${rnd.nextInt(12)}", if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(6).toLong))
      }
      val oracle = rows.groupBy(_._1).map { case (k, xs) =>
        val seqs = xs.flatMap(_._2)
        k -> (if (seqs.isEmpty) (None, 0L)
              else (Some(seqs.max), seqs.count(_ == seqs.max).toLong))
      }
      Seq(1, 3, 8).foreach { parts =>
        val got = rows.toDF("k", "seq").repartition(parts)
          .groupBy("k").agg(graft.cdc.SeqMaxCount.of(col("seq")).as("m"))
          .select($"k", $"m.max", $"m.n").as[(String, Option[Long], Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(got === oracle, s"trial $trial, $parts partitions")
      }
    }
  }

  test("malformed payloads survive the pipeline: corrupt JSON → null columns, no crash") {
    val raw = Seq(
      ChangeEvent(1L, "I", "r", "ok", 0, new java.sql.Timestamp(0),
        """{"commit":"c0","lang":"scala","content":"fine"}"""),
      ChangeEvent(2L, "I", "r", "bad", 0, new java.sql.Timestamp(0),
        """{"commit": NOT VALID JSON"""),
      ChangeEvent(3L, "I", "r", "empty", 1, new java.sql.Timestamp(0), "")
    ).toDS().toDF()
    val n = Normalize(raw).select("path", "commit", "content")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(n("ok") === ((Some("c0"), Some("fine"))))
    assert(n("bad") === ((None, None)), "corrupt payload → nulls, row kept")
    assert(n("empty") === ((None, None)))
    // and the merge ingests them without failing (null-payload upserts)
    val base = tmpDir("badjson")
    val table = LakeTable(s"$base/t", 4)
    val deduped = Dedupe.lwwTyped(
      Normalize(raw).select(graft.stream.Tailer.mergeCols.map(
        org.apache.spark.sql.functions.col): _*),
      Seq("repo", "path"), "seq")
    table.merge(spark, deduped, 0L)
    assert(table.read(spark).count() === 3)
  }

  test("two tables ingest concurrently in one session without interference") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def replayInto(mode: String): Long = {
      val base = tmpDir(s"conc$mode")
      graft.stream.Tailer.replay(spark, graft.stream.Tailer.TailerConfig(
        logDir = dedupeLogDir, tableRoot = s"$base/table",
        checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
        metricsDir = s"$base/metrics", numBuckets = 8, tableMode = mode))
      LakeTable(s"$base/table", 8).read(spark).count()
    }
    val (a, b) = Await.result(
      Future(replayInto(LakeTable.Cow)).zip(Future(replayInto(LakeTable.Mor))),
      Duration.Inf)
    assert(a === b)
    assert(a > 0)
  }

  test("schema epochs: normalizer maps lang→language, widens size_bytes, nulls epoch-0 adds") {
    val raw = Seq(
      ChangeEvent(1L, "I", "r", "p0", 0, new java.sql.Timestamp(0),
        """{"commit":"c0","lang":"scala","content":"e0"}"""),
      ChangeEvent(2L, "I", "r", "p1", 1, new java.sql.Timestamp(0),
        """{"commit":"c1","lang":"java","content":"e1","size_bytes":2}"""),
      ChangeEvent(3L, "I", "r", "p2", 2, new java.sql.Timestamp(0),
        """{"commit":"c2","language":"go","content":"e2","size_bytes":9999999999}""")
    ).toDS().toDF()
    val n = Normalize(raw).select("seq", "language", "size_bytes")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    assert(n(0) === ((1L, "scala", None)))
    assert(n(1) === ((2L, "java", Some(2L))))
    assert(n(2) === ((3L, "go", Some(9999999999L)))) // long survives widening
  }
}
