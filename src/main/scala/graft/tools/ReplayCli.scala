package graft.tools

import graft.Sessions
import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.lake.LakeTable
import graft.stream.Tailer
import graft.stream.Tailer.TailerConfig
import org.apache.spark.sql.functions._

/** spark-submit / java -cp entry point: generate (optional) + replay a
  * change log into a LakeTable and report final-state stats.
  *
  * {{{
  * ReplayCli gen    <logDir> <nEvents> [seed] [nFiles]
  * ReplayCli replay <logDir> <workDir> [cores] [saltBuckets] [numBuckets] [mode] [compactEvery] [targetFileRows]
  * ReplayCli show    <workDir> [repo path]
  * ReplayCli stats   <workDir>
  * ReplayCli sql     <workDir> "SELECT … FROM $TABLE …"
  * ReplayCli changes <workDir> <fromVersion> <toVersion>
  * ReplayCli drain   <workDir>
  * ReplayCli follow  <workDir> <derivedDir> [maxVersionsPerBatch] [maxStateRowsPerPartition]
  * ReplayCli mv      <workDir> <viewDir> [groupCol] [maxVersionsPerBatch]
  * ReplayCli resync  <workDir> <derivedDir>
  * ReplayCli compact <workDir> [gc] [targetFileRows]
  * ReplayCli rebucket <workDir> <newBuckets> [targetFileRows]
  * ReplayCli vacuum  <workDir> [keepLast] [graceMs]
  * }}}
  */
object ReplayCli {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: logDir :: n :: rest =>
      val seed = rest.headOption.map(_.toLong).getOrElse(42L)
      val nFiles = rest.drop(1).headOption.map(_.toInt).getOrElse(32)
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-gen")
      val t0 = System.nanoTime()
      ChangeLogGen.write(spark, GenConfig(seed = seed, nEvents = n.toLong, nFiles = nFiles), logDir)
      println(f"[gen] wrote ${n.toLong}%,d events to $logDir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      spark.stop()

    case "replay" :: logDir :: workDir :: rest =>
      val cores = rest.headOption.map(_.toInt)
        .getOrElse(sys.env.getOrElse("GRAFT_CORES", "8").toInt)
      val salt = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
      val buckets = rest.drop(2).headOption.map(_.toInt).getOrElse(32)
      val mode = rest.drop(3).headOption.getOrElse(
        sys.env.getOrElse("GRAFT_TABLE_MODE", graft.lake.LakeTable.Cow))
      val compactEvery = rest.drop(4).headOption.map(_.toInt).filter(_ > 0)
      // 0/negative would silently mean "no limit" downstream
      // (maxRecordsPerFile) — reject, same policy as compact's arg
      val targetRows = rest.drop(5).headOption.map { a =>
        a.toLongOption.filter(_ > 0).getOrElse {
          System.err.println(
            s"usage: ReplayCli replay <logDir> <workDir> [cores salt buckets mode compactEvery targetFileRows>0]; got '$a'")
          sys.exit(2)
        }
      }
      val maxFiles = sys.env.get("GRAFT_MAX_FILES_PER_TRIGGER").map(_.toInt)
      val spark = Sessions.local(cores, "graft-replay")
      val cfg = TailerConfig(
        logDir = logDir, tableRoot = s"$workDir/table",
        checkpointDir = s"$workDir/ckpt", lineageDir = s"$workDir/lineage",
        metricsDir = s"$workDir/metrics", numBuckets = buckets, saltBuckets = salt,
        tableMode = mode, compactEvery = compactEvery,
        targetFileRows = targetRows, maxFilesPerTrigger = maxFiles)
      val t0 = System.nanoTime()
      Tailer.replay(spark, cfg)
      val secs = (System.nanoTime() - t0) / 1e9
      val table = LakeTable(cfg.tableRoot, buckets)
      val h = table.head()
      val nEvents = spark.read.schema(graft.model.Model.changeLogSchema)
        .parquet(logDir).count()
      val live = table.read(spark).count()
      println(f"[replay] events=$nEvents%,d liveRows=$live%,d " +
        f"physicalRows=${h.totalRows}%,d (incl. tombstones) " +
        f"snapshots=${h.version} lastBatchId=${h.lastBatchId} " +
        f"secs=$secs%.1f eventsPerSec=${nEvents / secs}%,.0f cores=$cores")
      // like every other subcommand — under GRAFT_MASTER=local-cluster the
      // forked executor JVMs need a clean shutdown, not a JVM-exit teardown
      spark.stop()

    case "compact" :: workDir :: rest =>
      val gc = rest.contains("gc") // GC tombstones: end-of-stream only
      // optional target rows per file: sorted buckets split into
      // range-disjoint files the manifest key bounds prune to on lookup.
      // 0/negative would silently mean "no limit" downstream
      // (maxRecordsPerFile) — reject, same policy as replay's args.
      val targetRows = rest.filterNot(_ == "gc").headOption.map { a =>
        a.toLongOption.filter(_ > 0).getOrElse {
          System.err.println(s"usage: ReplayCli compact <workDir> [gc] [targetFileRows>0]; got '$a'")
          sys.exit(2)
        }
      }
      // GRAFT_COMPACT_WAVE=<k>: memory-bounded wave compaction (≤k buckets
      // per job+commit) — the r6 fix for full-table rewrites whose working
      // set exceeds the heap (r5 256M/32c OOM); 0/negative = one job
      val wave = sys.env.get("GRAFT_COMPACT_WAVE").map { v =>
        scala.util.Try(v.trim.toInt).getOrElse {
          System.err.println(s"usage: GRAFT_COMPACT_WAVE=<max buckets per wave, integer>; got '$v'")
          sys.exit(2)
        }
      }.filter(_ > 0)
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-compact")
      // open (NOT create-with-default-buckets): compacting with a bucket
      // count different from the table's would silently rebucket the data
      val table = LakeTable.open(s"$workDir/table")
      val before = table.head()
      val tombs = table.readWithTombstones(spark).filter(col("deleted")).count()
      val buckets = table.compact(spark, gcTombstones = gc, targetFileRows = targetRows,
        maxBucketsPerWave = wave)
      val after = table.head()
      val tombMsg = if (gc) f"dropped $tombs%,d tombstones"
                    else f"retained $tombs%,d tombstones"
      println(f"[compact] v${before.version}→v${after.version} buckets $buckets " +
        f"rows ${before.totalRows}%,d→${after.totalRows}%,d " +
        f"($tombMsg) files ${before.totalFiles}→${after.totalFiles}")
      spark.stop()

    // rewrite the table under a new key-hash modulus (maintenance op for
    // outgrown bucket counts); openers pick the new modulus up from the
    // snapshot automatically
    case "rebucket" :: workDir :: newN :: rest =>
      val buckets = newN.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(s"usage: ReplayCli rebucket <workDir> <newBuckets> [targetFileRows]; got '$newN'")
        sys.exit(2)
      }
      val targetRows = rest.headOption.map { a =>
        a.toLongOption.filter(_ > 0).getOrElse {
          System.err.println(s"rebucket: targetFileRows must be a positive integer, got '$a'")
          sys.exit(2)
        }
      }
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-rebucket")
      val t0 = LakeTable.open(s"$workDir/table")
      val before = t0.head()
      val t1 = t0.rebucket(spark, buckets, targetFileRows = targetRows)
      val after = t1.head()
      println(f"[rebucket] v${before.version}→v${after.version} " +
        f"buckets ${t0.numBuckets}→${t1.numBuckets} rows ${after.totalRows}%,d " +
        f"files ${before.totalFiles}→${after.totalFiles}")
      spark.stop()

    // continuously-consumable change feed: drain the graft-cdf stream into
    // a DERIVED lake table (replication), resumable via its checkpoint
    case "follow" :: workDir :: derivedDir :: rest if rest.length <= 2 =>
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-follow")
      val derived = LakeTable(s"$derivedDir/table",
        LakeTable.open(s"$workDir/table").numBuckets)
      // optional: [maxVersionsPerBatch] [maxStateRowsPerPartition] — the
      // bounded-catch-up and reader-memory knobs of the DSv2 source
      val opts = Map(
        "maxVersionsPerBatch" -> rest.headOption.getOrElse("0"),
        "maxStateRowsPerPartition" -> rest.drop(1).headOption
          .getOrElse(graft.stream.CdfFeed.DefaultMaxStateRows.toString))
      val t0 = System.nanoTime()
      Tailer.followInto(spark, s"$workDir/table", derived, s"$derivedDir/ckpt",
        sourceOptions = opts)
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = derived.read(spark).count()
      println(f"[follow] derived $derivedDir/table rows=$rows%,d " +
        f"v${derived.head().version} lastBatchId=${derived.head().lastBatchId} " +
        f"secs=$secs%.1f")
      spark.stop()

    // incrementally-maintained materialized aggregate: drain pending
    // changes (read with update preimages) into a (group, cnt, bytes)
    // view and print it — re-run after more commits to see it converge
    // without rescanning the table
    case "mv" :: workDir :: viewDir :: rest if rest.length <= 2 =>
      val groupCol = rest.headOption.getOrElse("language")
      // optional: [maxVersionsPerBatch] — same bounded-catch-up knob as
      // `follow`, so a long-idle view drains the backlog as many
      // checkpointed batches instead of one giant window
      val opts = Map(
        "maxVersionsPerBatch" -> rest.drop(1).headOption.getOrElse("0"))
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-mv")
      val t0 = System.nanoTime()
      graft.stream.Mv.maintainInto(spark, s"$workDir/table", s"$viewDir/view",
        s"$viewDir/ckpt", groupCol = groupCol, sourceOptions = opts)
      val secs = (System.nanoTime() - t0) / 1e9
      val v = graft.stream.Mv.read(spark, s"$viewDir/view")
        .orderBy(col("cnt").desc)
      println(f"[mv] view $viewDir/view by $groupCol secs=$secs%.1f")
      v.show(20, truncate = false)
      spark.stop()

    // cursor-based sync with expired-history recovery: incremental drain
    // when the feed window is retained, exact full-sync resync (BY SOURCE
    // delete arm) + cursor re-seed when retention erased it
    case "resync" :: workDir :: derivedDir :: Nil =>
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-resync")
      val derived = LakeTable(s"$derivedDir/table",
        LakeTable.open(s"$workDir/table").numBuckets)
      val resynced = Tailer.resyncInto(spark, s"$workDir/table", derived,
        java.nio.file.Paths.get(derivedDir, "resync.cursor"))
      val rows = derived.read(spark).count()
      println(f"[resync] derived $derivedDir/table rows=$rows%,d " +
        (if (resynced) "FULL-RESYNC (history expired)" else "incremental"))
      spark.stop()

    case "vacuum" :: workDir :: rest =>
      // expire old snapshots (keepLast, default: keep all) then remove
      // orphan data/manifest files no surviving snapshot references and
      // older than the grace window (default 10 min — protects files of
      // in-flight writers; pass 0 only when no other writer is active)
      val table = LakeTable.open(s"$workDir/table")
      val expired = rest.headOption.map(_.toInt) match {
        case Some(keep) => table.expireSnapshots(keep)
        case None => Nil
      }
      val grace = rest.drop(1).headOption.map(_.toLong).getOrElse(600000L)
      val removed = table.vacuum(olderThanMs = grace)
      println(s"[vacuum] expired snapshots=${expired.mkString(",")} " +
        s"orphan files removed=$removed head=v${table.head().version}")

    // ad-hoc SQL over the work table: the statement sees it as
    // graft_lake.`<workDir>/table` (read rule: SELECT/time travel/point
    // pruning; merge rule: MERGE INTO). `$TABLE` expands to that name.
    case "sql" :: workDir :: stmt :: Nil =>
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-sql")
      val q = stmt.replace("$TABLE", s"graft_lake.`$workDir/table`")
      spark.sql(q).show(20, truncate = 48)
      spark.stop()

    // drain changes since the durable cursor (incremental consumer step):
    // prints the window, then advances <workDir>/cdf.cursor atomically
    case "drain" :: workDir :: Nil =>
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-drain")
      LakeTable.open(s"$workDir/table")
        .drainChanges(spark, java.nio.file.Paths.get(workDir, "cdf.cursor")) match {
        case Some(w) =>
          val feed = w.feed.cache()
          println(s"[drain] v${w.fromVersion}→v${w.toVersion} rows=${feed.count()}")
          feed.orderBy(desc("seq")).show(5, truncate = 40)
          w.commit()
        case None => println("[drain] up to date")
      }
      spark.stop()

    // change-data-feed between two snapshots (incremental read)
    case "changes" :: workDir :: from :: to :: Nil =>
      val spark = Sessions.local(sys.env.getOrElse("GRAFT_CORES", "8").toInt, "graft-changes")
      val feed = LakeTable.open(s"$workDir/table")
        .changesBetween(spark, from.toInt, to.toInt).cache()
      val byOp = feed.groupBy("op").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"[changes] v$from→v$to rows=${feed.count()} $byOp")
      feed.orderBy(desc("seq")).show(10, truncate = 40)
      spark.stop()

    // metadata-only table stats: reads HEAD + manifests, never data files
    case "stats" :: workDir :: Nil =>
      val table = LakeTable.open(s"$workDir/table")
      val h = table.head()
      val ms = h.manifests.sortBy(_.bucket)
      val bounded = ms.map(r => table.filesOf(h, r.bucket).count(f =>
        f.minRepo.isDefined && f.minPath.isDefined)).sum
      println(s"[stats] version=${h.version} mode=${h.mode} " +
        s"lastBatchId=${h.lastBatchId} buckets=${ms.size}/${table.numBuckets} " +
        f"rows=${h.totalRows}%,d files=${h.totalFiles} " +
        f"bytes=${ms.map(_.sizeBytes).sum}%,d boundedFiles=$bounded/${h.totalFiles}")
      val worst = ms.sortBy(-_.fileCount).take(5)
      worst.foreach { r =>
        println(f"[stats]   bucket=${r.bucket}%3d files=${r.fileCount}%3d " +
          f"rows=${r.rowCount}%,9d bytes=${r.sizeBytes}%,12d")
      }

    case "show" :: workDir :: rest =>
      val spark = Sessions.local(4, "graft-show")
      val table = LakeTable.open(s"$workDir/table")
      val df = table.read(spark)
      rest match {
        case repo :: path :: Nil =>
          table.lookup(spark, repo, path).show(5, truncate = 60)
        case _ =>
          println(s"[show] rows=${df.count()} snapshot=${table.head().version}")
          df.select(col("repo"), col("path"), col("seq"), col("language"),
            col("size_bytes"), sha2(col("content"), 256).as("sha256"))
            .orderBy(desc("seq")).show(5, truncate = 48)
          val lin = spark.read.parquet(s"$workDir/lineage")
          println(s"[show] lineage rows=${lin.count()}")
          lin.orderBy(desc("batchId"), col("partitionId")).show(5)
      }
      spark.stop()

    case _ =>
      System.err.println(
        "usage: ReplayCli gen|replay|show|stats|sql|changes|drain|follow|mv|resync|compact|rebucket|vacuum ... (see scaladoc)")
      sys.exit(2)
  }
}
