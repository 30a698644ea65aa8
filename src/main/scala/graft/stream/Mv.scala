package graft.stream

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained materialized AGGREGATE over a lake table's
  * change feed — the missing downstream consumer shape next to table→table
  * replication ([[Tailer.followInto]]): a grouped count+sum view that stays
  * exact under inserts, deletes, AND group-moving updates, without ever
  * rescanning the primary.
  *
  * Reference analog: the reference pipeline recomputes its per-group report
  * CSVs from the whole store on every run (the per-organism count columns
  * are rebuilt by re-walking EVERY tree inside the export loop,
  * PhylogenesServerWrapper.java:552-573); this maintains the same shape of
  * result incrementally from the CDC feed, O(changes + groups) per batch
  * instead of O(table).
  *
  * Semantics — classic retraction-based view maintenance (the Flink
  * dynamic-table model): the `graft-cdf` source is read with
  * `updatePreimages=true`, so every live-state transition arrives as
  * retractions and applications:
  *
  *  - I   → apply the after-image (+1)
  *  - U-  → retract the BEFORE-image (-1 from its OLD group)
  *  - U+  → apply the after-image (+1 to its NEW group)
  *  - D   → retract the before-image (-1)
  *
  * `count` and `sum` are the self-maintainable aggregates (each delta is
  * applied in O(1) without looking at other rows); min/max are NOT (a
  * retraction of the current extreme forces a group rescan) and are out of
  * scope here — the view maintains `cnt = count(*)` and
  * `bytes = sum(coalesce(size_bytes, 0))` per group.
  *
  * Exactly-once: the view is VERSIONED BY BATCH — batch b rewrites
  * `viewDir/v<b>` from `v<prev>` + the batch's group deltas, then advances
  * the `_latest` pointer (tmp + atomic rename). A replayed batch either
  * no-ops (pointer already ≥ b) or deterministically recomputes the same
  * v<b> from the same v<prev> — crash anywhere between write and pointer is
  * absorbed. Old versions beyond `retain` are deleted after the pointer
  * advances.
  *
  * Scale: per batch ONE pass reads the feed — the O(changed-buckets) CDF
  * scan; the primary is never re-read — and groups it into per-group
  * count/byte deltas, which it collects to the driver: O(distinct groups)
  * rows, e.g. |languages|, the same rows the view rewrite funnels through
  * one task. The op guard and the empty-window check read those rows; the
  * fold joins them to the previous version and rewrites the VIEW in a
  * second job (the classic MV-over-CDF pattern, same as a Delta
  * MERGE-maintained view). For a view with billions of groups the deltas
  * would stay distributed and the rewrite would graduate to a keyed MERGE
  * sink; for report-shaped groupings the collected deltas and the single
  * small parquet write ARE the right plan at any primary size.
  */
object Mv {

  /** Drain the primary's pending changes into the view and return after
    * parity (Trigger.AvailableNow); restart with the same checkpoint to
    * pick up new commits. The first batch from a fresh checkpoint is the
    * table's full live state as I rows — bootstrap and tail are one path.
    */
  def maintainInto(spark: SparkSession, primaryRoot: String, viewDir: String,
                   checkpointDir: String, groupCol: String = "language",
                   retain: Int = 2,
                   sourceOptions: Map[String, String] = Map.empty): Unit = {
    val q = maintainStream(spark, primaryRoot, viewDir, checkpointDir,
      groupCol, Trigger.AvailableNow(), retain, sourceOptions)
    q.awaitTermination()
  }

  /** Continuous maintenance on a processing-time trigger — the view
    * converges to every new primary commit while the query runs.
    */
  def maintainContinuously(spark: SparkSession, primaryRoot: String,
                           viewDir: String, checkpointDir: String,
                           groupCol: String = "language",
                           intervalMs: Long = 500L,
                           retain: Int = 2): StreamingQuery =
    maintainStream(spark, primaryRoot, viewDir, checkpointDir, groupCol,
      Trigger.ProcessingTime(s"$intervalMs milliseconds"), retain)

  private def maintainStream(spark: SparkSession, primaryRoot: String,
                             viewDir: String, checkpointDir: String,
                             groupCol: String, trigger: Trigger, retain: Int,
                             sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    spark.readStream.format("graft-cdf")
      .option("path", primaryRoot)
      .options(sourceOptions)
      .option("updatePreimages", "true") // after the caller's options: load-bearing
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((feed: DataFrame, batchId: Long) =>
        applyDeltas(viewDir, groupCol, feed, batchId, retain,
          consumerTag = Some(checkpointDir)))
      .trigger(trigger)
      .start()

  /** Non-streaming maintenance: the change window from the view's own
    * pointer to the primary's head (read with preimages), folded into the
    * view. batchId = the window's toVersion, so the pointer, which
    * [[applyDeltas]] advances atomically with the view, IS the primary
    * version the view holds: the one progress record, with no cursor to
    * fall behind it. A crash before the pointer advance leaves the view
    * at its old version, and the next run diffs the same start again.
    * A view with no pointer (new, or deleted to rebuild it) folds the
    * bootstrap window [0, head]: the table's full live state as I rows.
    * Returns true if a window was applied, false if already caught up.
    * `cursorFile` is only the view's consumer tag: a view is pinned to
    * ONE tag exactly as the streaming view is pinned to one checkpoint.
    * Snapshot versions are monotone, so the pointer fence gives the same
    * replay algebra as the streaming path without a Structured Streaming
    * query (the fit for cron-style batch refresh).
    */
  def maintainViaCursor(spark: SparkSession, primaryRoot: String,
                        cursorFile: Path, viewDir: String,
                        groupCol: String = "language",
                        retain: Int = 2): Boolean = {
    val table = graft.lake.LakeTable.open(primaryRoot)
    val applied = pointer(Paths.get(viewDir))
    applied.foreach(_ => checkConsumer(Paths.get(viewDir), cursorFile.toString))
    val from = applied.getOrElse(0L).toInt
    val to = table.headVersion()
    if (to <= from) return false
    val feed =
      try CdfFeed.window(spark, table, from, to, updatePreimages = true, fresh = applied.isEmpty)
      catch {
        // expireSnapshots outran this view: a keyed mirror can absorb a
        // full-state merge, but a delta-folded aggregate cannot tell
        // already-counted rows apart. The exact rebuild is total: with
        // no pointer, the next run folds the full live state.
        case e: graft.lake.LakeTable.ExpiredHistoryException =>
          throw new IllegalStateException(s"mv: the view's change window was " +
            s"expired on the primary (${e.getMessage}). An aggregate view cannot be " +
            s"healed across an expired gap — rebuild it: delete '$viewDir' and re-run; " +
            "the fresh window folds the table's full live state.", e)
      }
    applyDeltas(viewDir, groupCol, feed, batchId = to.toLong, retain,
      consumerTag = Some(cursorFile.toString))
    true
  }

  /** The maintained view as of its last applied batch:
    * (<groupCol>, cnt, bytes). Fails with bootstrap guidance if no batch
    * has ever been applied.
    */
  def read(spark: SparkSession, viewDir: String): DataFrame = {
    val latest = pointer(Paths.get(viewDir)).getOrElse(
      throw new IllegalStateException(
        s"mv: no applied batch in $viewDir — run maintainInto first"))
    spark.read.parquet(s"$viewDir/v$latest")
  }

  /** One batch of view maintenance: fold the batch's group deltas into the
    * previous view version, write v<batchId>, advance the pointer. Public
    * so a non-streaming consumer (e.g. [[LakeTable.drainChanges]] windows)
    * can drive the same fold.
    *
    * `consumerTag` pins the view to ONE offset ledger: batchIds are only
    * comparable within a single checkpoint, so re-pointing an existing
    * view at a FRESH checkpoint would restart them at 0 — the pointer
    * fence would silently no-op the new bootstrap batch and every apply
    * after that could drift. The tag (the checkpoint path, for the
    * streaming path) is recorded on first apply and must match forever
    * after; mismatches fail loudly with recovery guidance.
    */
  def applyDeltas(viewDir: String, groupCol: String, feed: DataFrame,
                  batchId: Long, retain: Int = 2,
                  consumerTag: Option[String] = None): Unit = {
    val spark = feed.sparkSession
    val dir = Paths.get(viewDir)
    Files.createDirectories(dir)
    consumerTag.foreach(checkConsumer(dir, _))
    val prev = pointer(dir)
    // replay of an already-applied batch (crash after pointer advance, or
    // a foreachBatch re-delivery): the pointer is the fence — no-op
    if (prev.exists(_ >= batchId)) return

    val sign = when(col("op").isin("I", "U+"), lit(1L))
      .when(col("op").isin("D", "U-"), lit(-1L))
    // one pass over the feed: per-group count/byte deltas, plus a guard
    // counter for ops outside the retraction alphabet — a plain U
    // (after-image only) CANNOT maintain an aggregate (its old group is
    // unknown), so feeds read without updatePreimages must fail loudly,
    // never silently drift
    val deltas = feed.groupBy(col(groupCol))
      .agg(
        sum(sign).as("_dcnt"),
        sum(sign * coalesce(col("size_bytes"), lit(0L))).as("_dbytes"),
        sum(when(sign.isNull, 1L).otherwise(0L)).as("_bad"))
    // O(groups) rows — the same rows the coalesce(1) view write below
    // funnels through one task — so the guard and the emptiness check run
    // on the driver, and the feed is read by this one pass only
    val rows = deltas.collect().toSeq
    val bad = rows.map(_.getAs[Long]("_bad")).sum
    if (bad > 0)
      throw new IllegalStateException(
        s"mv: $bad feed row(s) with an op outside I/U-/U+/D — the feed " +
          "must be read with updatePreimages=true for aggregate maintenance")
    if (rows.isEmpty && prev.isDefined) return // compaction-only window
    val d = spark.createDataFrame(rows.asJava, deltas.schema)

    val folded = prev match {
      case None =>
        d.select(col(groupCol), col("_dcnt").as("cnt"), col("_dbytes").as("bytes"))
      case Some(v) =>
        val old = spark.read.parquet(s"$viewDir/v$v")
        // null-safe group join: a null group key is one group, not a
        // join miss that would duplicate it on every batch
        old.as("o").join(d.as("d"),
            col(s"o.$groupCol") <=> col(s"d.$groupCol"), "full_outer")
          .select(
            coalesce(col(s"o.$groupCol"), col(s"d.$groupCol")).as(groupCol),
            (coalesce(col("o.cnt"), lit(0L)) +
              coalesce(col("d._dcnt"), lit(0L))).as("cnt"),
            (coalesce(col("o.bytes"), lit(0L)) +
              coalesce(col("d._dbytes"), lit(0L))).as("bytes"))
    }
    folded.filter(col("cnt") > 0) // emptied groups leave the view
      .coalesce(1) // report-shaped: O(groups) rows
      .write.mode("overwrite").parquet(s"$viewDir/v$batchId")
    advancePointer(dir, batchId)
    gc(dir, batchId, retain)
  }

  /** First apply records the consumer (checkpoint) identity; later applies
    * must present the same one. Written BEFORE the first pointer advance —
    * a crash between the two leaves a tagged, pointerless view that the
    * same checkpoint simply bootstraps again.
    */
  private def checkConsumer(dir: Path, tag: String): Unit = {
    val f = dir.resolve("_consumer")
    if (!Files.exists(f)) {
      // tmp is pid AND thread scoped: two maintainers in ONE driver JVM
      // (two streaming queries, two cursor callers) racing first-apply
      // must not share a tmp path, or one could publish the other's
      // half-written bytes
      val tmp = dir.resolve(s"_consumer.tmp.${ProcessHandle.current().pid()}" +
        s".${Thread.currentThread().getId}")
      Files.writeString(tmp, tag)
      // createLink, NOT move: POSIX rename(2) silently REPLACES an existing
      // target, so two concurrent first-appliers could each overwrite the
      // other's tag and both pass the compare below — exactly the
      // cross-checkpoint drift this tag exists to fail loudly on. link(2)
      // fails with EEXIST if the target appeared first, and the linked
      // content is complete (the tmp file was fully written before the
      // link), so the loser always compares against the winner's tag.
      // Filesystems WITHOUT hard links (FUSE object stores, FAT) fall back
      // to the rename publish — atomic there too, just without the
      // concurrent-first-apply loud-failure guarantee link(2) adds.
      try Files.createLink(f, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          () // lost a benign race; fall through to compare
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          try Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
      } finally Files.deleteIfExists(tmp)
    }
    val have = Files.readString(f).trim
    if (have != tag)
      throw new IllegalStateException(
        s"mv: view $dir is maintained from checkpoint '$have' but this query " +
          s"uses '$tag' — batchIds across checkpoints are not comparable, so " +
          "continuing would silently corrupt the view. Either resume with the " +
          "original checkpoint, or delete the view directory to rebuild it " +
          "from the new checkpoint's bootstrap batch.")
  }

  /** The batch the view at `dir` last applied (for a cursor-maintained
    * view, the primary version it holds), None before its first apply.
    */
  private[graft] def pointer(dir: Path): Option[Long] = {
    val f = dir.resolve("_latest")
    if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
  }

  private def advancePointer(dir: Path, batchId: Long): Unit = {
    val tmp = dir.resolve(s"_latest.tmp.$batchId")
    Files.writeString(tmp, batchId.toString)
    Files.move(tmp, dir.resolve("_latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete all but the newest `retain` EXISTING view versions (the
    * pointer's version is always among them — it is the newest). Counted
    * over versions present on disk, not a numeric id floor: cursor-driven
    * refreshes use batchId = toVersion, which JUMPS (v1 then v5), so a
    * `latest - retain + 1` floor would silently keep fewer versions than
    * the retain contract promises.
    */
  private def gc(dir: Path, latest: Long, retain: Int): Unit = {
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    val it = Files.list(dir)
    try {
      it.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
          ids += n.drop(1).toLong
      }
    } finally it.close()
    val keep = ids.sorted.takeRight(math.max(1, retain)).toSet + latest
    ids.filterNot(keep).foreach(v => rmTree(dir.resolve(s"v$v")))
  }

  private def rmTree(root: Path): Unit =
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      import java.nio.file.attribute.BasicFileAttributes
      import java.nio.file.FileVisitResult
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.deleteIfExists(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        Files.deleteIfExists(d); FileVisitResult.CONTINUE
      }
    })
}
