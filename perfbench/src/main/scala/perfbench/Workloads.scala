package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.gen.ChangeLogGen
import graft.lake.LakeTable
import graft.stream.{Mv, Tailer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Input sizes of every workload. Chosen so one run (set-up, a timed loop
  * of `--seconds`, checks) ends well inside a minute on a 4-core host.
  */
object Sizes {
  // tail_small_batches: 4 files ingested as one batch in set-up, then
  // rounds of 4 one-file batches, the 4th of each followed by compaction
  val tailEventsPerFile = 1000L
  val tailSetupFiles = 4
  val tailRoundFiles = 4
  // serve_reads: a MOR table built one file per batch with no compaction
  val readsEvents = 8000L
  val readsFiles = 8
  val readsBatches = 8
  val readsLookups = 24
  val readsScans = 3
  // catalog_sf: seeded tables for the 13 headline queries
  val catalog = CatalogData.Scale(events = 6000L, users = 300L, orders = 3000L,
    linesPerOrder = 4, customers = 500L, parts = 600L, docs = 300L, vectors = 200L)
  val buckets = 16
  // nominal seconds of one round on a 4-core host: a run does
  // round(--seconds / nominal) rounds, at least one
  val nominalRoundS = Map("tail_small_batches" -> 5.0, "serve_reads" -> 8.0, "catalog_sf" -> 6.0)
  // a traced run does a warm-up round, the traced round, then an untraced
  // round to compare it with
  val tracedRounds = 3
}

/** Everything one run records: operation counts, failures, metrics and
  * context. Failed operations contribute no latency sample.
  */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Int, val trace: Boolean) {
  val t = new Trace(spark)
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val context = mutable.LinkedHashMap.empty[String, Any]

  def fail(msg: String, ops: Long): Unit = {
    failed += ops
    problems += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Runs one operation: counts it, times it; a throw is a failed op.
    * Jobs it submits from benchmark code count to `layerName`.
    */
  def op[T](name: String, layerName: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Layers.hintKey, layerName)
    val t0 = System.nanoTime()
    try {
      val r = t.span(name, layerName)(body)
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Throwable =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}", 1)
        None
    } finally sc.setLocalProperty(Layers.hintKey, null)
  }
}

object Workloads {
  import Sizes._

  val names: Seq[String] = Seq("tail_small_batches", "serve_reads", "catalog_sf")

  /** Per-layer metrics each workload measures, by name prefix: a traced
    * run must produce every one of them; the others read 0.
    */
  private val ownMetrics: Map[String, Seq[String]] = Map(
    "tail_small_batches" -> Seq("tailer.", "dedupe.", "normalize.", "merge.", "compact.",
      "table.", "gen."),
    "serve_reads" -> Seq("table.", "lookup.", "scan.", "read.", "cdf.", "mv.", "gen."),
    "catalog_sf" -> Seq("q."))

  def measures(workload: String, metric: String): Boolean =
    (Seq("jvm.", "trace.", "self_ms.") ++ ownMetrics(workload)).exists(metric.startsWith)

  val headline: Seq[String] = graft.Bench.headline

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times the set-up of a workload's inputs and fixtures. */
  def setup[T](r: Run, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val res = r.t.span(s"setup.$name", "bench")(body)
    (res, secs(t0))
  }

  /** Rounds a run does: a fixed number for a given `--seconds`, so two
    * builds compared on one setting do identical work.
    */
  def roundCount(r: Run, workload: String): Int =
    if (r.trace) tracedRounds
    else math.max(1, math.round(r.seconds / nominalRoundS(workload)).toInt)

  /** The measured loop. A traced run traces its second round only, so
    * its counts repeat exactly, and its overhead is the traced round
    * against the untraced one after it (the first one also warms up).
    */
  def rounds(r: Run, n: Int)(round: (Int, Boolean) => Unit): Seq[(Int, Boolean)] = {
    val ran = (0 until n).map { i =>
      val traced = r.trace && i == 1
      r.t.traced(traced)(round(i, traced))
      (i, traced)
    }
    r.context("rounds") = n
    ran
  }

  // --- change-log helpers ------------------------------------------------

  /** Writes the seeded log and pins file modification times to seq order,
    * so the file source admits the files in log order.
    */
  def genLog(r: Run, events: Long, files: Int, dir: String): Seq[Path] = {
    r.t.span("gen.write", "gen") {
      ChangeLogGen.write(r.spark,
        ChangeLogGen.GenConfig(seed = r.seed, nEvents = events, nFiles = files), dir)
    }
    val fs = Fs.parquetFiles(dir)
    require(fs.size == files, s"generator wrote ${fs.size} files, expected $files")
    val base = System.currentTimeMillis - 3600000L
    fs.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(base + i * 1000L))
    }
    fs
  }

  def moveInto(files: Seq[Path], dir: String): Seq[Path] = {
    Files.createDirectories(Paths.get(dir))
    files.map(f => Files.move(f, Paths.get(dir).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
  }

  def tailerConfig(base: String, logDir: String, mode: String, perTrigger: Int,
                   compactEvery: Option[Int]): Tailer.TailerConfig =
    Tailer.TailerConfig(logDir = logDir, tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = buckets, tableMode = mode,
      compactEvery = compactEvery, maxFilesPerTrigger = Some(perTrigger))

  /** Runs one Tailer.replay as a closed loop and returns its batches. */
  def replay(r: Run, cfg: Tailer.TailerConfig, name: String): (Seq[Batch], Double) = {
    val since = System.currentTimeMillis
    val t0 = System.nanoTime()
    r.t.span(name, "tailer")(Tailer.replay(r.spark, cfg))
    val wall = secs(t0)
    r.t.drain()
    (r.t.clock.batches.filter(_.start >= since).sortBy(_.start), wall)
  }

  /** Final-state and lineage checks of an ingest; false on any mismatch. */
  def checkIngest(r: Run, cfg: Tailer.TailerConfig, logFiles: Seq[Path], what: String): Boolean =
    r.t.span("check.ingest", "bench") {
      val files = logFiles.map(_.toString)
      val expected = Reference.hashOf(Reference.liveState(r.spark, files))
      val got = Reference.hashOf(Reference.tableState(LakeTable.open(cfg.tableRoot).read(r.spark)))
      val events = r.spark.read.parquet(files: _*).count()
      val lineage = Tailer.readLineage(r.spark, cfg.lineageDir)
        .agg(coalesce(sum("rowsApplied"), lit(0L))).head.getLong(0)
      var ok = true
      if (expected != got) { r.problems += s"$what: state $got != reference $expected"; ok = false }
      if (lineage != events) { r.problems += s"$what: lineage rows $lineage != events $events"; ok = false }
      ok
    }

  /** Per-batch merge metrics the Tailer wrote to its metrics directory. */
  def mergeMetrics(r: Run, metricsDir: String, batchIds: Set[Long]): Map[String, Double] = {
    val rows = r.spark.read.parquet(metricsDir)
      .filter(col("name").startsWith("merge."))
      .collect().filter(x => batchIds.contains(x.getAs[Long]("batchId")))
    rows.groupBy(_.getAs[String]("name")).map { case (n, xs) =>
      n -> xs.groupBy(_.getAs[Long]("batchId")).values.map(_.head.getAs[Double]("value")).sum
    }
  }

  /** Data-file bytes added by each commit in (from, to]. */
  def bytesAdded(table: LakeTable, from: Int, to: Int): Long =
    ((from + 1) to to).map { v =>
      val before = table.filesOf(table.snapshotAt(v - 1)).map(_.path).toSet
      table.filesOf(table.snapshotAt(v)).filterNot(f => before(f.path)).map(_.sizeBytes).sum
    }.sum

  // --- per-layer metrics of the tail workload -----------------------------

  def tailLayers(r: Run, table: LakeTable, cfg: Tailer.TailerConfig,
                   traced: Seq[(Seq[Batch], Seq[Path], Int, Int)]): Unit = {
    val batches = traced.flatMap(_._1)
    val nb = batches.size.toDouble
    if (nb == 0) return
    val jobs = r.t.jobs.spans
    def inBatch(j: JobSpan) = batches.exists(b => j.start >= b.start && j.start <= b.end)
    val bj = jobs.filter(inBatch)
    def ms(p: JobSpan => Boolean) = Stats.unionMs(bj.filter(p).map(_.interval)).toDouble
    val logBytes = traced.map(x => Fs.sizeOf(x._2)).sum.toDouble
    r.layer("tailer.jobs_per_batch") = bj.size / nb
    // how many times a batch reads its log files: stages that scan them
    r.layer("tailer.log_scans_per_batch") = bj.map(_.inputScans).sum / nb
    r.layer("tailer.driver_ms_per_batch") = batches.map(b =>
      b.durMs - Stats.coveredMs(b.start, b.end, bj.map(_.interval))).sum / nb
    r.layer("tailer.lineage_ms") =
      ms(j => j.layer == "tailer" && !j.site.startsWith("isEmpty")) / nb
    r.layer("tailer.isempty_ms") = ms(j => j.layer == "tailer" && j.site.startsWith("isEmpty")) / nb
    r.layer("dedupe.ms") = ms(_.layer == "cdc") / nb
    r.layer("dedupe.shuffle_mb") = bj.filter(_.layer == "cdc").map(_.shuffleWrite).sum / 1e6 / nb
    val ids = batches.map(_.batchId).toSet
    val mm = mergeMetrics(r, cfg.metricsDir, ids)
    r.layer("dedupe.winners_per_event") = mm.getOrElse("merge.srcRows", 0.0) / batches.map(_.rows).sum
    r.layer("merge.ms") = ms(_.layer == "lake.write") / nb
    val lakeJobs = bj.filter(j => j.layer == "lake.write" || j.layer == "lake.compact")
    r.layer("merge.driver_ms") = math.max(0.0, (mm.getOrElse("merge.seconds", 0.0) * 1000 -
      Stats.unionMs(lakeJobs.map(_.interval))) / nb)
    r.layer("merge.touched_buckets") = mm.getOrElse("merge.touchedBuckets", 0.0) / nb
    r.layer("merge.write_amp") =
      traced.map { case (_, _, v0, v1) => bytesAdded(table, v0, v1) }.sum / logBytes
    r.layer("compact.ms") = ms(_.layer == "lake.compact") / traced.size
    r.layer("compact.rewrite_mb") =
      bj.filter(_.layer == "lake.compact").map(_.outputBytes).sum / 1e6 / traced.size
    // Normalize alone, on the deduped rows of the last traced batch's files
    val last = traced.last._2.map(_.toString)
    val raw = r.spark.read.schema(graft.model.Model.changeLogSchema).parquet(last: _*)
      .select("repo", "path", "seq", "op", "schema_id", "ts", "payload")
    val deduped = graft.cdc.Dedupe.lwwBroadcast(raw, Seq("repo", "path"), "seq", 1000000L)
      .localCheckpoint(eager = true)
    val normMs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      r.t.span("cdc.normalize", "cdc") {
        graft.cdc.Normalize(deduped).select(Tailer.mergeCols.map(col): _*)
          .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e6
    }
    r.layer("normalize.ms") = Stats.median(normMs)
    deduped.unpersist()
  }

  def tableShape(r: Run, table: LakeTable): Unit = {
    val h = table.head()
    val live = table.read(r.spark).count()
    r.layer("table.files_per_bucket") = h.totalFiles.toDouble / table.numBuckets
    r.layer("table.physical_per_live") = if (live == 0) 0.0 else h.totalRows.toDouble / live
  }

  // --- tail_small_batches -------------------------------------------------

  def tail(r: Run): Unit = {
    val stage = s"${r.work}/stage"
    val logDir = s"${r.work}/log"
    val base = s"${r.work}/tail"
    val n = roundCount(r, "tail_small_batches")
    val nFiles = tailSetupFiles + n * tailRoundFiles
    val ((pending, setupFiles), setupS) = setup(r, "gen+ingest") {
      Fs.fresh(stage); Fs.fresh(logDir); Fs.fresh(base)
      val files = genLog(r, nFiles * tailEventsPerFile, nFiles, stage)
      val first = moveInto(files.take(tailSetupFiles), logDir)
      Tailer.replay(r.spark, tailerConfig(base, logDir, LakeTable.Mor, tailSetupFiles, None))
      (files.drop(tailSetupFiles), first)
    }
    r.e2e("setup_s") = setupS
    r.layer("gen.log_mb") = Fs.sizeOf(setupFiles ++ pending) / 1e6
    val cfg = tailerConfig(base, logDir, LakeTable.Mor, 1, Some(tailRoundFiles))
    val table = LakeTable.open(cfg.tableRoot)
    val ingested = ArrayBuffer.empty[Path] ++ setupFiles
    val all = ArrayBuffer.empty[Batch]
    val walls = ArrayBuffer.empty[Double]
    val tracedRounds = ArrayBuffer.empty[(Seq[Batch], Seq[Path], Int, Int)]
    var events = 0L
    var ingestSecs = 0.0
    val chunks = pending.grouped(tailRoundFiles).toSeq
    val ran = rounds(r, n) { (i, traced) =>
      r.attempted += tailRoundFiles
      try {
        val v0 = table.headVersion()
        val moved = moveInto(chunks(i), logDir)
        ingested ++= moved
        val (bs, wall) = replay(r, cfg, "tailer.replay")
        if (bs.size != tailRoundFiles) r.fail(s"tail round $i ran ${bs.size} batches", tailRoundFiles)
        else {
          all ++= bs; walls += wall; events += bs.map(_.rows).sum; ingestSecs += wall
          if (traced) tracedRounds += ((bs, moved, v0, table.headVersion()))
        }
      } catch { case e: Throwable => r.fail(s"tail round $i threw $e", tailRoundFiles) }
    }
    if (!checkIngest(r, cfg, ingested.toSeq, "tail")) {
      r.fail("tail final-state check", all.size)
    }
    val lat = all.map(_.durMs.toDouble).toSeq
    if (lat.nonEmpty) {
      r.e2e("op_ms") = Stats.median(lat)
      r.e2e("op_ms_p90") = Stats.pct(lat, 90)
      r.e2e("round_s") = Stats.median(walls.toSeq)
      r.context("ingest_eps") = events / ingestSecs
    }
    r.context("op") = "micro-batch"
    r.context("op_samples") = lat.size
    traceOverhead(r, ran, walls.toSeq)
    if (r.trace && tracedRounds.nonEmpty) {
      tailLayers(r, table, cfg, tracedRounds.toSeq)
      tableShape(r, table)
    }
  }

  // --- serve_reads --------------------------------------------------------

  def reads(r: Run): Unit = {
    val logDir = s"${r.work}/log"
    val base = s"${r.work}/primary"
    val (log, setupS) = setup(r, "gen+build") {
      Fs.fresh(logDir); Fs.fresh(base)
      val files = genLog(r, readsEvents, readsFiles, logDir)
      Tailer.replay(r.spark, tailerConfig(base, logDir, LakeTable.Mor,
        readsFiles / readsBatches, None))
      // warm-up: a few lookups and one repo scan
      val t = LakeTable.open(s"$base/table")
      (0 until 8).foreach(i => t.lookup(r.spark, "org0/repo0", s"src/d$i/File$i.md").collect())
      t.readWhereRepo(r.spark, "org0/repo0").collect()
      files
    }
    r.e2e("setup_s") = setupS
    r.layer("gen.log_mb") = Fs.sizeOf(log) / 1e6
    val primaryRoot = s"$base/table"
    val table = LakeTable.open(primaryRoot)

    // references, outside every timed interval
    val ref = Reference.liveRows(r.spark, log.map(_.toString))
    val primaryLive = table.read(r.spark)
    val primaryHash = Reference.hashOf(Reference.tableState(primaryLive))
    val primaryView = Reference.viewOf(primaryLive)
    if (primaryHash != Reference.hashOf(Reference.liveState(r.spark, log.map(_.toString))))
      r.fail("serve_reads: primary differs from the reference", 0)
    val events = r.spark.read.parquet(log.map(_.toString): _*)
      .select("seq", "repo", "path").collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getString(2))).toMap
    val rnd = new scala.util.Random(r.seed)
    // lookups: 85% drawn from the log by event (hot keys favoured; a
    // deleted key gives an absent lookup), 15% keys that never existed
    val keys = Seq.fill(readsLookups) {
      if (rnd.nextInt(100) < 85) events(rnd.nextInt(events.size).toLong)
      else (s"org${rnd.nextInt(89)}/repo${rnd.nextInt(1000)}", s"src/none/File${rnd.nextInt(64)}.md")
    }
    val repoCounts = ref.keys.groupBy(_._1).map { case (k, v) => k -> v.size }.toSeq
      .sortBy(x => (-x._2, x._1))
    val repos = (repoCounts.take(readsScans / 2) ++
      rnd.shuffle(repoCounts.drop(readsScans / 2)).take(readsScans - readsScans / 2)).map(_._1)
    r.context("lookup_live_share") = keys.count(ref.contains).toDouble / keys.size

    val lookupMs = ArrayBuffer.empty[Double]
    val scanMs = ArrayBuffer.empty[Double]
    val walls = ArrayBuffer.empty[Double]
    val followS = ArrayBuffer.empty[Double]
    val mvS = ArrayBuffer.empty[Double]
    var mirrorRows = 0.0
    var bucketsDiffed = 0.0
    val lookupFiles = ArrayBuffer.empty[Long]
    val scanFiles = ArrayBuffer.empty[Long]
    val tracedSpans = ArrayBuffer.empty[(Long, Long)]
    val ran = rounds(r, roundCount(r, "serve_reads")) { (i, traced) =>
      var wall = 0.0
      val roundStart = System.currentTimeMillis
      keys.foreach { case (repo, path) =>
        r.op("lake.lookup", "lake.read") {
          val ds = table.lookup(r.spark, repo, path).select(col("seq"), sha2(col("content"), 256))
          (ds.collect(), ds)
        }.foreach { case ((rows, ds), ms) =>
          if (traced) lookupFiles += Plans.filesRead(ds.queryExecution)
          val got = rows.map(x => (x.getLong(0), x.getString(1))).toSeq
          if (got != ref.get((repo, path)).toSeq) r.fail(s"lookup $repo $path returned $got", 1)
          else lookupMs += ms
          wall += ms
        }
      }
      repos.foreach { repo =>
        r.op("lake.readWhereRepo", "lake.read") {
          val ds = table.readWhereRepo(r.spark, repo)
            .select(col("path"), col("seq"), sha2(col("content"), 256))
          (ds.collect(), ds)
        }.foreach { case ((rows, ds), ms) =>
          if (traced) scanFiles += Plans.filesRead(ds.queryExecution)
          val got = rows.map(x => (x.getString(0), (x.getLong(1), x.getString(2)))).toMap
          val want = ref.collect { case ((rp, p), v) if rp == repo => p -> v }
          if (got != want || rows.length != got.size) r.fail(s"scan $repo: ${rows.length} rows", 1)
          else scanMs += ms
          wall += ms
        }
      }
      val rep = Fs.fresh(s"${r.work}/replica/r$i")
      val mirror = LakeTable(s"$rep/mirror", buckets, LakeTable.Cow)
      if (traced) { r.t.drain(); r.t.jobs.takeSourcePartitions() }
      r.op("cdf.followInto", "cdf_mv") {
        Tailer.followInto(r.spark, primaryRoot, mirror, s"$rep/mirror-ckpt", Some(s"$rep/mirror-lineage"))
      }.foreach { case (_, ms) =>
        wall += ms
        if (traced) { r.t.drain(); bucketsDiffed = r.t.jobs.takeSourcePartitions().toDouble }
        if (Reference.hashOf(Reference.tableState(mirror.read(r.spark))) != primaryHash)
          r.fail(s"mirror round $i differs from the primary", 1)
        else followS += ms / 1000
        if (traced) mirrorRows = Tailer.readLineage(r.spark, s"$rep/mirror-lineage")
          .agg(coalesce(sum("rowsApplied"), lit(0L))).head.getLong(0).toDouble
      }
      r.op("mv.maintainInto", "cdf_mv") {
        Mv.maintainInto(r.spark, primaryRoot, s"$rep/view", s"$rep/view-ckpt", "language")
      }.foreach { case (_, ms) =>
        wall += ms
        val view = Mv.read(r.spark, s"$rep/view").collect()
          .map(x => Option(x.getString(0)).getOrElse("<null>") -> (x.getLong(1), x.getLong(2))).toMap
        if (view != primaryView) r.fail(s"view round $i differs from the primary", 1)
        else mvS += ms / 1000
      }
      walls += wall / 1000
      if (traced) tracedSpans += ((roundStart, System.currentTimeMillis))
    }
    if (lookupMs.nonEmpty) {
      r.e2e("op_ms") = Stats.median(lookupMs.toSeq)
      r.e2e("op_ms_p90") = Stats.pct(lookupMs.toSeq, 90)
    }
    if (walls.nonEmpty) r.e2e("round_s") = Stats.median(walls.toSeq)
    r.context("op") = "point lookup"
    r.context("op_samples") = lookupMs.size
    if (scanMs.nonEmpty) r.context("repo_scan_ms_p50") = Stats.median(scanMs.toSeq)
    if (followS.nonEmpty && mvS.nonEmpty)
      r.context("replicate_s") = Stats.median(followS.toSeq) + Stats.median(mvS.toSeq)
    traceOverhead(r, ran, walls.toSeq)

    if (r.trace) {
      tableShape(r, table)
      // files the executed scans read, from each operation's own plan
      if (lookupFiles.nonEmpty) r.layer("lookup.files_read") = lookupFiles.sum.toDouble / lookupFiles.size
      if (scanFiles.nonEmpty) r.layer("scan.files_read") = scanFiles.sum.toDouble / scanFiles.size
      val spans = r.t.spans.filter(_.traced)
      val jobs = r.t.jobs.spans
      def within(name: String) = {
        val ss = spans.filter(_.name == name)
        (ss.size, jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end)))
      }
      val (nLook, lookJobs) = within("lake.lookup")
      val (nScan, scanJobs) = within("lake.readWhereRepo")
      r.layer("lookup.jobs") = if (nLook == 0) 0.0 else lookJobs.size.toDouble / nLook
      val readJobs = (lookJobs ++ scanJobs).filter(_.layer == "lake.read")
      r.layer("read.job_ms_per_op") =
        if (nLook + nScan == 0) 0.0 else Stats.unionMs(readJobs.map(_.interval)).toDouble / (nLook + nScan)
      val tr = ran.filter(_._2).map(_._1).toSet
      def tracedMedian(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      r.layer("cdf.follow_s") = tracedMedian(spans.filter(_.name == "cdf.followInto")
        .map(s => (s.end - s.start) / 1000.0))
      r.layer("mv.refresh_s") = tracedMedian(spans.filter(_.name == "mv.maintainInto")
        .map(s => (s.end - s.start) / 1000.0))
      r.layer("cdf.rows") = mirrorRows
      // partitions the mirror's change-feed scans ran: one per bucket diffed
      r.layer("cdf.buckets_diffed") = bucketsDiffed
      r.context("traced_rounds") = tr.size
    }
  }

  // --- catalog_sf --------------------------------------------------------

  def catalog(r: Run): Unit = {
    val dir = s"${r.work}/catalog"
    def runQuery(q: String): Unit =
      graft.SparkEntry.queries(q)(r.spark, dir).write.format("noop").mode("overwrite").save()
    val (_, setupS) = setup(r, "tables") {
      Fs.fresh(dir)
      r.t.span("catalog.gen", "bench")(CatalogData.write(r.spark, r.seed, Sizes.catalog, dir))
    }
    r.e2e("setup_s") = setupS
    // warm-up pass, so the timed passes run compiled code; it writes each
    // query's output for the oracle comparison made after the run
    val out = Fs.fresh(s"${r.work}/catalog_out")
    val broken = r.t.span("catalog.warmup", "bench") {
      headline.filter { q =>
        try {
          graft.SparkEntry.queries(q)(r.spark, dir).write.mode("overwrite").parquet(s"$out/$q")
          false
        } catch { case e: Throwable => r.problems += s"catalog output $q threw $e"; true }
      }
    }
    val perQuery = mutable.LinkedHashMap(headline.map(_ -> ArrayBuffer.empty[Double]): _*)
    val walls = ArrayBuffer.empty[Double]
    val ran = rounds(r, roundCount(r, "catalog_sf")) { (_, _) =>
      var wall = 0.0
      headline.foreach { q =>
        r.op(s"ops.$q", "ops")(runQuery(q)).foreach { case (_, ms) =>
          perQuery(q) += ms; wall += ms
        }
      }
      walls += wall / 1000
    }
    val all = perQuery.values.flatten.toSeq
    val medians = perQuery.values.filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).toSeq
    // the typical query: a median over the mix of queries would sit on
    // whichever query happens to rank in the middle, and jump with it
    if (medians.size == headline.size) r.e2e("op_ms") = Stats.geomean(medians)
    if (all.nonEmpty) {
      r.e2e("op_ms_p50") = Stats.median(all)
      r.e2e("op_ms_p90") = Stats.pct(all, 90)
    }
    if (walls.nonEmpty) r.e2e("round_s") = Stats.median(walls.toSeq)
    r.context("op") = "catalog query"
    r.context("op_samples") = all.size
    r.context("query_ms_p50") = perQuery.collect { case (q, xs) if xs.nonEmpty => q -> Stats.median(xs.toSeq) }
    traceOverhead(r, ran, walls.toSeq)
    if (r.trace) {
      val spans = r.t.spans.filter(s => s.traced && s.name.startsWith("ops."))
      val jobs = r.t.jobs.spans
      headline.foreach { q =>
        val ss = spans.filter(_.name == s"ops.$q")
        if (ss.nonEmpty) {
          r.layer(s"q.${q}_s") = Stats.median(ss.map(s => (s.end - s.start) / 1000.0))
          r.layer(s"q.$q.shuffle_mb") = jobs.filter(j => ss.exists(s => j.start >= s.start && j.start <= s.end))
            .map(_.shuffleWrite).sum / 1e6 / ss.size
        }
      }
    }
    // a query without a checkable output fails every timed execution
    broken.foreach(q => r.fail(s"catalog query $q has no output to check", perQuery(q).size))
    val oracle = headline.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.write(oracle))
    r.context("catalog_tables") = dir
    r.context("catalog_outputs") = out
    r.context("catalog_passes") = walls.size
  }

  /** Tracing overhead of a traced run: the traced round's time against
    * the untraced rounds after the warm-up round.
    */
  def traceOverhead(r: Run, ran: Seq[(Int, Boolean)], walls: Seq[Double]): Unit =
    if (r.trace && walls.size == ran.size) {
      val (on, off) = ran.zip(walls).filter(_._1._1 > 0).partition(_._1._2)
      if (on.nonEmpty && off.nonEmpty)
        r.layer("trace.overhead_pct") =
          (Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1.0) * 100.0
    }
}
