package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-v2-STYLE snapshot table, self-implemented (no Iceberg jar ships in
  * this environment): immutable Parquet data files + JSON snapshot metadata +
  * an atomically-replaced HEAD pointer.
  *
  * Layout:
  * {{{
  *   <root>/meta/HEAD              # one line: "v<N>.json" (atomic rename)
  *   <root>/meta/v<N>.json         # snapshot: manifest + summary + fence
  *   <root>/data/snap-<N>/_b=<B>/  # data files written by snapshot N
  * }}}
  *
  * Key properties (north_rule):
  *  - '''copy-on-write MERGE''': a batch only rewrites the key-hash buckets
  *    it touches; untouched files are carried by reference into the next
  *    manifest. Buckets hash (repo, path) so a hot repo's writes spread
  *    across buckets (write-side skew handling, SURVEY §7.4.2).
  *  - '''seq guard''': a matched row is replaced only when `src.seq >
  *    tgt.seq` — stale replays lose (reference analog: skip-if-exists,
  *    PantherETLPipeline.java:139-141).
  *  - '''exactly-once fence''': each snapshot records the micro-batch id;
  *    `merge` with `batchId <= lastBatchId` is a no-op (reference analog:
  *    `last_processed` offset resume, PaintServerWrapper.java:102-111).
  *  - '''atomic commit''': snapshot JSON is written to a temp name and the
  *    HEAD pointer is replaced with ATOMIC_MOVE; a crash between data write
  *    and HEAD flip leaves orphan files that no manifest references.
  *  - '''schema evolution''': the snapshot records the writer schema-id
  *    list; readers always use the latest registry schema (field-id mapped
  *    upstream by [[graft.cdc.Normalize]]).
  *
  * A production deployment would swap java.nio for the Hadoop FileSystem
  * API + a locking catalog (HMS/REST) for multi-writer commits; the commit
  * protocol (manifest immutability + pointer swap + fence) is unchanged.
  */
final class LakeTable(val root: String, val numBuckets: Int = 32,
                      createMode: String = LakeTable.Cow) {
  import LakeTable._

  private val metaDir: Path = Paths.get(root, "meta")
  private val headFile: Path = metaDir.resolve("HEAD")

  /** Table schema (latest reader epoch + the seq column for the MERGE guard). */
  val schema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = true),
    StructField("language", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("size_bytes", LongType, nullable = true),
    StructField("seq", LongType, nullable = false),
    // Tombstone marker: deletes are PERSISTED (with their seq), not dropped.
    // Required for correctness when micro-batches arrive out of seq order
    // (the file source orders by mod-time): a delete for a key not yet in
    // the table must still outrank a lower-seq upsert in a later batch.
    // Tombstones are GC'd by compact().
    StructField("deleted", BooleanType, nullable = false)
  ))
  private val payloadCols = Seq("commit", "language", "content", "size_bytes", "seq")

  def bucketExpr: Column = pmod(hash(col("repo"), col("path")), lit(numBuckets))

  /** Test seam: invoked once immediately before a commit attempt's CAS —
    * lets tests interleave a competing writer deterministically. One-shot:
    * cleared before it runs, so rebase retries don't re-fire it.
    */
  @volatile private[graft] var preCommitHook: () => Unit = () => ()
  private def firePreCommitHook(): Unit = {
    val h = preCommitHook
    preCommitHook = () => ()
    h()
  }

  /** Jittered exponential backoff before commit retry number `attempt`
    * (1-based, counted across recomputes). Without it, N writers that lose
    * a CAS all recompute in lockstep and can convoy one loser out of even
    * 50 retries (observed in ConcurrencyStress); Iceberg's commit path
    * backs off the same way.
    */
  private def commitBackoff(attempt: Int): Unit = {
    val cap = math.min(1600L, 25L << math.min(attempt, 6))
    Thread.sleep(java.util.concurrent.ThreadLocalRandom.current.nextLong(cap / 2, cap + 1))
  }

  /** The manifest a snapshot references for `bucket` (None = empty bucket). */
  private def refOf(s: Snapshot, bucket: Int): Option[ManifestRef] =
    s.manifests.find(_.bucket == bucket)

  // --- snapshot persistence ---------------------------------------------

  def init(): Unit = {
    Files.createDirectories(metaDir)
    Files.createDirectories(Paths.get(root, "data"))
    // table-level sidecar: bucket count is physical layout, so later
    // openers (e.g. the SQL MERGE surface, which only has the root path)
    // must read it rather than guess
    val tableMeta = metaDir.resolve("table.json")
    if (!Files.exists(tableMeta))
      Files.writeString(tableMeta, s"""{"numBuckets": $numBuckets}""")
    if (!Files.exists(headFile))
      commitSnapshot(Snapshot(0, parent = -1, lastBatchId = -1L,
        schemaIds = Seq(graft.model.SchemaRegistry.latest.schemaId),
        manifests = Nil, summary = Map("created" -> "true"), mode = createMode),
        expectedParent = -1)
  }

  /** Table apply mode, pinned at creation and carried by every snapshot:
    * [[LakeTable.Cow]] (copy-on-write: each batch rewrites touched buckets,
    * reads are plain scans) or [[LakeTable.Mor]] (merge-on-read: each batch
    * APPENDS its rows + tombstones — O(batch) writes regardless of table
    * size — and reads resolve last-writer-wins per key; compact() folds).
    * COW favors read-heavy / infrequent batches; MOR favors sustained
    * high-frequency ingest on a huge table (the 10^10-event tail shape).
    */
  def tableMode: String = head().mode

  def head(): Snapshot = snapshotAt(headVersion())

  /** head() + bucket-modulus guard: every path that HASHES a key (merge
    * write planning, point-lookup pruning) must agree with the modulus the
    * head snapshot's files were written under — a stale handle held across
    * a [[rebucket]] would otherwise silently mis-bucket every key (wrong
    * pruning on reads, wrong touched-set on writes). Legacy snapshots
    * (numBuckets unrecorded) skip the check.
    */
  private def checkedHead(): Snapshot = {
    val h = head()
    if (h.numBuckets > 0 && h.numBuckets != numBuckets)
      throw new IllegalStateException(
        s"stale table handle: this instance hashes keys mod $numBuckets but " +
          s"snapshot v${h.version} was written mod ${h.numBuckets} (rebucket ran) " +
          "— re-open the table with LakeTable.open(root)")
    h
  }

  /** Newest snapshot committed at or before `tsMillis` (TIMESTAMP AS OF).
    * Legacy snapshots without a recorded commit time never match. Stamp
    * histories with regressions (written by pre-clamp binaries under clock
    * skew) are MONOTONIZED before resolving — effective stamp = running
    * max in version order, the same presentation rule Delta applies — so
    * the answer is always the newest version whose effective stamp
    * qualifies, and `versionAt(now)` is always head.
    *
    * Commit timestamps are monotone non-decreasing across versions (clamped
    * at [[commitSnapshot]]), so this is a BINARY SEARCH for the rightmost
    * eligible version — O(log n) snapshot-JSON reads on a table with many
    * retained snapshots, not one per version (and cached reads cost
    * nothing). Legacy unstamped snapshots (ts = -1) predate the field and
    * sort before every stamped one; landing on one means no stamped
    * snapshot qualifies.
    */
  def versionAt(tsMillis: Long): Int = {
    val vs = versions()
    def tsOf(v: Int): Long =
      Option(commitTsCache.get(v)).map(_.longValue)
        .getOrElse(snapshotAt(v).committedAtMs)
    // Exact scan — correct under ANY stamp history, including snapshots
    // written before the monotone clamp by writers with regressed clocks.
    // Rule: stamps are MONOTONIZED first (effective stamp = running max in
    // version order — commit ORDER is version order, serialized by the
    // HEAD CAS; the same rule Delta applies when presenting regressed
    // commit timestamps), then the newest version with effective stamp
    // <= tsMillis wins. Picking the max RAW stamp instead would make
    // `versionAt(now)` silently skip every commit stamped behind a clock
    // regression — time travel to "now" must always resolve to head. On a
    // monotone history effective == raw, so this is exactly the binary
    // search's rightmost-eligible rule and the two paths cannot disagree.
    def linear(): Int = {
      var eff = -1L
      var ans = -1
      vs.foreach { v =>
        val ts = tsOf(v)
        if (ts >= 0) {
          eff = math.max(eff, ts)
          if (eff <= tsMillis) ans = v
        }
      }
      if (ans < 0)
        throw new IllegalArgumentException(
          s"no snapshot committed at or before ${java.time.Instant.ofEpochMilli(tsMillis)} " +
            s"(oldest retained: v${vs.headOption.getOrElse(-1)})")
      ans
    }
    // Small retained histories (the expireSnapshots steady state) always
    // take the exact scan; big histories take the O(log n) binary search —
    // but ONLY when monotonicity is PROVEN, not assumed-from-markers: a
    // mixed-version writer fleet can interleave a pre-clamp binary (which
    // may regress stamps under clock skew) BETWEEN clamped commits, so a
    // marker on the oldest snapshot proves nothing about later ones. The
    // gate verifies the retained stamp sequence directly — an optional
    // legacy (unstamped) prefix followed by non-decreasing stamps — once
    // per handle suffix: O(n) cached snapshot reads the first time, O(new
    // versions) as the head advances, and the search itself then runs over
    // cache hits. Any inversion, or a legacy stamp AFTER a stamped one,
    // permanently downgrades this handle to the exact scan. A search miss
    // (every probed stamp legacy/over) also falls back to the scan.
    if (vs.length <= 64) return linear()
    if (tsMonoHolds && vs.last > tsMonoVerifiedThrough) {
      var prev = -1L
      var ok = true
      vs.foreach { v =>
        val ts = tsOf(v)
        if (ts < 0) { if (prev >= 0) ok = false }
        else { if (ts < prev) ok = false; prev = ts }
      }
      tsMonoHolds = ok
      tsMonoVerifiedThrough = vs.last
    }
    if (!tsMonoHolds) return linear()
    var lo = 0; var hi = vs.length - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val ts = tsOf(vs(mid))
      // ts < 0 (legacy) sorts below every stamped value → eligible-by-order
      if (ts <= tsMillis) { ans = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (ans < 0 || tsOf(vs(ans)) < 0) linear()
    // same-millisecond ties resolve to the NEWEST version by construction:
    // the rightmost eligible index IS the max version with ts <= tsMillis
    else vs(ans)
  }

  /** HEAD version WITHOUT reading the snapshot JSON — the pointer file's
    * one line is `v<N>.json`, so a follower's poll tick (has the table
    * moved?) costs exactly ONE small file read. [[CdfMicroBatchStream]]
    * polls this; it reads the snapshot bodies only when planning a batch.
    */
  def headVersion(): Int = {
    val v = Files.readString(headFile).trim.stripPrefix("v").stripSuffix(".json").toInt
    if (v > committedThrough) committedThrough = v
    v
  }

  /** Snapshot-JSON reads performed by this handle (test seam: IO-count
    * assertions for the versionAt binary search / headVersion fast path).
    */
  private[graft] val snapshotReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Commit wall-clock per version — snapshots are immutable, so the cache
    * is always valid; populated by every snapshot read and by commits.
    */
  private val commitTsCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()

  /** Snapshot BODIES by version — immutable once committed, so a hit never
    * goes stale. Admission is gated on `committedThrough` (the highest
    * HEAD this handle has observed): a stray v<N>.json BEYOND head can
    * still be overwritten when the next commit reclaims it, so only
    * known-committed versions are cached. This closes the repeated
    * metadata-IO hole on the CDF path — a rows-limited stream's admission
    * walk and every batch plan re-read and re-parsed the same immutable
    * summaries from storage each tick otherwise. [[expireSnapshots]]
    * evicts what it deletes; independently, [[snapshotAt]] caps the cache
    * at [[LakeTable.SnapshotCacheMax]] entries (oldest evicted) so a
    * long-lived reader handle stays bounded even when retention runs in a
    * DIFFERENT process whose eviction cannot reach this JVM.
    */
  private val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Snapshot]()
  @volatile private var committedThrough: Int = -1

  /** [[versionAt]] binary-search gate: highest version through which the
    * retained stamp sequence has been VERIFIED non-decreasing (a legacy
    * unstamped prefix is allowed), and whether that verification ever
    * failed. Stamps are immutable, so a verified suffix stays verified;
    * only versions past the watermark need checking as the head advances.
    * A failed check is sticky — the handle falls back to the exact linear
    * scan for its lifetime (stamps never change, so it could never pass).
    */
  @volatile private var tsMonoVerifiedThrough: Int = Int.MinValue
  @volatile private var tsMonoHolds: Boolean = true

  private def readSnapshot(p: Path): Snapshot = {
    snapshotReads.incrementAndGet()
    val n = mapper.readTree(Files.readString(p))
    val version = n.get("version").asInt
    // current format: per-bucket manifest refs; legacy format (round-1
    // tables): inline file list → synthesized refs backed by the cache
    val manifests =
      if (n.has("manifests"))
        n.get("manifests").elements.asScala.map { m =>
          ManifestRef(m.get("bucket").asInt, m.get("path").asText,
            m.get("rowCount").asLong, m.get("fileCount").asInt,
            Option(m.get("sizeBytes")).map(_.asLong).getOrElse(0L),
            Option(m.get("sortedFiles")).map(_.asInt).getOrElse(0))
        }.toSeq
      else {
        val inline = n.get("files").elements.asScala.map { f =>
          DataFile(f.get("path").asText, f.get("bucket").asInt, f.get("rowCount").asLong)
        }.toSeq
        inline.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
          val key = s"inline:v$version:b$b"
          manifestCache.put(key, fs)
          ManifestRef(b, key, fs.map(_.rowCount).sum, fs.size)
        }
      }
    val snap = Snapshot(
      version = version,
      parent = n.get("parent").asInt,
      lastBatchId = n.get("lastBatchId").asLong,
      schemaIds = n.get("schemaIds").elements.asScala.map(_.asInt).toSeq,
      manifests = manifests,
      summary = n.get("summary").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap,
      mode = Option(n.get("mode")).map(_.asText).getOrElse(Cow),
      numBuckets = Option(n.get("numBuckets")).map(_.asInt).getOrElse(-1))
    commitTsCache.put(snap.version, snap.committedAtMs)
    snap
  }

  // --- per-bucket manifests ------------------------------------------------
  // A snapshot references ONE manifest per non-empty bucket; a commit
  // writes manifests only for the buckets it touches and carries the rest
  // by reference (Iceberg manifest-list shape) — commit metadata IO is
  // O(touched buckets + buckets), never O(total data files). Manifests are
  // immutable, so reads hit this cache for every untouched bucket.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFile]]()

  private def loadManifest(ref: ManifestRef): Seq[DataFile] = {
    val cached = manifestCache.get(ref.path)
    if (cached != null) cached
    else {
      val n = mapper.readTree(Files.readString(Paths.get(root, ref.path)))
      val fs = n.get("files").elements.asScala.map { f =>
        def opt(k: String) = Option(f.get(k)).map(_.asText)
        DataFile(f.get("path").asText, f.get("bucket").asInt, f.get("rowCount").asLong,
          opt("minRepo"), opt("maxRepo"), opt("minPath"), opt("maxPath"),
          sizeBytes = Option(f.get("sizeBytes")).map(_.asLong).getOrElse(0L),
          sorted = Option(f.get("sorted")).exists(_.asBoolean))
      }.toSeq
      manifestCache.put(ref.path, fs)
      fs
    }
  }

  /** All data files of a snapshot (uncached manifests loaded concurrently). */
  def filesOf(s: Snapshot): Seq[DataFile] = loadAll(s.manifests)

  private def loadAll(refs: Seq[ManifestRef]): Seq[DataFile] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(refs.map(r => Future(loadManifest(r)))), Duration.Inf).flatten
  }

  /** Data files of ONE bucket — a point lookup reads a single manifest. */
  def filesOf(s: Snapshot, bucket: Int): Seq[DataFile] =
    s.manifests.filter(_.bucket == bucket).flatMap(loadManifest)

  /** Unique write token: data/manifest paths are keyed by it, never by the
    * snapshot version — two concurrent writers (or one writer's rebase
    * retries) must not collide on disk. Losers' blobs become orphans that
    * no committed manifest references.
    */
  /** Write-token for snapshot data/manifest names: an epoch prefix, a
    * zero-padded per-JVM-monotone millisecond stamp, then a random suffix.
    * Byte-order of two tokens from the SAME writer therefore follows write
    * order, which upgrades the equal-seq tie-break (byte-wise greatest
    * data-file path wins, [[resolve]]) from merely-deterministic to
    * LATEST-WRITE-WINS on any sequentially-written table — what lets a
    * replication sink apply a primary's seq-unchanged payload mutation to
    * a MOR mirror as a plain append ([[graft.stream.Tailer.applyChanges]]).
    *
    * The `z` epoch prefix keeps that invariant across BINARY upgrades:
    * tables written by earlier builds carry 8-random-hex tokens
    * (`[0-9a-f]{8}`, ~15/16 of which sort ABOVE a bare zero-padded stamp)
    * — without the prefix, an equal-seq append onto such a file would
    * silently LOSE the path tie-break and the stale payload would keep
    * winning at read time. `z` sorts above every hex char, so every
    * post-upgrade write outranks every pre-upgrade file, which is the
    * correct LWW order (the new write IS later). Cross-writer clock skew
    * can still invert order for CONCURRENT equal-seq dupes of the same
    * key — already a documented ingest anomaly; the break stays
    * deterministic there.
    */
  private def newToken(): String = {
    val ts = LakeTable.tokenClock.updateAndGet(
      prev => math.max(prev + 1, System.currentTimeMillis))
    f"z$ts%013d-${java.util.UUID.randomUUID.toString.substring(0, 8)}"
  }

  /** Write one manifest per bucket present in `files`; returns their refs. */
  private def writeManifests(tag: String, files: Seq[DataFile]): Seq[ManifestRef] = {
    Files.createDirectories(metaDir.resolve("manifests"))
    files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
      val rel = s"meta/manifests/m-$tag-b$b.json"
      val node = mapper.createObjectNode()
      val arr = node.putArray("files")
      fs.foreach { f =>
        val fn = arr.addObject()
        fn.put("path", f.path); fn.put("bucket", f.bucket); fn.put("rowCount", f.rowCount)
        f.minRepo.foreach(fn.put("minRepo", _)); f.maxRepo.foreach(fn.put("maxRepo", _))
        f.minPath.foreach(fn.put("minPath", _)); f.maxPath.foreach(fn.put("maxPath", _))
        if (f.sizeBytes > 0) fn.put("sizeBytes", f.sizeBytes)
        if (f.sorted) fn.put("sorted", true)
      }
      Files.writeString(Paths.get(root, rel), mapper.writeValueAsString(node))
      manifestCache.put(rel, fs)
      ManifestRef(b, rel, fs.map(_.rowCount).sum, fs.size, fs.map(_.sizeBytes).sum,
        fs.count(_.sorted))
    }
  }

  /** Write v<N>.json then atomically flip HEAD. Single-writer CAS, checked
    * BEFORE any file is written (a racing writer must not overwrite a
    * committed snapshot before its own require() fails), and the snapshot
    * file itself is create-new: losing a rename race surfaces as
    * FileAlreadyExistsException instead of silent state corruption.
    */
  private def commitSnapshot(s0: Snapshot, expectedParent: Int): Unit = {
    if (expectedParent >= 0) {
      val cur = Files.readString(headFile).trim
      if (cur != s"v$expectedParent.json")
        throw new ConcurrentCommitException(
          s"concurrent commit detected: HEAD=$cur expected v$expectedParent.json")
    }
    // a legacy snapshot's synthesized inline refs live only in THIS
    // instance's cache — materialize them to real manifest files before
    // they are carried into a new snapshot other processes must read
    val s = s0.copy(manifests = s0.manifests.map { r =>
      if (r.path.startsWith("inline:")) writeManifests(newToken(), loadManifest(r)).head
      else r
    })
    val node = mapper.createObjectNode()
    node.put("version", s.version)
    node.put("parent", s.parent)
    node.put("lastBatchId", s.lastBatchId)
    node.put("mode", s.mode)
    node.put("numBuckets", if (s.numBuckets > 0) s.numBuckets else numBuckets)
    val sids = node.putArray("schemaIds"); s.schemaIds.foreach(sids.add)
    val arr = node.putArray("manifests")
    s.manifests.foreach { m =>
      val mn = arr.addObject()
      mn.put("bucket", m.bucket); mn.put("path", m.path)
      mn.put("rowCount", m.rowCount); mn.put("fileCount", m.fileCount)
      if (m.sizeBytes > 0) mn.put("sizeBytes", m.sizeBytes)
      if (m.sortedFiles > 0) mn.put("sortedFiles", m.sortedFiles)
    }
    val sum = node.putObject("summary")
    s.summary.foreach { case (k, v) => sum.put(k, v) }
    var stampedTs = -1L // cached only AFTER the CAS wins (a loser's stamp
                        // must never shadow the winner's committed value)
    if (!s.summary.contains("committedAtMs")) {
      // clamp monotone across the snapshot chain (Delta/Iceberg do the
      // same): with clock regression between writers, an unclamped stamp
      // would let TIMESTAMP AS OF resolve to an older version than a newer
      // eligible one — and the versionAt binary search relies on
      // non-decreasing commit times
      val parentTs =
        if (s.parent < 0) -1L
        else Option(commitTsCache.get(s.parent)).map(_.longValue).getOrElse {
          val pp = metaDir.resolve(s"v${s.parent}.json")
          if (Files.exists(pp)) readSnapshot(pp).committedAtMs else -1L
        }
      val ts = math.max(System.currentTimeMillis, parentTs + 1)
      sum.put("committedAtMs", ts.toString)
      // marker: this stamp was written under the monotone clamp. versionAt
      // binary-searches only when the OLDEST retained snapshot carries it
      // (⇒ the whole retained suffix is clamped ⇒ stamps are non-decreasing)
      sum.put("tsClamped", "1")
      stampedTs = ts
    }
    val snapPath = metaDir.resolve(s"v${s.version}.json")
    // tmp names are TOKENED: two same-version racers must never share a
    // temp path, or the winner could move the loser's content into place
    val tok = newToken()
    val tmp = metaDir.resolve(s".v${s.version}.json.$tok.tmp")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter.writeValueAsString(node))
    // createLink, NOT Files.move-without-REPLACE: this CREATE is the
    // version-number arbitration, so it must be atomic-EXCLUSIVE. JDK's
    // move without REPLACE_EXISTING is check-then-rename (TOCTOU): two
    // same-version racers in the window both pass the existence check and
    // rename(2) silently clobbers — both "commit", both flip HEAD, and the
    // first writer's batch is silently LOST (caught by ConcurrencyStress:
    // 47 of 48 writer merges on the committed chain, zero errors).
    // link(2) fails EEXIST in the kernel — exactly one racer wins, and the
    // fully-written tmp keeps the appear-complete-or-not-at-all property.
    def moveIntoPlace(retryStray: Boolean): Unit =
      try { Files.createLink(snapPath, tmp); Files.deleteIfExists(tmp) }
      catch { case e: java.nio.file.FileAlreadyExistsException =>
        // an existing vN.json while HEAD still points at the parent is
        // either an IN-FLIGHT racer (young file — back off, CAS decides)
        // or the debris of a writer that died between create and HEAD
        // flip (old file — reclaim it, or the table wedges forever)
        val strayAge = System.currentTimeMillis -
          Files.getLastModifiedTime(snapPath).toMillis
        val headUnmoved = Files.readString(headFile).trim == s"v$expectedParent.json"
        if (retryStray && headUnmoved && strayAge > StrayCommitGraceMs) {
          Files.deleteIfExists(snapPath)
          moveIntoPlace(retryStray = false)
        } else {
          Files.deleteIfExists(tmp)
          throw new ConcurrentCommitException(
            s"concurrent commit detected: v${s.version}.json already exists")
        }
      }
    moveIntoPlace(retryStray = expectedParent >= 0)
    val headTmp = metaDir.resolve(s".HEAD.$tok.tmp")
    Files.writeString(headTmp, s"v${s.version}.json")
    Files.move(headTmp, headFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    if (stampedTs >= 0) commitTsCache.put(s.version, stampedTs)
    // the CAS won: this version is committed. Only the watermark advances —
    // the body is cached lazily from disk on first read, so the cache can
    // never diverge from what other handles parse out of the file.
    if (s.version > committedThrough) committedThrough = s.version
  }

  // --- reads --------------------------------------------------------------

  /** Full-table read of LIVE rows: MOR tables resolve LWW per key first;
    * tombstones filtered either way.
    */
  def read(spark: SparkSession): DataFrame = {
    val h = head()
    liveRows(readFiles(spark, filesOf(h)), h.mode)
  }

  private def liveRows(physical: DataFrame, mode: String): DataFrame = {
    val base = if (mode == Mor) resolve(physical) else physical
    base.filter(!col("deleted")).drop("deleted")
  }

  /** Read-time LWW resolution for MOR manifests (duplicate keys across
    * files; highest seq wins — same hash-agg shape as the ingest dedupe).
    * Equal-seq ties (a reused seq written twice — possible only ACROSS
    * files, [[requireUniqueKeys]] forbids it within one) break by DATA
    * FILE PATH, byte-wise greatest wins: deterministic under any read
    * order, and the SAME rule [[graft.stream.CdfPartitionReader]] applies
    * (later file in sorted order wins), so the Dataset read and the DSv2
    * feed can never silently diverge on a duplicate (key, seq).
    */
  private def resolve(df: DataFrame): DataFrame = {
    val payload = Seq("commit", "language", "content", "size_bytes", "seq", "deleted")
    // input_file_name is Nondeterministic → must be materialized by a
    // projection before it can feed an aggregate argument
    df.withColumn("_file", input_file_name())
      .groupBy(col("repo"), col("path"))
      .agg(graft.cdc.LwwAgg.lww(struct(payload.map(col): _*), col("seq"),
        col("_file")).as("_w"))
      .select(Seq(col("repo"), col("path")) ++ payload.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Typed live-rows read (input_hint: typed Dataset where type safety
    * helps) — the latest reader schema as [[graft.model.Model.RepoRecord]].
    */
  def readTyped(spark: SparkSession): org.apache.spark.sql.Dataset[graft.model.Model.RepoRecord] =
    read(spark).as(org.apache.spark.sql.Encoders.product[graft.model.Model.RepoRecord])

  /** Physical read including delete tombstones (internal/compaction use). */
  def readWithTombstones(spark: SparkSession): DataFrame =
    readFiles(spark, filesOf(head()))

  /** Time travel: read LIVE rows as of snapshot `version` (snapshots are
    * immutable; the manifest pins the exact file set).
    */
  def readAt(spark: SparkSession, version: Int): DataFrame = {
    val committed = headVersion()
    // a crashed writer's stray v<N>.json beyond HEAD was never committed —
    // time travel must not surface state whose batch fence never advanced
    require(version <= committed,
      s"readAt: snapshot v$version is not committed (head: v$committed)")
    val snap = snapshotAt(version)
    liveRows(readFiles(spark, filesOf(snap)), snap.mode)
  }

  /** Change-data-feed: one row per key whose LIVE state differs between
    * snapshot `fromVersion` and snapshot `toVersion`, with `op` ∈ I/U/D —
    * I/U rows carry the after-image, D rows the before-image (so a
    * downstream consumer can retract). The incremental-read primitive for
    * derived pipelines: re-process only what changed, never the table.
    *
    * `updatePreimages = true` replaces each U row with a retraction PAIR
    * (the Flink-CDC -U/+U convention, Delta's update_preimage/postimage):
    * `U-` carrying the before-image then `U+` the after-image. That is
    * what makes DOWNSTREAM AGGREGATES incrementally maintainable — an
    * update that moves a row between groups (e.g. language changes)
    * retracts from the old group via `U-` and applies to the new via
    * `U+`; after-image-only feeds cannot restate the old group. Keyed
    * mirror consumers don't need it (LWW by key replaces whole rows),
    * hence opt-in, default off.
    *
    * IO is proportional to CHANGED buckets, not table size: a bucket whose
    * manifest reference is identical in both snapshots cannot differ
    * (manifests are immutable), so only differing buckets are read and
    * diffed — a full-outer equi-join on key. A row is an update when ANY
    * payload column differs (null-safe), not just `seq`: a SQL MERGE
    * UPDATE clause may mutate payload while leaving seq unassigned, and
    * those rows must still reach the feed. Compaction rewrites manifests
    * without changing live state; those buckets are re-read but diff to
    * zero rows, never false changes. Cost at scale: 2 scans of the touched
    * buckets + one key-partitioned shuffle (AQE handles skew).
    */
  def changesBetween(spark: SparkSession, fromVersion: Int, toVersion: Int,
                     updatePreimages: Boolean = false): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween: fromVersion $fromVersion must be < toVersion $toVersion")
    val committed = headVersion()
    Seq(fromVersion, toVersion).foreach { v =>
      // v > HEAD: a crashed writer's stray v<N>.json may EXIST without ever
      // having committed — reading it would emit phantom changes
      if (v > committed)
        throw new IllegalStateException(
          s"changesBetween: snapshot v$v is not committed (head: v$committed)")
      if (!Files.exists(metaDir.resolve(s"v$v.json")))
        throw new IllegalStateException(
          s"changesBetween: snapshot v$v has been expired (oldest retained: " +
            s"v${versions().headOption.getOrElse(-1)}) — incremental history is gone; " +
            "bootstrap the consumer with a full read() and seed its cursor at head")
    }
    val sFrom = snapshotAt(fromVersion)
    val sTo = snapshotAt(toVersion)
    val refsFrom = sFrom.manifests.map(r => r.bucket -> r).toMap
    val refsTo = sTo.manifests.map(r => r.bucket -> r).toMap
    val changed = (refsFrom.keySet ++ refsTo.keySet).toSeq.sorted
      .filter(b => refsFrom.get(b) != refsTo.get(b))
    val before = liveRows(readFiles(spark, changed.flatMap(filesOf(sFrom, _))), sFrom.mode)
    val after = liveRows(readFiles(spark, changed.flatMap(filesOf(sTo, _))), sTo.mode)
    val beforeRenamed = payloadCols.foldLeft(before)(
      (d, c) => d.withColumnRenamed(c, s"_b_$c"))
    val payloadDiffers = payloadCols
      .map(c => !(col(c) <=> col(s"_b_$c")))
      .reduce(_ || _)
    val joined = after.join(beforeRenamed, Seq("repo", "path"), "full_outer")
      .withColumn("op",
        when(col("_b_seq").isNull, lit("I"))
          .when(col("seq").isNull, lit("D"))
          .when(payloadDiffers, lit("U")))
      .filter(col("op").isNotNull)
    if (!updatePreimages)
      joined.select(Seq(col("op"), col("repo"), col("path")) ++
        payloadCols.map(c =>
          when(col("op") === "D", col(s"_b_$c")).otherwise(col(c)).as(c)): _*)
    else {
      // one output row per IMAGE: U explodes to [U- before, U+ after] in a
      // single pass over the join — no self-union that would re-run the
      // diff subtree twice
      def img(op: Column, of: String => Column) =
        struct(Seq(op.as("op")) ++ payloadCols.map(c => of(c).as(c)): _*)
      val afterImg =
        img(when(col("op") === "U", lit("U+")).otherwise(col("op")), col)
      joined.select(col("repo"), col("path"),
          explode(
            when(col("op") === "U",
              array(img(lit("U-"), c => col(s"_b_$c")), afterImg))
            .when(col("op") === "D",
              array(img(lit("D"), c => col(s"_b_$c"))))
            .otherwise(array(afterImg))).as("_img"))
        .select(Seq(col("_img.op").as("op"), col("repo"), col("path")) ++
          payloadCols.map(c => col(s"_img.$c").as(c)): _*)
    }
  }

  /** Drain new changes since the durable cursor: if the head has advanced
    * past the cursor's last-processed version, returns (fromV, toV, feed)
    * and a `commit()` that atomically advances the cursor — the consumer
    * calls it AFTER its own output is durable, giving at-least-once
    * delivery with exactly-once effect when the downstream apply is
    * idempotent (which [[changesBetween]]'s keyed I/U/D rows make trivial:
    * upserts/deletes by key re-apply harmlessly). A missing cursor file
    * starts from version 0 (full history as one feed). Crash between
    * callback and commit ⇒ the same window is re-delivered, never skipped.
    * A FRESH consumer (no cursor file) bootstraps even after
    * expireSnapshots erased v0: its window needs no history — v0 is the
    * empty initial snapshot, so the bootstrap feed is exactly the live
    * state at head as I rows, emitted directly. A NON-fresh cursor that
    * predates the oldest retained snapshot fails with bootstrap guidance
    * ([[changesBetween]]) rather than silently skipping history.
    */
  def drainChanges(spark: SparkSession, cursorFile: Path,
                   updatePreimages: Boolean = false): Option[ChangeWindow] = {
    val from =
      if (!Files.exists(cursorFile)) 0
      else Files.readString(cursorFile).trim.toIntOption.getOrElse(
        throw new IllegalStateException(
          s"cursor file $cursorFile is corrupt (expected a snapshot version " +
            "integer) — delete it to re-consume from v0, or re-seed it with " +
            "the last version the consumer durably applied"))
    // fast poll: an unchanged table costs one HEAD-pointer read, no
    // snapshot-JSON IO (same contract as the streaming source's tick)
    val to = headVersion()
    if (to <= from) None
    else if (from == 0 && !Files.exists(metaDir.resolve("v0.json"))) {
      // fresh consumer, but v0 was expired: the bootstrap window needs no
      // history — v0 is the empty initial snapshot, so changesBetween(0,
      // to) is BY CONSTRUCTION the live state at v<to> as I rows (the
      // before side is empty). Emit exactly that, read AT v<to> (not
      // head(), which a racing commit could advance past the cursor).
      val sTo = snapshotAt(to)
      val live = liveRows(readFiles(spark, filesOf(sTo)), sTo.mode)
      Some(ChangeWindow(0, to,
        live.select(Seq(lit("I").as("op"), col("repo"), col("path")) ++
          payloadCols.map(col): _*),
        () => LakeTable.writeCursor(cursorFile, to)))
    }
    else Some(ChangeWindow(from, to,
      changesBetween(spark, from, to, updatePreimages),
      () => LakeTable.writeCursor(cursorFile, to)))
  }

  /** Snapshot metadata of a RETAINED version (history/metadata surface —
    * the snapshot JSON only, no data IO).
    */
  def snapshotAt(version: Int): Snapshot =
    if (version <= committedThrough) {
      val hit = snapshotCache.get(version)
      if (hit != null) hit
      else {
        val s = readSnapshot(metaDir.resolve(s"v$version.json"))
        snapshotCache.put(version, s)
        // Bound the cache for long-lived READER handles: a 24/7 stream's
        // handle never runs this table's expireSnapshots (a separate
        // maintenance process does — its eviction can't reach this JVM),
        // so retention alone would let a once-a-second committer accrue
        // ~86k cached snapshot bodies per day in the stream driver. Evict
        // the OLDEST versions: every reader access pattern here (CDF
        // admission walk, batch planning, versionAt) skews recent.
        if (snapshotCache.size > LakeTable.SnapshotCacheMax) {
          val keys = snapshotCache.keySet.toArray(Array.empty[Integer])
            .sortBy(_.intValue)
          keys.take(keys.length - LakeTable.SnapshotCacheMax / 2)
            .foreach(snapshotCache.remove)
        }
        s
      }
    } else readSnapshot(metaDir.resolve(s"v$version.json"))

  /** Is `version`'s snapshot JSON still on disk (not expired)? Pure
    * metadata-existence check — the CDF planner uses it to keep its
    * curated expired-checkpoint error now that snapshot bodies are cached
    * (a cached body can outlive retention).
    */
  private[graft] def snapshotRetained(version: Int): Boolean =
    Files.exists(metaDir.resolve(s"v$version.json"))

  /** All COMMITTED snapshot versions (ascending): the v*.json listing
    * capped at HEAD. A writer that died between creating v(head+1).json
    * and the HEAD flip leaves a stray snapshot file that was NEVER
    * committed — time travel, changesBetween, and retention must not see
    * it (the next commit attempt at that version reclaims it; vacuum's
    * age guard protects its pending data files meanwhile).
    */
  def versions(): Seq[Int] = {
    val h = if (Files.exists(headFile)) headVersion() else -1
    scala.util.Using.resource(Files.list(metaDir)) { stream =>
      stream.iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toInt }
        .filter(_ <= h)
        .toSeq.sorted
    }
  }

  private def readFiles(spark: SparkSession, files: Seq[DataFile]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$root/${f.path}"): _*)

  /** Point lookup with bucket pruning + manifest key-bound file skipping:
    * the key's bucket manifest is read, then files whose recorded
    * (repo, path) bounds exclude the key are skipped before any parquet
    * footer is touched — after sort-order compaction with a target file
    * size, that is typically ONE file of the bucket. (Reference analog:
    * per-key doc fetch, PantherLocalWrapper.java:373-383.)
    */
  def lookup(spark: SparkSession, repo: String, path: String): DataFrame = {
    val h = checkedHead() // bucketOf must use the head snapshot's modulus
    val b = bucketOf(repo, path)
    liveRows(
      readFiles(spark, filesOf(h, b).filter(fileMayContain(_, repo, path)))
        .filter(col("repo") === repo && col("path") === path),
      h.mode)
  }

  /** All of one repo's rows. Bucket hashing spreads a repo over ALL
    * buckets — bucket pruning cannot serve "everything in repo X" — but
    * after sort-order compaction each data file covers a narrow repo
    * range, so the manifest key bounds skip most files table-wide.
    * Files without bounds (legacy manifests, fresh merge output) are
    * always read — pruning only ever drops files that provably lack the
    * repo.
    */
  def readWhereRepo(spark: SparkSession, repo: String): DataFrame = {
    val h = head()
    liveRows(
      readFiles(spark, filesForRepo(h, repo))
        .filter(col("repo") === repo),
      h.mode)
  }

  private[graft] def filesForRepo(s: Snapshot, repo: String): Seq[DataFile] =
    filesOf(s).filter(fileMayContainRepo(_, repo))

  /** Directory-listing read: one repo, paths under a prefix (the
    * reference's per-directory scan shape). Prunes by repo bounds AND
    * path bounds compared on the prefix's leading bytes — after sorted
    * compaction a repo's paths are contiguous, so this typically touches
    * one file per matched directory run.
    */
  def readWherePathPrefix(spark: SparkSession, repo: String, prefix: String): DataFrame = {
    val h = head()
    liveRows(
      readFiles(spark, filesOf(h).filter(fileMayContainPathPrefix(_, repo, prefix)))
        .filter(col("repo") === repo && col("path").startsWith(prefix)),
      h.mode)
  }

  /** Driver-side bucket id — must agree with [[bucketExpr]]; uses Catalyst's
    * own Murmur3 so there is one hash definition.
    */
  def bucketOf(repo: String, path: String): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(Murmur3Hash(Seq(Literal(repo), Literal(path)), 42), Literal(numBuckets))
      .eval(InternalRow.empty).asInstanceOf[Int]
  }

  // --- the commit loop -----------------------------------------------------

  /** The one commit loop: every snapshot-changing operation except
    * [[init]] and [[truncate]] commits through it (optimistic, with
    * jittered backoff between attempts).
    *
    * `stage` computes the operation's output against a head — Left when
    * there is nothing to commit, else the [[Pending]] commit.
    * The loop builds the snapshot on the current base, fires the
    * pre-commit hook and attempts the HEAD CAS. A lost CAS spends one of
    * `retries`, backs off, re-reads the head (checked: a concurrent
    * [[rebucket]] changed the key modulus our pending files were bucketed
    * with, so fail loudly with the re-open guidance instead of rebasing
    * them) and acts on the operation's verdict:
    *  - '''rebase''': re-point the carried manifests at the new head and
    *    commit the same pending files, no data recompute;
    *  - '''recompute''': run `stage` again on the new head — one more turn
    *    of this loop, so the backoff sees the true attempt number and
    *    contending writers escalate instead of convoying at 25 ms;
    *  - '''already applied''': the new head carries our batchId (another
    *    writer of the same stream applied it — exactly-once holds).
    * Losers' data/manifest files are unreferenced orphans (tokened paths,
    * no collisions). Exercised under real contention by
    * [[graft.tools.ConcurrencyStress]].
    */
  private def commitLoop[A](first: Snapshot, retries: Int)
                           (stage: Snapshot => Either[A, Pending[A]]): A = {
    var base = first
    var pending = stage(base)
    var lost = 0
    while (true) {
      val p = pending match {
        case Left(done) => return done
        case Right(p) => p
      }
      val snap = p.snapshotOn(base)
      firePreCommitHook()
      try {
        commitSnapshot(snap, expectedParent = base.version)
        return p.result(snap)
      } catch { case e: ConcurrentCommitException =>
        if (lost >= retries) throw e
        lost += 1
        commitBackoff(lost)
        val head = checkedHead()
        p.onLost(base, head) match {
          case AlreadyApplied(done) => return done
          case Rebase => base = head
          case Recompute => base = head; pending = stage(head)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The snapshot after `base` that swaps the manifests of the `replaced`
    * buckets for `refs` and carries every other manifest by reference.
    * `totalRows` joins the summary; the fence carries unless `batchId`
    * advances it.
    */
  private def nextSnapshot(base: Snapshot, replaced: Int => Boolean, refs: Seq[ManifestRef],
                           summary: Map[String, String], batchId: Option[Long] = None,
                           buckets: Int = -1): Snapshot = {
    val manifests = base.manifests.filterNot(r => replaced(r.bucket)) ++ refs
    Snapshot(base.version + 1, base.version, batchId.getOrElse(base.lastBatchId),
      base.schemaIds, manifests,
      summary + ("totalRows" -> manifests.map(_.rowCount).sum.toString),
      mode = base.mode, numBuckets = buckets)
  }

  /** Verdict for a COW rewrite of the `touched` buckets derived from
    * `base`'s rows: '''recompute''' when a winner committed DATA into one of
    * them (our merged rows came from stale target data) or a concurrent
    * vacuum reclaimed our pending files (a rebase would commit dangling
    * references); otherwise '''rebase''' — every interleaved commit either
    * left our buckets alone or was a live-state-preserving compaction.
    */
  private def rewriteVerdict(touched: Set[Int], newRefs: Seq[ManifestRef])
                            (base: Snapshot, head: Snapshot): Verdict[Nothing] =
    if (touched.exists(b => refOf(base, b) != refOf(head, b)) &&
        !onlyCompactions(base.version, head.version) || pendingVanished(newRefs)) Recompute
    else Rebase

  /** True when every commit in (fromV, toV] is a LIVE-STATE-PRESERVING
    * layout rewrite (compaction — never a merge, truncate, or rebucket).
    * Then a CAS loser's computed merge output is still valid even for its
    * touched buckets (it was derived from rows a compaction only
    * re-laid-out), so it may REBASE instead of recomputing — Iceberg's
    * "rewrite commits don't conflict with data commits" rule. Without
    * this, a cadence compactor forces every concurrent writer into a full
    * recompute per tick and can starve them outright (observed in
    * ConcurrencyStress before the fix). Tombstones a compaction GC'd may
    * be re-introduced by the rebased output — sound, they only ever
    * guard against older out-of-order events. A missing (expired)
    * intermediate snapshot falls back to recompute.
    */
  private def onlyCompactions(fromV: Int, toV: Int): Boolean =
    (fromV + 1 to toV).forall { v =>
      snapshotRetained(v) && snapshotAt(v).summary.contains("compaction")
    }

  /** True when any of this writer's PENDING (not yet committed) manifest
    * or data files has disappeared — a concurrent vacuum with a zero/short
    * grace window ran between our data write and the commit CAS.
    */
  private def pendingVanished(refs: Seq[ManifestRef]): Boolean =
    refs.exists { r =>
      !Files.exists(Paths.get(root, r.path)) ||
        loadManifest(r).exists(f => !Files.exists(Paths.get(root, f.path)))
    }

  /** Rows of `h`'s data files in the buckets `buckets` selects. */
  private def readBuckets(spark: SparkSession, h: Snapshot, buckets: Int => Boolean): DataFrame =
    readFiles(spark, loadAll(h.manifests.filter(r => buckets(r.bucket))))

  /** Row count per `_b` bucket id of a bucketed frame (one job). */
  private def bucketCounts(bucketed: DataFrame): Map[Int, Long] =
    bucketed.groupBy("_b").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  // --- MERGE ---------------------------------------------------------------

  /** One drained change window: the feed plus a cursor-advance callback. */
  final case class ChangeWindow(fromVersion: Int, toVersion: Int,
                                feed: DataFrame, commit: () => Unit)

  final case class MergeStats(applied: Boolean, version: Int, srcRows: Long,
                              touchedBuckets: Int, rowsAfter: Long)

  /** Apply one deduped micro-batch (columns: repo, path, op, seq, commit,
    * language, content, size_bytes — one row per key) as an idempotent MERGE:
    * {{{
    *   WHEN MATCHED AND src.seq > tgt.seq AND src.op =  'D' THEN DELETE
    *   WHEN MATCHED AND src.seq > tgt.seq AND src.op <> 'D' THEN UPDATE *
    *   WHEN NOT MATCHED AND src.op <> 'D'                   THEN INSERT *
    *   (stale src.seq <= tgt.seq → target row kept unchanged)
    * }}}
    */
  def merge(spark: SparkSession, batch: DataFrame, batchId: Long): MergeStats =
    merge(spark, batch, batchId, updateColumns = None)

  /** Column-subset MERGE (reference K2: Solr atomic `{"set": value}` partial
    * update, PhylogenesServerWrapper.java:286-295): when `updateColumns` is
    * given, a matched row takes the source's values ONLY for those columns
    * (plus `seq`); all other columns keep the target's values. Not-matched
    * rows insert whatever the source carries. Delete arm unchanged.
    */
  def merge(spark: SparkSession, batch: DataFrame, batchId: Long,
            updateColumns: Option[Seq[String]]): MergeStats =
    merge(spark, batch, batchId, updateColumns, retries = 3)

  /** Cardinality guard: a COW merge with DUPLICATE source keys would emit
    * one output row per (target × duplicate) join pair — silent state
    * corruption. Iceberg raises the same error. One hash-aggregate over
    * the batch (map-side combined, O(batch) ≪ the bucket rewrite); callers
    * whose batches are deduped by construction (the Tailer: LwwAgg groupBy
    * key) skip it via `srcKeyUnique = true`.
    */
  private[lake] def requireUniqueKeys(src: DataFrame, keyRepo: Column, keyPath: Column,
                                      hint: String): Unit = {
    val dup = src.groupBy(keyRepo.as("_r"), keyPath.as("_p")).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"MERGE cardinality violation: ${dup.head.getLong(2)} source rows share key " +
          s"(${dup.head.get(0)}, ${dup.head.get(1)}) — $hint")
  }

  /** The fenced CDC merge, committed through [[commitLoop]]. A lost CAS:
    *  - COW rebases when the winners left our touched buckets alone or only
    *    compacted, else recomputes ([[rewriteVerdict]]);
    *  - MOR appends never derive from target data, so they always rebase
    *    (recombining the touched-bucket manifests against the new head) —
    *    unless a vacuum reclaimed the pending files, which recomputes;
    *  - both stop, not applied, when the new head carries our batchId.
    */
  def merge(spark: SparkSession, batch: DataFrame, batchId: Long,
            updateColumns: Option[Seq[String]], retries: Int,
            srcKeyUnique: Boolean = false,
            acceptEqualSeq: Boolean = false): MergeStats = {
    val h0 = checkedHead()
    def notApplied(h: Snapshot) = MergeStats(applied = false, h.version, 0L, 0, h.totalRows)
    if (batchId <= h0.lastBatchId) return notApplied(h0)
    val mor = h0.mode == Mor
    require(!mor || updateColumns.isEmpty,
      "column-subset merge needs the target row — COW mode only")
    // src is cached only when a second job reads it: a guard, or COW's
    // touched-bucket count ahead of its rewrite. A MOR append of a
    // deduped batch reads it once, in the file write.
    val cached = !mor || !srcKeyUnique
    val src0 = batch.withColumn("_b", bucketExpr)
    val src = if (cached) src0.persist() else src0
    try {
      // guards run on the PERSISTED frame so their job warms the cache the
      // touched-bucket/rewrite jobs reuse (not a second lineage recompute)
      if (!srcKeyUnique) {
        if (mor) requireUniqueKeySeqs(src)
        else requireUniqueKeys(src, col("repo"), col("path"),
          "LWW-dedupe the batch first (e.g. Dedupe.lwwTyped) or pass srcKeyUnique=true " +
            "if deduped by construction")
      }
      def summary(srcRows: Long, touched: Set[Int]) = Map("batchId" -> batchId.toString,
        "srcRows" -> srcRows.toString, "touchedBuckets" -> touched.size.toString)
      def applied(srcRows: Long, touched: Set[Int])(s: Snapshot) =
        MergeStats(applied = true, s.version, srcRows, touched.size, s.totalRows)
      def fenced(v: (Snapshot, Snapshot) => Verdict[Nothing])(base: Snapshot, head: Snapshot) =
        if (batchId <= head.lastBatchId) AlreadyApplied(notApplied(head)) else v(base, head)
      if (mor) commitLoop(h0, retries) { _ =>
        // MOR append: O(batch) writes; touched buckets get a REWRITTEN
        // manifest (old files + appended files) on each base. The files
        // written carry their bucket and footer row count, so they give
        // the touched buckets and the source rows with no job of their own.
        val newFiles = writeSnapshotFiles(appendRows(src), newToken())
        val touched = newFiles.map(_.bucket).toSet
        val srcRows = newFiles.map(_.rowCount).sum
        Right(Pending(base => nextSnapshot(base, touched,
            writeManifests(newToken(), newFiles ++ loadAll(base.manifests.filter(r => touched(r.bucket)))),
            summary(srcRows, touched), Some(batchId)),
          applied(srcRows, touched), fenced((_, _) =>
            if (newFiles.exists(f => !Files.exists(Paths.get(root, f.path)))) Recompute
            else Rebase)))
      } else {
        // one job yields both the touched-bucket set and the source row
        // count, which COW needs before it reads the target buckets
        val counts = bucketCounts(src)
        val touched = counts.keySet
        val srcRows = counts.values.sum
        commitLoop(h0, retries) { h =>
          // COW: touched buckets are fully rewritten → fresh manifest each;
          // untouched bucket manifests carried by reference (O(touched) IO)
          val merged = cowMerged(readBuckets(spark, h, touched), src, updateColumns, acceptEqualSeq)
          val token = newToken()
          val newRefs = writeManifests(token, writeSnapshotFiles(merged, token))
          Right(Pending(nextSnapshot(_, touched, newRefs, summary(srcRows, touched), Some(batchId)),
            applied(srcRows, touched), fenced(rewriteVerdict(touched, newRefs))))
        }
      }
    } finally if (cached) src.unpersist()
  }

  /** MOR guard: same-key rows with DIFFERENT seqs are the MOR log shape
    * (read-time LWW resolves); equal (key, seq) with different payloads in
    * one batch would land in ONE data file where no tie-break is defined —
    * the ambiguity resolve()'s cross-file file-path rule cannot reach.
    */
  private def requireUniqueKeySeqs(src: DataFrame): Unit = {
    val dup = src.groupBy(col("repo"), col("path"), col("seq"))
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"MOR append carries ${dup.head.getLong(3)} rows with the same " +
          s"(repo, path, seq) = (${dup.head.get(0)}, ${dup.head.get(1)}, " +
          s"${dup.head.get(2)}) — LWW cannot order them; dedupe the batch first")
  }

  /** A MOR batch as table rows: upserts as rows, deletes as tombstones. */
  private def appendRows(src: DataFrame): DataFrame = {
    val isDel = col("op") === "D"
    src.select(
      col("repo"), col("path"),
      when(isDel, lit(null)).otherwise(col("commit")).as("commit"),
      when(isDel, lit(null)).otherwise(col("language")).as("language"),
      when(isDel, lit(null)).otherwise(col("content")).as("content"),
      when(isDel, lit(null)).otherwise(col("size_bytes")).as("size_bytes"),
      col("seq"), isDel.as("deleted"))
  }

  /** The COW merge of `src` into the touched buckets' target rows `tgt`:
    * one full-outer join on the key, the seq guard, tombstone deletes.
    */
  private def cowMerged(tgt: DataFrame, src: DataFrame, updateColumns: Option[Seq[String]],
                        acceptEqualSeq: Boolean): DataFrame = {
    val s = src.select(
      col("repo").as("s_repo"), col("path").as("s_path"),
      col("op").as("s_op"), col("_b").as("s_b"),
      col("seq").as("s_seq"), col("commit").as("s_commit"),
      col("language").as("s_language"), col("content").as("s_content"),
      col("size_bytes").as("s_size_bytes"))
    val j = tgt.join(s,
      tgt("repo") === s("s_repo") && tgt("path") === s("s_path"), "full_outer")
    // acceptEqualSeq: a REPLICATION sink must let an equal-seq source row
    // win — the primary's own SQL MERGE may mutate payload while leaving
    // seq unassigned, and its change feed carries that row with the seq
    // the mirror already holds (changesBetween doc). Still idempotent:
    // re-applying the same row overwrites with identical values. Ingest
    // paths keep the strict `>` (an event never outranks itself).
    val seqWins =
      if (acceptEqualSeq) col("s_seq") >= col("seq")
      else col("s_seq") > col("seq")
    val takeSrc = col("s_seq").isNotNull &&
      (col("seq").isNull || seqWins)
    // DELETE arm writes a tombstone (nulled payload, deleted=true, src seq)
    // rather than dropping the row — see `deleted` column doc above.
    val srcIsDel = col("s_op") === "D"
    val matched = col("seq").isNotNull && !coalesce(col("deleted"), lit(false))
    def arm(c: String) = {
      // column-subset semantics: on a matched UPDATE, non-listed columns
      // keep the target value; inserts take the source value regardless
      val pickSrc: Column = updateColumns match {
        case Some(cols) if !cols.contains(c) => !matched
        case _ => lit(true)
      }
      when(takeSrc, when(srcIsDel, lit(null)).otherwise(
        when(pickSrc, col(s"s_$c")).otherwise(col(c))))
        .otherwise(col(c)).as(c)
    }
    j.select(
      coalesce(col("repo"), col("s_repo")).as("repo"),
      coalesce(col("path"), col("s_path")).as("path"),
      arm("commit"), arm("language"), arm("content"), arm("size_bytes"),
      when(takeSrc, col("s_seq")).otherwise(col("seq")).as("seq"),
      when(takeSrc, srcIsDel).otherwise(coalesce(col("deleted"), lit(false)))
        .as("deleted"))
  }

  /** Write rows as tokened bucket files (repartitioned on the key-hash
    * bucket; one file per bucket unless `maxRowsPerFile` splits it) and
    * return their manifest entries. `sorted = true` applies the table
    * sort order (key-clustered within each bucket file) — the Iceberg
    * split: hot-path merges write unsorted (no per-batch sort tax),
    * compaction rewrites sorted so parquet row-group min/max stats on
    * (repo, path) prune point reads inside a bucket and similar keys
    * compress together. sortWithinPartitions is a per-partition sort —
    * no extra shuffle beyond the bucket repartition.
    */
  private def writeSnapshotFiles(rows: DataFrame, tag: String,
                                 sorted: Boolean = false,
                                 maxRowsPerFile: Option[Long] = None,
                                 buckets: Int = numBuckets): Seq[DataFile] = {
    val outDir = s"data/snap-$tag"
    val bExpr = pmod(hash(col("repo"), col("path")), lit(buckets))
    val bucketed = rows.withColumn("_b", bExpr).repartition(col("_b"))
    // _b leads the sort so FileFormatWriter's required partition-column
    // ordering is already satisfied and it does not inject its own
    // _b-only sort (which would destroy the key clustering)
    val shaped = if (sorted) bucketed.sortWithinPartitions(col("_b"), col("repo"), col("path"))
                 else bucketed
    val w = shaped.write.mode(SaveMode.ErrorIfExists).partitionBy("_b")
    // sorted + split-by-size ⇒ a bucket's files carry tight DISJOINT key
    // ranges, which is what makes the manifest bounds prune to one file
    maxRowsPerFile.foreach(n => w.option("maxRecordsPerFile", n))
    w.parquet(s"$root/$outDir")
    listDataFiles(Paths.get(root, outDir), outDir).map(_.copy(sorted = sorted))
  }

  /** Generic SQL `MERGE INTO` executor (the graft_lake SQL surface,
    * [[graft.plans.GraftSqlMergeRule]]): applies parsed WHEN clauses in
    * statement order — first matching clause wins, SQL-standard — against
    * this table via ONE full-outer equi-join on the key, rewriting only the
    * key-hash buckets the source touches (same COW write path and the same
    * lost-CAS verdict as the Dataset [[merge]], minus the fence).
    *
    * Semantics differences from the CDC [[merge]] (deliberate — this is the
    * ad-hoc SQL surface, not the ordered change-stream path):
    *  - conditions come from the statement (a seq guard is expressed as
    *    `WHEN MATCHED AND s.seq > t.seq`), not built in;
    *  - DELETE physically drops the row (no CDC tombstone) — existing
    *    tombstones in touched buckets are carried through unchanged;
    *  - the exactly-once fence does not advance (SQL merges are user
    *    actions, not replayable micro-batches).
    *
    * `srcKeySql` maps each key column to the source-side SQL expression the
    * ON clause equates it to — that's what makes bucket pruning sound.
    */
  def mergeSql(spark: SparkSession, source: DataFrame, tAlias: String,
               sAlias: String, onSql: String, srcKeySql: Map[String, String],
               matched: Seq[SqlMergeClause],
               notMatched: Seq[SqlMergeClause],
               notBySource: Seq[SqlMergeClause] = Nil,
               retries: Int = 3): MergeStats = {
    val h0 = checkedHead()
    require(h0.mode == Cow, "SQL MERGE INTO targets copy-on-write tables")
    val dataCols = schema.fieldNames.filterNot(_ == "deleted").toSeq
    // re-alias after withColumn (a Project strips the subquery alias)
    val src = source.withColumn("_s_exists", lit(true)).alias(sAlias).persist()
    try {
      // ANSI/Iceberg MERGE cardinality rule: >1 source row per key would
      // update the same target row twice — nondeterministic; reject.
      requireUniqueKeys(src, expr(srcKeySql("repo")), expr(srcKeySql("path")),
        "aggregate the source to one row per key")
      val srcTouched = bucketCounts(src.select(
        pmod(hash(expr(srcKeySql("repo")), expr(srcKeySql("path"))), lit(numBuckets)).as("_b")))
      // WHEN NOT MATCHED BY SOURCE acts on target rows whose key the source
      // does NOT carry — those can live in ANY bucket, so bucket pruning is
      // unsound and EVERY bucket id becomes part of the rewrite — including
      // buckets empty at h0: a concurrent writer may insert a key into one,
      // and the rebase conflict check (refOf over touched buckets) must see
      // that commit, or the rebase would keep a row this statement's BY
      // SOURCE clause should have deleted (write skew). (Iceberg's MERGE
      // does the same: such statements scan — and conflict on — the table.)
      val touched =
        if (notBySource.isEmpty) srcTouched.keySet
        else (0 until numBuckets).toSet
      val srcRows = srcTouched.values.sum
      val tEx = coalesce(col("_t_exists"), lit(false))
      val sEx = coalesce(col("_s_exists"), lit(false))
      val isM = tEx && sEx

      // resolve star-assignments against the source's actual columns
      def assignsOf(c: SqlMergeClause): Map[String, Column] =
        if (c.star)
          dataCols.filter(source.columns.contains)
            .map(n => n -> expr(s"`${c.starAlias}`.`$n`")).toMap
        else c.assigns.map { case (n, sql) => n -> expr(sql) }.toMap

      // first-matching clause index ("m<i>" / "i<i>" / "b<i>" for NOT
      // MATCHED BY SOURCE), else keep (target-side rows) / drop
      var act: Column = when(lit(false), lit("keep"))
      matched.zipWithIndex.foreach { case (c, i) =>
        act = act.when(isM && c.condSql.map(expr).getOrElse(lit(true)), lit(s"m$i"))
      }
      notMatched.zipWithIndex.foreach { case (c, i) =>
        act = act.when(!tEx && sEx && c.condSql.map(expr).getOrElse(lit(true)), lit(s"i$i"))
      }
      notBySource.zipWithIndex.foreach { case (c, i) =>
        act = act.when(tEx && !sEx && c.condSql.map(expr).getOrElse(lit(true)), lit(s"b$i"))
      }
      val dropped = (matched.zipWithIndex.collect {
        case (c, i) if c.kind == "delete" => s"m$i" } ++
        notBySource.zipWithIndex.collect {
          case (c, i) if c.kind == "delete" => s"b$i" }).toSet + "drop"
      val assignMaps = (matched.zipWithIndex.map { case (c, i) => s"m$i" -> assignsOf(c) } ++
        notMatched.zipWithIndex.map { case (c, i) => s"i$i" -> assignsOf(c) } ++
        notBySource.zipWithIndex.map { case (c, i) => s"b$i" -> assignsOf(c) }).toMap
      def valueFor(name: String): Column = {
        val field = schema(name)
        val base: Column = assignMaps.foldLeft(when(lit(false), lit(null))) {
          case (w, (tag, assigns)) =>
            // INSERT arms default unassigned payload columns to NULL —
            // except seq, whose schema contract is non-nullable: default 0,
            // the same floor insertStrict uses (any real CDC event for the
            // key carries seq >= 1 and outranks it)
            val v = assigns.getOrElse(name,
              if (tag.startsWith("i")) (if (name == "seq") lit(0L) else lit(null))
              else col(s"$tAlias.$name"))
            w.when(col("_act") === tag, v)
        }
        base.otherwise(col(s"$tAlias.$name")).cast(field.dataType).as(name)
      }
      val summary = Map("sqlMerge" -> "true", "srcRows" -> srcRows.toString,
        "touchedBuckets" -> touched.size.toString)

      commitLoop(h0, retries) { h =>
        val tgt = readBuckets(spark, h, touched)
        val live = tgt.filter(!col("deleted")).drop("deleted")
          .withColumn("_t_exists", lit(true)).alias(tAlias)
        val withAct = live.join(src, expr(onSql), "full_outer").withColumn("_act",
          act.otherwise(when(tEx, lit("keep")).otherwise(lit("drop"))))
        val kept = withAct.filter(!col("_act").isin(dropped.toSeq: _*))
          .select(dataCols.map(valueFor) :+ lit(false).as("deleted"): _*)
        // a key the merge (re)creates supersedes its CDC tombstone — keeping
        // both would give the next CDC merge two target rows for one key
        val tombsKept = tgt.filter(col("deleted")).join(kept.select("repo", "path"),
          Seq("repo", "path"), "left_anti")
        val token = newToken()
        val newRefs = writeManifests(token, writeSnapshotFiles(kept.unionByName(tombsKept), token))
        Right(Pending(nextSnapshot(_, touched, newRefs, summary),
          s => MergeStats(applied = true, s.version, srcRows, touched.size, s.totalRows),
          rewriteVerdict(touched, newRefs)))
      }
    } finally src.unpersist()
  }

  /** Strict SQL-style INSERT (the `INSERT INTO graft_lake.` surface):
    * append rows whose keys are NOT live in the table; ANY key collision
    * fails the whole statement — ANSI primary-key INSERT semantics, and the
    * error echoes the exact MERGE INTO statement that expresses upsert
    * intent (the reflex of users arriving from Delta/Iceberg). Same COW
    * commit protocol as [[mergeSql]]: only the key-hash buckets the source
    * touches are rewritten; the exactly-once fence does not advance (user
    * action, not a replayable micro-batch); a CDC tombstone on an inserted
    * key is superseded (the insert re-creates the key). A lost CAS always
    * RECOMPUTES — an interleaved commit could have inserted one of our
    * keys, so the duplicate check must re-run against the new head.
    *
    * `source` carries any subset of the data columns that includes the key;
    * missing columns insert as null (`seq` as 0 — any later CDC event
    * outranks it).
    */
  def insertStrict(spark: SparkSession, source: DataFrame,
                   retries: Int = 3): MergeStats = {
    val h0 = checkedHead()
    require(h0.mode == Cow, "SQL INSERT INTO targets copy-on-write tables")
    val dataCols = schema.fieldNames.filterNot(_ == "deleted").toSeq
    val byLower = source.columns.map(c => c.toLowerCase -> c).toMap
    val unknown = source.columns.filterNot(c => dataCols.contains(c.toLowerCase))
    require(unknown.isEmpty,
      s"INSERT columns not in the table schema: ${unknown.mkString(", ")} " +
        s"(table columns: ${dataCols.mkString(", ")})")
    Seq("repo", "path").foreach(k => require(byLower.contains(k),
      s"INSERT must provide key column '$k'"))
    val aligned = source.select(dataCols.map { c =>
      byLower.get(c) match {
        case Some(s) => col(s).cast(schema(c).dataType).as(c)
        case None if c == "seq" => lit(0L).as("seq")
        case None => lit(null).cast(schema(c).dataType).as(c)
      }
    }: _*)
    val src = aligned.withColumn("_b", bucketExpr).persist()
    try {
      requireUniqueKeys(src, col("repo"), col("path"),
        "an INSERT source must carry each key at most once")
      val counts = bucketCounts(src)
      val touched = counts.keySet
      val srcRows = counts.values.sum
      commitLoop(h0, retries) { h =>
        val tgt = readBuckets(spark, h, touched)
        val dup = tgt.filter(!col("deleted"))
          .join(src, Seq("repo", "path"), "left_semi")
          .select("repo", "path").limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            s"INSERT INTO graft_lake.`$root`: key (${dup.head.getString(0)}, " +
              s"${dup.head.getString(1)}) already exists — INSERT is " +
              "append-only on the (repo, path) key. For upsert semantics run:\n" +
              s"  MERGE INTO graft_lake.`$root` AS t USING <source> AS s\n" +
              "  ON t.repo = s.repo AND t.path = s.path\n" +
              "  WHEN MATCHED THEN UPDATE SET *\n" +
              "  WHEN NOT MATCHED THEN INSERT *")
        val tombsKept = tgt.filter(col("deleted"))
          .join(src.select("repo", "path"), Seq("repo", "path"), "left_anti")
        val merged = tgt.filter(!col("deleted"))
          .unionByName(src.drop("_b").withColumn("deleted", lit(false)))
          .unionByName(tombsKept)
        val token = newToken()
        val newRefs = writeManifests(token, writeSnapshotFiles(merged, token))
        Right(Pending(nextSnapshot(_, touched, newRefs, Map("sqlInsert" -> "true",
            "srcRows" -> srcRows.toString, "touchedBuckets" -> touched.size.toString)),
          s => MergeStats(applied = true, s.version, srcRows, touched.size, s.totalRows)))
      }
    } finally src.unpersist()
  }

  // --- maintenance: the one bucket-rewrite path ----------------------------

  /** Rewrite the buckets `pick` selects from each attempt's head: read
    * them, resolve MOR duplicates (per-bucket-closed: a key's files all
    * live in its bucket, so LWW over a bucket subset sees every version it
    * needs), optionally GC tombstones, write sorted (optionally size-split)
    * output under an `outBuckets` modulus, and carry every other manifest
    * by reference. The output derives from every picked row, so ANY
    * interleaved commit forces a recompute against the new head (ingest
    * always wins over maintenance). Returns the non-empty buckets
    * rewritten; an empty pick commits nothing.
    */
  private def rewriteBuckets(spark: SparkSession, retries: Int, pick: Snapshot => Set[Int],
                             summary: Int => Map[String, String],
                             gcTombstones: Boolean = false,
                             targetFileRows: Option[Long] = None,
                             outBuckets: Int = numBuckets): Set[Int] =
    commitLoop(checkedHead(), retries) { h =>
      val picked = pick(h)
      if (picked.isEmpty) Left(Set.empty[Int])
      else {
        val rewritten = h.manifests.map(_.bucket).filter(picked)
        val physical = readBuckets(spark, h, picked)
        val resolved = if (h.mode == Mor) resolve(physical) else physical
        val live = if (gcTombstones) resolved.filter(!col("deleted")) else resolved
        val token = newToken()
        val newRefs = writeManifests(token, writeSnapshotFiles(live, token,
          sorted = true, maxRowsPerFile = targetFileRows, buckets = outBuckets))
        Right(Pending(nextSnapshot(_, picked, newRefs, summary(rewritten.size), buckets = outBuckets),
          _ => rewritten.toSet))
      }
    }

  /** Picks every bucket id under this handle's modulus (a whole-table
    * rewrite, committed even when the table is empty). */
  private def allBuckets: Snapshot => Set[Int] = _ => (0 until numBuckets).toSet

  /** Summary of a bucket-subset compaction that rewrote `n` buckets. */
  private def incrementalSummary(n: Int) =
    Map("compaction" -> "incremental", "compactedBuckets" -> n.toString)

  /** Compaction: fold each key to its single latest version and coalesce
    * small files (one per bucket); lastBatchId (the exactly-once fence)
    * carries over. Tombstones are RETAINED by default — they still guard
    * against late out-of-order batches carrying older upserts; pass
    * `gcTombstones = true` only when no earlier-seq data can still arrive
    * (end of stream / past the ingest low-watermark). Returns the number of
    * buckets rewritten.
    *
    * `maxBucketsPerWave` (guide §5 — bound the working set): a full-table
    * rewrite as ONE job needs "heap + shuffle < RAM" for the whole table
    * (the r5 256M-event/32-core threshold compaction was OOM-killed
    * exactly there, bench/results_r5.jsonl `soak_256M_mor_cadence`).
    * With Some(k), buckets are rewritten in waves — each wave one bounded
    * job + its own live-state-preserving commit (same `compaction`
    * summary key, so concurrent merges still rebase over it) — and peak
    * memory is O(k / numBuckets × table) instead of O(table). Each wave
    * takes up to k non-empty buckets of the CURRENT head that this call has
    * not rewritten yet, so a bucket first filled by a merge between waves
    * (or during a wave's retry) is still compacted. A crash between waves
    * leaves a valid, partially-compacted table.
    */
  def compact(spark: SparkSession, gcTombstones: Boolean = false,
              retries: Int = 3, targetFileRows: Option[Long] = None,
              maxBucketsPerWave: Option[Int] = None): Int =
    maxBucketsPerWave.filter(_ > 0) match {
      case None =>
        rewriteBuckets(spark, retries, allBuckets, _ => Map("compaction" -> "true"),
          gcTombstones, targetFileRows).size
      case Some(k) =>
        val done = scala.collection.mutable.Set.empty[Int]
        Iterator.continually(rewriteBuckets(spark, retries,
            _.manifests.map(_.bucket).filterNot(done).sorted.take(k).toSet,
            incrementalSummary, gcTombstones, targetFileRows))
          .takeWhile(_.nonEmpty).foreach(done ++= _)
        done.size
    }

  /** Incremental compaction: fold ONLY the buckets whose manifest lists
    * more than `maxFilesPerBucket` data files (the MOR read-amplification
    * bound) — selection is a pure manifest-stats scan, the rewrite is
    * O(selected buckets), and untouched manifests are carried by
    * reference. This is what runs on a cadence against a 10^10-row table;
    * full [[compact]] is the end-of-stream / table-maintenance variant.
    * Returns the number of buckets compacted. Same tombstone-retention
    * default and fence semantics as [[compact]]; a lost CAS re-picks and
    * recomputes against the new head (ingest wins).
    */
  def compactBuckets(spark: SparkSession, maxFilesPerBucket: Int = 4,
                     gcTombstones: Boolean = false, retries: Int = 3,
                     targetFileRows: Option[Long] = None,
                     minFileBytes: Option[Long] = None): Int = {
    // Two Iceberg-style triggers. Both are evaluated against the file
    // count the rewrite itself would PRODUCE (ceil(rows/targetFileRows))
    // — not against 1 — otherwise a size-split compaction immediately
    // re-qualifies its own output and every cadence tick rewrites the
    // whole bucket forever.
    def producedFiles(r: ManifestRef): Long = targetFileRows match {
      case Some(t) if t > 0 => math.max(1L, (r.rowCount + t - 1) / t)
      case _ => 1L
    }
    // read-amplification: more than maxFilesPerBucket files OVER the
    // compacted shape (reduces to the plain fileCount > max bar when no
    // target size is set)
    def readAmplified(r: ManifestRef): Boolean =
      r.fileCount - producedFiles(r) >= maxFilesPerBucket
    // binpack: files averaging below minFileBytes AND a rewrite would
    // actually reduce the file count. The denormalized sum can be skewed
    // by legacy sizeBytes=0 entries, so confirm against the manifest body
    // (cached; loaded only for sum-preselected buckets).
    def smallFiles(r: ManifestRef): Boolean = minFileBytes.exists { m =>
      r.fileCount > producedFiles(r) && r.sizeBytes > 0 &&
        r.sizeBytes / r.fileCount < m && {
          val fs = loadManifest(r)
          fs.forall(_.sizeBytes > 0) && fs.map(_.sizeBytes).sum / fs.size < m
        }
    }
    // layout restore (COW only): a COW merge rewrites its touched buckets
    // to ONE unsorted file each, so the count-based triggers above can
    // never re-select them and the sorted/size-split layout (and its
    // bounds pruning) would silently degrade after any merge. The sorted
    // flag in the manifest re-picks exactly those buckets. MOR is excluded
    // — appends are unsorted by design there, and re-picking every bucket
    // with any unsorted file would rewrite the table each cadence tick
    // (read amplification is MOR's trigger).
    def layoutDegraded(h: Snapshot, r: ManifestRef): Boolean =
      h.mode == Cow && targetFileRows.isDefined && r.sortedFiles < r.fileCount
    rewriteBuckets(spark, retries,
      h => h.manifests.filter(r => readAmplified(r) || smallFiles(r) || layoutDegraded(h, r))
        .map(_.bucket).toSet,
      incrementalSummary, gcTombstones, targetFileRows).size
  }

  /** Rewrite every row under a NEW key-hash modulus (the maintenance op for
    * "the table outgrew its bucket count": more buckets = more write
    * parallelism per merge and smaller per-bucket manifests). Runs the
    * [[compact]] rewrite — sorted, optionally size-split output, tombstones
    * retained — and commits the new modulus IN the snapshot
    * (authoritative), then refreshes the meta/table.json opener cache. Old
    * snapshots keep their own recorded modulus, so time travel still reads
    * them correctly.
    *
    * Returns a FRESH handle bound to the new modulus. This handle and any
    * other stale one fail loudly afterwards (see [[checkedHead]]) — a
    * stale modulus would silently mis-hash every key.
    */
  def rebucket(spark: SparkSession, newBuckets: Int,
               targetFileRows: Option[Long] = None, retries: Int = 3): LakeTable = {
    require(newBuckets > 0, s"rebucket: bucket count must be positive, got $newBuckets")
    rewriteBuckets(spark, retries, allBuckets, _ => Map("rebucket" -> s"$numBuckets->$newBuckets"),
      targetFileRows = targetFileRows, outBuckets = newBuckets)
    // sidecar refresh: a CACHE of the now-committed snapshot value (openers
    // prefer the snapshot; the sidecar only serves pre-rebucket readers of
    // the file). Atomic replace, after the commit — a crash between the two
    // leaves a stale sidecar that open() ignores in favor of the snapshot.
    val tmp = metaDir.resolve(s".table.json.${newToken()}.tmp")
    Files.writeString(tmp, s"""{"numBuckets": $newBuckets}""")
    Files.move(tmp, metaDir.resolve("table.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    new LakeTable(root, newBuckets)
  }

  /** Expire old snapshots: delete snapshot JSONs older than the newest
    * `keepLast` (HEAD is always kept). Time travel to expired versions
    * stops working — same contract as Iceberg's `expire_snapshots`. Data
    * and manifest files are NOT touched here; [[vacuum]] reclaims whatever
    * the surviving snapshots no longer reference.
    */
  def expireSnapshots(keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least HEAD")
    val keep = versions().takeRight(keepLast).toSet + head().version
    val expired = versions().filterNot(keep)
    expired.foreach { v =>
      Files.deleteIfExists(metaDir.resolve(s"v$v.json"))
      snapshotCache.remove(v)
      commitTsCache.remove(v)
    }
    expired
  }

  /** Remove orphan files: anything under data/ or meta/manifests/ that no
    * SURVIVING snapshot references — old COW bucket rewrites, and the
    * tokened leftovers of commit-arbitration losers and crashed writers.
    * The referenced set is exact (committed state only references
    * immutable paths), but an IN-FLIGHT writer's files are not referenced
    * until its commit — `olderThanMs` (default 10 min, Iceberg's
    * remove_orphan_files has the same knob) keeps vacuum from eating a
    * concurrent writer's pending output; pass 0 only when no other writer
    * can be active. Returns the deleted count.
    */
  def vacuum(olderThanMs: Long = 600000L): Int = {
    val cutoff = System.currentTimeMillis - olderThanMs
    val snaps = versions().map(snapshotAt)
    val refManifests = snaps.flatMap(_.manifests.map(_.path))
      .filterNot(_.startsWith("inline:")).toSet
    val refData = snaps.flatMap(s => filesOf(s).map(_.path)).toSet
    var deleted = 0
    // Concurrent-writer tolerance (found by ConcurrencyStress, not theory):
    //  - an in-flight Spark write stages under …/_temporary/… and renames
    //    task attempts at commit — entries VANISH between a directory walk
    //    listing them and vacuum touching them, so every filesystem op
    //    here must absorb NoSuchFileException rather than crash the sweep;
    //  - _temporary subtrees are NEVER eligible for deletion regardless of
    //    age: they belong to a write that has not committed yet (a task
    //    attempt can legitimately outlive the grace window), and the
    //    committer removes them itself.
    def walkSafe(dir: Path): List[Path] = {
      val acc = scala.collection.mutable.ListBuffer[Path]()
      Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) acc += p
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def preVisitDirectory(p: Path, a: java.nio.file.attribute.BasicFileAttributes) =
          if (p.getFileName != null && p.getFileName.toString == "_temporary")
            java.nio.file.FileVisitResult.SKIP_SUBTREE
          else java.nio.file.FileVisitResult.CONTINUE
        override def visitFileFailed(p: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE // vanished mid-walk
        // default postVisitDirectory RETHROWS a failed directory iteration —
        // exactly the racing-writer case (dir vanishes mid-walk) this sweep
        // must absorb, so swallow and continue instead of crashing the walk
        override def postVisitDirectory(p: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
      acc.toList
    }
    def sweep(dir: Path, isReferenced: String => Boolean): Unit = {
      if (Files.exists(dir)) {
        walkSafe(dir).foreach { p =>
          val rel = Paths.get(root).relativize(p).toString
          try {
            if (!isReferenced(rel) &&
              Files.getLastModifiedTime(p).toMillis < cutoff &&
              Files.deleteIfExists(p)) deleted += 1
          } catch { case _: java.nio.file.NoSuchFileException => () }
        }
        // drop now-empty directories bottom-up (never _temporary subtrees)
        val dirs = scala.collection.mutable.ListBuffer[Path]()
        Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
          override def preVisitDirectory(p: Path, a: java.nio.file.attribute.BasicFileAttributes) =
            if (p.getFileName != null && p.getFileName.toString == "_temporary")
              java.nio.file.FileVisitResult.SKIP_SUBTREE
            else { if (p != dir) dirs += p; java.nio.file.FileVisitResult.CONTINUE }
          override def visitFileFailed(p: Path, e: java.io.IOException) =
            java.nio.file.FileVisitResult.CONTINUE
          override def postVisitDirectory(p: Path, e: java.io.IOException) =
            java.nio.file.FileVisitResult.CONTINUE // vanished mid-walk
        })
        dirs.reverse.foreach { p =>
          try {
            // The grace window applies to EMPTY DIRECTORIES too, not just
            // files (found by ConcurrencyStress at 6 writers): a concurrent
            // writer's FileOutputCommitter mkdirs its snap-<tag>/_temporary/0
            // chain component by component, and between two mkdir calls the
            // fresh snap dir is momentarily EMPTY — an age-blind prune here
            // deletes it in that window and the writer's next mkdir fails
            // with "Mkdirs failed to create …/_temporary/0". A young empty
            // dir is always a possible in-flight write; it becomes
            // reclaimable only once it has outlived the same cutoff as the
            // files. olderThanMs=0 keeps the unconditional prune: that mode
            // is documented as "no other writer can be active", and file
            // deletions just above bump the parent dir's mtime to now.
            val empty = scala.util.Using.resource(Files.list(p))(_.count() == 0L)
            if (empty && (olderThanMs == 0L ||
                Files.getLastModifiedTime(p).toMillis < cutoff))
              Files.deleteIfExists(p)
          } catch {
            case _: java.nio.file.NoSuchFileException => ()
            case _: java.nio.file.DirectoryNotEmptyException => () // raced a writer
          }
        }
      }
    }
    // a snap directory survives iff ≥1 of its files is referenced; writer
    // markers (_SUCCESS, .crc) ride with their directory's fate
    val refDirs = refData.map(rel => rel.split('/').take(2).mkString("/"))
    sweep(Paths.get(root, "data"), rel =>
      refData.contains(rel) ||
        (!rel.endsWith(".parquet") && refDirs.contains(rel.split('/').take(2).mkString("/"))))
    sweep(metaDir.resolve("manifests"), refManifests.contains)
    // commit-protocol tmp debris: every meta-dir tmp (.vN.json.<tok>.tmp
    // from a writer that died inside snapshot arbitration, .HEAD.<tok>.tmp,
    // .table.json.<tok>.tmp) is dot-prefixed, .tmp-suffixed, and lives for
    // milliseconds in a healthy commit — one older than the grace window is
    // always a dead writer's orphan (never re-read by anyone: the commit
    // paths only ever consume the tmp they just wrote). Reclaimed here so
    // crashed commits can't grow the meta dir unboundedly.
    if (Files.exists(metaDir)) {
      scala.util.Using.resource(Files.list(metaDir)) { st =>
        st.iterator().asScala.foreach { p =>
          val n = p.getFileName.toString
          if (n.startsWith(".") && n.endsWith(".tmp")) {
            try {
              if (Files.getLastModifiedTime(p).toMillis < cutoff &&
                  Files.deleteIfExists(p)) deleted += 1
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
        }
      }
    }
    deleted
  }

  /** TRUNCATE: new snapshot referencing zero files (reference analog:
    * deleteByQuery("*:*"), PhylogenesServerWrapper.java:137-145).
    */
  def truncate(): Unit = {
    val h0 = checkedHead()
    commitSnapshot(Snapshot(h0.version + 1, h0.version, h0.lastBatchId,
      h0.schemaIds, Nil, Map("truncate" -> "true"), mode = h0.mode),
      expectedParent = h0.version)
  }

  /** Scan freshly-written snapshot files, reading row counts from parquet
    * footers (no extra Spark job).
    */
  private def listDataFiles(dir: Path, rel: String): Seq[DataFile] = {
    if (!Files.exists(dir)) return Nil
    val conf = new org.apache.hadoop.conf.Configuration()
    val paths = scala.util.Using.resource(Files.walk(dir)) { stream =>
      stream.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
    }
    // footer reads are driver-side; serialized they dominate the commit
    // path (measured ~40ms each × buckets) — read them concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = paths.map { p => Future {
      val bucket = p.getParent.getFileName.toString.stripPrefix("_b=").toInt
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val (count, bounds) = try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        // per-file key bounds from the footer's per-row-group column stats
        // (same footer read that yields the row count — no extra IO)
        def colBounds(name: String): (Option[String], Option[String]) = {
          val perBlock = blocks.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == name)
              .map(_.getStatistics).filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
              .map(s => (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                         s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
          }
          if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) (None, None)
          else {
            val bs = perBlock.map(_.get)
            (Some(bs.map(_._1).reduce((a, b) => if (cmpUtf8(a, b) <= 0) a else b)),
             Some(bs.map(_._2).reduce((a, b) => if (cmpUtf8(a, b) >= 0) a else b)))
          }
        }
        (r.getRecordCount, (colBounds("repo"), colBounds("path")))
      } finally r.close()
      val ((minR, maxR), (minP, maxP)) = bounds
      DataFile(s"$rel/${dir.relativize(p)}", bucket, count, minR, maxR, minP, maxP,
        sizeBytes = Files.size(p))
    }}
    Await.result(Future.sequence(futs), Duration.Inf)
  }
}

object LakeTable {
  private val mapper = new ObjectMapper()

  /** Monotone clock for [[LakeTable.newToken]] — shared across all table
    * handles in the JVM so write tokens never regress even under
    * wall-clock adjustment.
    */
  private val tokenClock = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Thrown when the HEAD CAS (or the create-new snapshot write) loses to a
    * concurrent writer; commit paths catch it and rebase/retry.
    */
  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** What a writer that lost the HEAD CAS does next, decided by the
    * operation against the new head ([[LakeTable.commitLoop]]).
    */
  private sealed trait Verdict[+A]
  /** The pending files are still valid: rebuild the snapshot on the new head. */
  private case object Rebase extends Verdict[Nothing]
  /** The pending output derives from rows the new head changed: run the stage again. */
  private case object Recompute extends Verdict[Nothing]
  /** The new head already carries this batch: stop with `result` (not applied). */
  private final case class AlreadyApplied[A](result: A) extends Verdict[A]

  /** One stage's output, ready to commit: `snapshotOn` builds the snapshot
    * for a base head (again on each rebase), `result` is the operation's
    * answer once it commits, `onLost(base, newHead)` the verdict after a
    * lost CAS.
    */
  private final case class Pending[A](
      snapshotOn: Snapshot => Snapshot,
      result: Snapshot => A,
      onLost: (Snapshot, Snapshot) => Verdict[A] = (_: Snapshot, _: Snapshot) => Recompute)

  /** Atomically persist a consumer cursor (tmp file + ATOMIC_MOVE +
    * REPLACE_EXISTING): a reader never observes a torn write — the ONE
    * cursor protocol, shared by [[LakeTable.drainChanges]]' commit and
    * [[graft.stream.Tailer.resyncInto]]'s re-seed so their crash behavior
    * can never diverge.
    */
  private[graft] def writeCursor(cursorFile: Path, version: Int): Unit = {
    val tmp = cursorFile.resolveSibling(s".${cursorFile.getFileName}.tmp")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, cursorFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `minRepo`/`maxRepo`/`minPath`/`maxPath` are per-file key bounds
    * harvested from the parquet footer column statistics at commit time
    * (Iceberg lower_bounds/upper_bounds analog). None = unknown (legacy
    * manifests, missing stats) and never prunes.
    */
  final case class DataFile(path: String, bucket: Int, rowCount: Long,
                            minRepo: Option[String] = None, maxRepo: Option[String] = None,
                            minPath: Option[String] = None, maxPath: Option[String] = None,
                            sizeBytes: Long = 0L,
                            // written under the table sort order (key-clustered)?
                            // Merges write unsorted; compaction writes sorted.
                            // Drives the COW layout-restore compaction trigger.
                            sorted: Boolean = false)

  /** Parquet string stats are unsigned-UTF-8-byte ordered; compare the same
    * way (Java String compareTo is UTF-16 order — differs above ASCII).
    */
  private def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** File-skipping predicate for a point key: false only when the file's
    * recorded bounds PROVE the key is absent.
    */
  def fileMayContain(f: DataFile, repo: String, path: String): Boolean =
    fileMayContainRepo(f, repo) &&
    f.minPath.forall(cmpUtf8(path, _) >= 0) && f.maxPath.forall(cmpUtf8(path, _) <= 0)

  /** Repo-dimension-only variant (repo-scoped scans). */
  def fileMayContainRepo(f: DataFile, repo: String): Boolean =
    f.minRepo.forall(cmpUtf8(repo, _) >= 0) && f.maxRepo.forall(cmpUtf8(repo, _) <= 0)

  /** True unless the file's path bounds prove no path starting with
    * `prefix` can be inside: compares only the first |prefix| bytes, so a
    * file is skipped exactly when its whole [minPath, maxPath] interval
    * lies strictly before or after the prefix's byte range.
    */
  def fileMayContainPathPrefix(f: DataFile, repo: String, prefix: String): Boolean = {
    val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def headCmp(bound: String): Int = {
      val bb = bound.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.util.Arrays.compareUnsigned(
        java.util.Arrays.copyOf(bb, math.min(bb.length, pb.length)), pb)
    }
    fileMayContainRepo(f, repo) &&
      f.maxPath.forall(headCmp(_) >= 0) && f.minPath.forall(headCmp(_) <= 0)
  }

  /** Snapshot-level pointer to one bucket's manifest file (row/file counts
    * denormalized so planning-level stats never need the manifest body).
    */
  final case class ManifestRef(bucket: Int, path: String, rowCount: Long, fileCount: Int,
                               sizeBytes: Long = 0L, sortedFiles: Int = 0)

  /** One parsed WHEN clause of a SQL MERGE statement. `kind` ∈ update /
    * delete / insert; `assigns` are (target column → source-side SQL);
    * `star` marks UPDATE SET * / INSERT *, expanded at execution against
    * the source's actual columns qualified by `starAlias`.
    */
  final case class SqlMergeClause(kind: String, condSql: Option[String],
                                  assigns: Seq[(String, String)],
                                  star: Boolean = false, starAlias: String = "")

  /** Age after which a v<N>.json with an unmoved HEAD is treated as the
    * debris of a crashed writer and reclaimed (an in-flight racer moves
    * its file and flips HEAD within milliseconds of creating it).
    */
  val StrayCommitGraceMs: Long = 60000L

  /** Per-handle snapshot-body cache cap (entries). Snapshot bodies are
    * small (manifest refs, not data), so 4096 recent versions is ample
    * for every reader pattern while keeping a long-lived stream handle's
    * footprint bounded even when retention is enforced by a different
    * process. Eviction drops the oldest half beyond the cap.
    */
  val SnapshotCacheMax: Int = 4096

  /** Copy-on-write mode tag. */
  val Cow = "cow"
  /** Merge-on-read mode tag. */
  val Mor = "mor"

  final case class Snapshot(
      version: Int,
      parent: Int,
      lastBatchId: Long,
      schemaIds: Seq[Int],
      manifests: Seq[ManifestRef],
      summary: Map[String, String],
      mode: String = Cow,
      // physical key-hash modulus this snapshot's files were written under;
      // authoritative over the table.json sidecar (rebucket() changes it
      // atomically WITH the snapshot commit). -1 = legacy snapshot.
      numBuckets: Int = -1) {
    /** Commit wall-clock (ms) recorded at commitSnapshot — TIMESTAMP AS OF
      * resolves against it. -1 for legacy snapshots. */
    def committedAtMs: Long = summary.get("committedAtMs").map(_.toLong).getOrElse(-1L)
    def totalRows: Long = manifests.map(_.rowCount).sum
    def totalFiles: Long = manifests.map(_.fileCount.toLong).sum
  }

  /** Open-or-create (mode applies only at creation; existing tables keep
    * the mode pinned in their snapshots).
    */
  def apply(root: String, numBuckets: Int = 32, mode: String = Cow): LakeTable = {
    val t = new LakeTable(root, numBuckets, mode)
    t.init()
    t
  }

  /** Open an EXISTING table knowing only its root path (the SQL surface's
    * entry point): bucket count comes from the meta/table.json sidecar.
    */
  def open(root: String): LakeTable = {
    val meta = Paths.get(root, "meta", "table.json")
    require(Files.exists(Paths.get(root, "meta", "HEAD")),
      s"no graft lake table at $root")
    // the HEAD snapshot's recorded modulus is authoritative (rebucket
    // commits it atomically with the data); the sidecar covers legacy
    // snapshots that predate the field. Never guess: a wrong modulus
    // silently mis-hashes every key (wrong pruning, duplicate rows).
    val t0 = new LakeTable(root, 1)
    val snapBuckets = t0.head().numBuckets
    if (snapBuckets > 0) new LakeTable(root, snapBuckets)
    else {
      require(Files.exists(meta),
        s"$root has no meta/table.json sidecar (pre-manifest table?) — " +
          "open it with LakeTable(root, numBuckets) matching its creation")
      new LakeTable(root, mapper.readTree(Files.readString(meta)).get("numBuckets").asInt)
    }
  }
}
