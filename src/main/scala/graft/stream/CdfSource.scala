package graft.stream

import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming SOURCE over a [[LakeTable]]'s change-data-feed — the primitive
  * that makes a lake table itself a change-log a downstream pipeline can
  * tail (derived tables, projections, replication):
  *
  * {{{
  *   spark.readStream.format("graft-cdf")
  *     .option("path", tableRoot)              // required
  *     .option("startVersion", "0")            // optional: feed begins AFTER it
  *                                             // (fresh checkpoints only — an
  *                                             // existing checkpoint's offset wins)
  *     .option("maxVersionsPerBatch", "10")    // optional: bounded catch-up
  *     .load()                                 // op/repo/path/… change rows
  * }}}
  *
  * DSv2 `MicroBatchStream` with admission control (the supported long-term
  * streaming-source API — replaces the round-3 v1 `Source`):
  *
  *  - '''Offsets ARE snapshot versions''' (monotonic by construction of the
  *    commit protocol): checkpoint state is one integer, restart resumes
  *    exactly where the sink committed.
  *  - '''One HEAD read per poll tick''': the [[LakeTable]] handle is opened
  *    ONCE per stream; `latestOffset` reads only the one-line HEAD pointer
  *    ([[LakeTable.headVersion]]) — snapshot/manifest bodies are read only
  *    when a batch is actually planned (2 metadata round-trips per 500ms
  *    follow tick on object storage would not be acceptable).
  *  - '''Distributed diff, O(changed buckets)''': a batch is the live-state
  *    diff of the two endpoint snapshots. A bucket whose manifest ref is
  *    identical in both snapshots cannot differ (manifests are immutable),
  *    so each CHANGED bucket becomes one `InputPartition` whose reader
  *    diffs that bucket's files EXECUTOR-SIDE (LWW-fold each side, emit
  *    I/U/D) — no driver collect, work scales with the bucket count.
  *    Reader memory is BOUNDED at any table size: a bucket whose endpoint
  *    state exceeds `maxStateRowsPerPartition` rows OR
  *    `maxStateBytesPerPartition` manifest-recorded bytes (both plan-time
  *    decisions from the manifests — no data IO) splits into hash-of-key
  *    slice partitions, each re-reading that bucket's files but retaining
  *    only its slice; and the reader STREAMS the after side (only the
  *    before-state map and a per-key winner locator are resident — content
  *    payloads of the after side never buffer). Compaction-only version
  *    ranges re-read their buckets but diff to zero rows, never false
  *    changes.
  *  - '''Bounded catch-up''' (`maxVersionsPerBatch`, plus the standard
  *    trigger knobs — `ReadLimit.maxRows`/`maxFiles` from e.g.
  *    `Trigger.AvailableNow` + `maxFilesPerTrigger`-style source options
  *    map onto the same version-window cap): a lagging consumer drains a
  *    deep backlog in version-windowed batches instead of one giant
  *    endpoint diff — each window still costs only its changed buckets.
  *    Unset = catch up in ONE endpoint-diff batch.
  *  - '''Trigger.AvailableNow''' natively ([[SupportsTriggerAvailableNow]]):
  *    the head captured at prepare time is the drain target, composing
  *    with the caps into bounded drain-and-stop.
  *
  * The default `startVersion = 0` makes the FIRST batch the table's full
  * live state as I-rows (bootstrap + tail in one stream). Exactly-once
  * composes as with the WAL tailer: replayable version-window batches + an
  * idempotent sink ([[Tailer.applyChanges]], fenced by batchId) make
  * replays no-ops. Version retention is the table's own concern
  * (expireSnapshots); the source never deletes history. The bootstrap
  * batch survives retention: a FRESH checkpoint plans [0, head] with an
  * empty before side even after v0 was expired (v0 is the empty initial
  * snapshot, so that window IS the live state as I rows — no history
  * required); only a NON-fresh checkpoint that predates the oldest
  * retained snapshot fails, with bootstrap guidance.
  */
object CdfFeed {
  /** One change row: op ∈ I/U/D + the table columns (I/U = after-image,
    * D = before-image) — the schema of every change-feed consumer.
    * With the `updatePreimages` source option, U is replaced by the
    * retraction pair U- (before-image) / U+ (after-image) — what lets a
    * downstream AGGREGATE be maintained incrementally (see [[Mv]]);
    * same schema, two rows.
    */
  val feedSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("language", StringType),
    StructField("content", StringType),
    StructField("size_bytes", LongType),
    StructField("seq", LongType)))

  /** Default reader-memory bounds: a changed bucket whose endpoint state
    * exceeds EITHER this many rows OR [[DefaultMaxStateBytes]]
    * manifest-recorded bytes (both known at PLAN time from the manifests'
    * denormalized counts — no data IO) is split into hash-of-key slices,
    * each its own InputPartition. Bounds executor memory at any table
    * size AND any row width — 8M tiny rows and 4k document-sized rows hit
    * whichever bound binds first; the cost is k sequential re-reads of
    * that one bucket's files.
    */
  val DefaultMaxStateRows: Long = 8000000L

  /** Byte bound companion to [[DefaultMaxStateRows]]: 512 MiB of
    * manifest-recorded (compressed parquet) bytes per slice — roughly
    * 1-2 GiB resident uncompressed for the before-map, inside a typical
    * executor's working memory with headroom for the streamed after pass.
    */
  val DefaultMaxStateBytes: Long = 512L * 1024 * 1024

  /** The input partitions of the change window [from, to] of `table`: one
    * [[CdfInputPartition]] per changed bucket (or hash-of-key slice of one)
    * for the [[CdfPartitionReader]] to diff. Every consumer plans here: the
    * `graft-cdf` stream, [[LakeTable.changesBetween]] and
    * [[LakeTable.drainChanges]]. `fresh` = the consumer has read nothing
    * yet (`from` is 0), so an expired v0 does not fail it; any other window
    * whose endpoint was expired throws [[LakeTable.ExpiredHistoryException]].
    */
  def plan(table: LakeTable, from: Int, to: Int, updatePreimages: Boolean,
           fresh: Boolean, maxStateRows: Long = DefaultMaxStateRows,
           maxStateBytes: Long = DefaultMaxStateBytes): Array[InputPartition] = {
    if (to <= from) return Array.empty
    def paths(fs: Seq[LakeTable.DataFile]): Array[String] =
      fs.map(f => s"${table.root}/${f.path}").toArray
    // reader-memory bound: a bucket whose endpoint state exceeds
    // maxStateRows rows OR maxStateBytes manifest-recorded bytes (both
    // known from the manifests' denormalized counts — no data IO at plan
    // time) becomes k hash-of-key slice partitions. afterUnique = the
    // after snapshot is COW (file set unique-per-key: every commit
    // rewrites its buckets whole), so the reader streams the after side
    // in ONE pass with no winner-locator; MOR needs the locator prepass.
    def sliced(bucket: Int, before: Array[String], after: Array[String],
               rows: Long, bytes: Long, afterUnique: Boolean): Seq[InputPartition] = {
      val kRows = (rows + maxStateRows - 1) / maxStateRows
      val kBytes = (bytes + maxStateBytes - 1) / maxStateBytes
      val k = math.max(1L, math.max(kRows, kBytes)).toInt
      (0 until k).map(i => CdfInputPartition(bucket, before, after, i, k,
        afterUnique, updatePreimages))
    }
    // existence is checked EXPLICITLY (not only via the read throwing):
    // snapshot bodies are cached in the table handle, so a cached endpoint
    // could otherwise outlive retention and mask the expired error
    def retained(v: Int): Option[LakeTable.Snapshot] =
      if (!table.snapshotRetained(v)) None
      else try Some(table.snapshotAt(v))
      catch { case _: java.nio.file.NoSuchFileException => None }
    (retained(from), retained(to)) match {
      case (None, Some(sTo)) if fresh =>
        // fresh consumer whose v0 was expired: the BOOTSTRAP window needs
        // no history — v0 is the empty initial snapshot, so [0, to] is by
        // construction the live state at v<to> as I rows. Plan v<to>'s
        // buckets with an EMPTY before side (same reader, same slice
        // bounds) instead of failing.
        sTo.manifests.sortBy(_.bucket).flatMap(r =>
          sliced(r.bucket, Array.empty, paths(table.filesOf(sTo, r.bucket)),
            r.rowCount, r.sizeBytes, sTo.mode == LakeTable.Cow)).toArray
      case (Some(sFrom), Some(sTo))
          if !(sFrom.numBuckets > 0 && sFrom.numBuckets == sTo.numBuckets) =>
        // a rebucket inside the window changes the key→bucket mapping, so
        // per-bucket pairing is unsound — fall back to a whole-state diff
        // (still slice-split under the same memory bounds). Conservative
        // on legacy snapshots (numBuckets unrecorded, -1): the moduli
        // cannot be PROVEN equal, and pairing bucket ids across different
        // moduli would emit a moved key as same-seq D+I rows the
        // downstream LWW breaks arbitrarily — whole-state diff unless both
        // sides record the same positive modulus.
        sliced(-1, paths(table.filesOf(sFrom)), paths(table.filesOf(sTo)),
          math.max(sFrom.totalRows, sTo.totalRows),
          math.max(sFrom.manifests.map(_.sizeBytes).sum,
            sTo.manifests.map(_.sizeBytes).sum), sTo.mode == LakeTable.Cow).toArray
      case (Some(sFrom), Some(sTo)) =>
        // a bucket whose manifest ref is identical in both snapshots
        // cannot differ (manifests are immutable)
        val refsFrom = sFrom.manifests.map(r => r.bucket -> r).toMap
        val refsTo = sTo.manifests.map(r => r.bucket -> r).toMap
        (refsFrom.keySet ++ refsTo.keySet).toArray.sorted
          .filter(b => refsFrom.get(b) != refsTo.get(b))
          .flatMap { b =>
            val rows = math.max(refsFrom.get(b).map(_.rowCount).getOrElse(0L),
              refsTo.get(b).map(_.rowCount).getOrElse(0L))
            val bytes = math.max(refsFrom.get(b).map(_.sizeBytes).getOrElse(0L),
              refsTo.get(b).map(_.sizeBytes).getOrElse(0L))
            sliced(b, paths(table.filesOf(sFrom, b)), paths(table.filesOf(sTo, b)),
              rows, bytes, sTo.mode == LakeTable.Cow)
          }
      case _ =>
        throw new LakeTable.ExpiredHistoryException(
          s"change feed: snapshot window [$from, $to] has been expired " +
            s"(oldest retained: v${table.versions().headOption.getOrElse(-1)}) — " +
            "incremental history is gone; bootstrap the consumer with a full " +
            "read() and seed its checkpoint or cursor at head")
    }
  }

  /** The change window [from, to] as a batch DataFrame, planned NOW (so an
    * expired window fails at the call, not at the first action) and read
    * by the same [[CdfPartitionReader]] as the stream: every action on the
    * frame re-reads exactly these partitions. They run in at most one task
    * per core (a narrow coalesce, each reader in turn), so a window of
    * many small buckets does not cost its consumers one task per bucket
    * in every later stage.
    */
  def window(spark: SparkSession, table: LakeTable, from: Int, to: Int,
             updatePreimages: Boolean, fresh: Boolean): DataFrame = {
    val parts = plan(table, from, to, updatePreimages, fresh)
    ColumnBridge.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(
        new CdfWindowTable(s"graft-cdf:${table.root}[$from, $to]", parts), None, None))
      .coalesce(spark.sparkContext.defaultParallelism)
  }
}

/** One planned change window as a batch-readable DSv2 table. */
private final class CdfWindowTable(override val name: String,
                                   parts: Array[InputPartition])
  extends Table with SupportsRead {
  override def schema(): StructType = CdfFeed.feedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = CdfFeed.feedSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = parts
      override def createReaderFactory(): PartitionReaderFactory = new CdfReaderFactory
      override def description(): String = name
    }
}

/** Snapshot-version offset (serialized as the bare integer, same wire
  * format as the round-3 v1 source's LongOffset — old checkpoints restore).
  */
final case class CdfOffset(version: Int) extends Offset {
  override def json: String = version.toString
}

/** `format("graft-cdf")` registration (also via META-INF/services). */
final class CdfTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def rootOf(options: java.util.Map[String, String]): String = {
    val root = options.get("path")
    if (root == null) throw new IllegalArgumentException(
      "graft-cdf needs .option(\"path\", <lake table root>)")
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "meta", "HEAD")),
      s"graft-cdf: no lake table at $root")
    root
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    rootOf(options); CdfFeed.feedSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new CdfTable(rootOf(new CaseInsensitiveStringMap(properties)))
}

final class CdfTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft-cdf:$root"
  override def schema(): StructType = CdfFeed.feedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdfScan(root,
        options.getInt("startversion", 0),
        options.getInt("maxversionsperbatch", 0),
        options.getLong("maxstaterowsperpartition", CdfFeed.DefaultMaxStateRows),
        options.getLong("maxstatebytesperpartition", CdfFeed.DefaultMaxStateBytes),
        maxRowsPerTrigger = longOpt(options, "maxrowspertrigger"),
        maxFilesPerTrigger = longOpt(options, "maxfilespertrigger"),
        updatePreimages = options.getBoolean("updatepreimages", false))
    }

  private def longOpt(options: CaseInsensitiveStringMap,
                      key: String): Option[Long] =
    Option(options.get(key)).map { v =>
      val n = try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-cdf: $key must be a positive integer, got '$v'")
      }
      require(n > 0, s"graft-cdf: $key must be positive, got $n")
      n
    }
}

final class CdfScan(root: String, startVersion: Int, maxVersionsPerBatch: Int,
                    maxStateRows: Long = CdfFeed.DefaultMaxStateRows,
                    maxStateBytes: Long = CdfFeed.DefaultMaxStateBytes,
                    maxRowsPerTrigger: Option[Long] = None,
                    maxFilesPerTrigger: Option[Long] = None,
                    updatePreimages: Boolean = false)
  extends Scan {
  override def readSchema(): StructType = CdfFeed.feedSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdfMicroBatchStream(root, startVersion, maxVersionsPerBatch,
      maxStateRows, maxStateBytes, maxRowsPerTrigger, maxFilesPerTrigger,
      updatePreimages)
  override def description(): String = s"graft-cdf[$root]"
}

final class CdfMicroBatchStream(root: String, startVersion: Int,
                                maxVersionsPerBatch: Int,
                                maxStateRows: Long = CdfFeed.DefaultMaxStateRows,
                                maxStateBytes: Long = CdfFeed.DefaultMaxStateBytes,
                                maxRowsPerTrigger: Option[Long] = None,
                                maxFilesPerTrigger: Option[Long] = None,
                                updatePreimages: Boolean = false)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxStateRows > 0,
    s"graft-cdf: maxStateRowsPerPartition must be positive, got $maxStateRows")
  require(maxStateBytes > 0,
    s"graft-cdf: maxStateBytesPerPartition must be positive, got $maxStateBytes")
  require(maxVersionsPerBatch >= 0,
    s"graft-cdf: maxVersionsPerBatch must be >= 0 (0 = unbounded), got $maxVersionsPerBatch")

  // opened ONCE per stream: snapshot metadata is immutable and cached by
  // the handle; only the HEAD pointer is re-read per poll
  private[graft] val table: LakeTable = LakeTable.open(root)

  // AvailableNow drain target, captured once at query start: commits that
  // land while the drain runs belong to the next query
  @volatile private var availableNowTarget: Option[Int] = None

  private def ver(o: Offset): Int = o.json.trim.toInt

  override def initialOffset(): Offset = CdfOffset(startVersion)

  override def deserializeOffset(json: String): Offset = CdfOffset(json.trim.toInt)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.headVersion())

  /** The limit MicroBatchExecution passes back into [[latestOffset]] every
    * tick — this is the ONLY way source options become admission control
    * in a real streaming query (Spark never invents a limit itself), so
    * the stock `maxRowsPerTrigger` / `maxFilesPerTrigger` options are
    * parsed here into standard [[ReadLimit]]s (the Kafka source pattern).
    * `maxVersionsPerBatch` stays an independent cap inside latestOffset.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)),
      maxFilesPerTrigger.map(n =>
        ReadLimit.maxFiles(math.min(n, Int.MaxValue.toLong).toInt))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // ver(start), NOT max(ver(start), startVersion): startVersion only
    // seeds initialOffset. Once a checkpoint exists its offset is the
    // contract — clamping to a raised startVersion would silently skip
    // the (checkpoint, startVersion] window (deletes included) and
    // diverge a mirror permanently. Kafka's startingOffsets behaves the
    // same way: ignored once a checkpoint exists.
    val base = ver(start)
    // ONE small-file read per tick (the HEAD pointer line names the version)
    val target = availableNowTarget.getOrElse(table.headVersion())
    val capped0 =
      if (maxVersionsPerBatch > 0) math.min(target, base + maxVersionsPerBatch)
      else target
    val capped = applyReadLimit(limit, base, capped0)
    // Fresh consumer whose v0 was expired: the bootstrap arm in
    // planInputPartitions can only read a RETAINED endpoint, but every
    // admission knob (maxVersionsPerBatch / maxRowsPerTrigger /
    // maxFilesPerTrigger) caps by COUNT and can land the first window on
    // an expired intermediate version — which would throw the curated
    // expired error at a checkpoint that IS fresh (circular guidance).
    // Raise the first window to the earliest retained version: retention
    // keeps a contiguous suffix, so everything from there on is readable,
    // and the bootstrap batch was always going to carry the full live
    // state regardless of where the count-cap landed.
    // AvailableNow edge: if an external expireSnapshots erases the drain
    // target captured at query start BEFORE the first tick, the earliest
    // retained version is past that target and the bootstrap deliberately
    // exceeds it — the minimal readable state is the only alternative to
    // failing a fresh checkpoint, and later commits folded into it are a
    // superset the next incremental window would have delivered anyway.
    val admitted =
      if (base == 0 && capped > 0 && !table.snapshotRetained(0) &&
          !table.snapshotRetained(capped))
        math.max(capped, table.versions().headOption.getOrElse(capped))
      else capped
    CdfOffset(math.max(base, admitted))
  }

  /** Honor Spark's standard admission-control hints on top of the source's
    * own `maxVersionsPerBatch`, so stock trigger knobs compose without the
    * custom option. The source's batch unit is a VERSION WINDOW:
    *
    *  - `ReadLimit.maxFiles(n)` caps the window at n versions (one version
    *    = one commit's files — the closest file-shaped unit this feed has).
    *  - `ReadLimit.maxRows(n)` walks the candidate window accumulating
    *    each version's recorded change-row count (summary `srcRows`;
    *    compaction/metadata commits record none and count 0 — they emit no
    *    feed rows) and admits versions until the budget is spent, always
    *    at least one so the stream advances. Costs O(admitted window)
    *    cached snapshot-JSON reads, only when a rows limit is in force.
    *  - `CompositeReadLimit` applies every member cap (min wins);
    *    `ReadAllAvailable`/minRows leave the window unchanged.
    */
  private def applyReadLimit(limit: ReadLimit, base: Int, target: Int): Int = limit match {
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(target)((t, l) => applyReadLimit(l, base, t))
    case f: ReadMaxFiles => math.min(target, base + math.max(1, f.maxFiles))
    case r: ReadMaxRows =>
      var v = base
      var budget = r.maxRows
      while (v < target && (budget > 0 || v == base)) {
        val rows = changeRowsOf(v + 1)
        if (rows <= budget || v == base) { v += 1; budget -= rows }
        else budget = 0
      }
      v
    case _: ReadAllAvailable => target
    case _ => target
  }

  /** Change rows a version contributed, from its snapshot summary (served
    * from the table handle's snapshot cache after the first read —
    * snapshots are immutable, so a rows-limited admission walk costs no
    * repeated metadata IO). Merge-shaped commits record `srcRows`;
    * compaction/rebucket/truncate record none → 0.
    */
  private def changeRowsOf(v: Int): Long =
    try table.snapshotAt(v).summary.get("srcRows").map(_.toLong).getOrElse(0L)
    catch { case _: java.nio.file.NoSuchFileException => 0L }

  override def reportLatestOffset(): Offset = CdfOffset(table.headVersion())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    // checkpoint offset wins over startVersion (see latestOffset); a
    // stream at offset 0 has consumed nothing, so it may bootstrap
    CdfFeed.plan(table, ver(start), ver(end), updatePreimages,
      fresh = ver(start) == 0, maxStateRows, maxStateBytes)

  override def createReaderFactory(): PartitionReaderFactory = new CdfReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"CdfMicroBatchStream[$root]"
}

/** One changed bucket (or hash-of-key slice of one): that bucket's data
  * files in each endpoint snapshot (absolute paths — executors need no
  * table handle). bucket = -1 marks the whole-state fallback partition
  * (rebucket inside the window). `(slice, nSlices)` restrict the reader to
  * keys with hash % nSlices == slice — how oversized buckets keep reader
  * memory bounded. `afterUnique` = the after snapshot is COW (unique keys
  * across its file set) → the reader streams the after side in one pass.
  */
final case class CdfInputPartition(bucket: Int, beforeFiles: Array[String],
                                   afterFiles: Array[String],
                                   slice: Int = 0, nSlices: Int = 1,
                                   afterUnique: Boolean = false,
                                   updatePreimages: Boolean = false)
  extends InputPartition

final class CdfReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdfPartitionReader(partition.asInstanceOf[CdfInputPartition])
}

/** The change-feed diff — the only one: the `graft-cdf` stream,
  * [[LakeTable.changesBetween]] and [[LakeTable.drainChanges]] all read
  * through it, from partitions [[CdfFeed.plan]] builds. Executor-side,
  * VECTORIZED and after-side-STREAMING:
  *
  *  - All file scans go through Spark's columnar parquet reader
  *    ([[org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader]]
  *    — the same kernel FileSourceScan uses), not a record-materializing
  *    example reader: decoding is per-column-batch, dictionary-aware, and
  *    string values surface as zero-copy UTF8String slices that are cloned
  *    only when retained.
  *  - The BEFORE side LWW-folds into a resident map (duplicate keys across
  *    MOR append files resolve to the highest seq; equal-seq ties to the
  *    LATEST file in byte-sorted path order — the same deterministic rule
  *    [[LakeTable]]'s Dataset-side resolve applies via the file-path
  *    tie-break, so a feed and a `readAt` of its endpoints agree).
  *  - The AFTER side is TWO passes, neither of which buffers payloads: a
  *    locator pass records each key's winning (file, row-in-file) — two
  *    ints and a long per key, no content strings — then D rows (before
  *    keys absent from after) emit from the resident before map, then the
  *    streaming pass re-scans the after files IN ORDER and emits each
  *    winner's I/U row the moment it is decoded (I = no before entry, U =
  *    any payload column differs null-safely, so a payload-only SQL MERGE
  *    update that keeps seq still reaches the feed). Peak resident state is the
  *    before map + the locator map — roughly HALF the old
  *    both-sides-materialized footprint for document-sized payloads, at
  *    the cost of scanning the after files twice (columnar decode, and
  *    the second pass skips every non-winner row without cloning it).
  */
final class CdfPartitionReader(p: CdfInputPartition)
  extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader

  // column ordinals of CdfPartitionReader.FileSchema
  private val REPO = 0; private val PATH = 1; private val COMMIT = 2
  private val LANG = 3; private val CONTENT = 4; private val SIZE = 5
  private val SEQ = 6; private val DEL = 7

  private final case class Rec(commit: UTF8String, language: UTF8String,
                               content: UTF8String, sizeBytes: java.lang.Long,
                               seq: Long, deleted: Boolean)

  /** Initialize `reader` on one whole data file the way FileSourceScan does:
    * a file split over the JVM's one shared read conf. The path-only
    * `initialize(path, columns)` builds and parses a new Hadoop conf per
    * file, which took over half of a small change window's time.
    */
  private def open(reader: VectorizedParquetRecordReader, file: String): Unit =
    reader.initialize(
      new org.apache.hadoop.mapred.FileSplit(new org.apache.hadoop.fs.Path(file), 0L,
        Long.MaxValue, Array.empty[String]),
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(CdfPartitionReader.ReadConf,
        new org.apache.hadoop.mapreduce.TaskAttemptID()))

  /** Iterate a file list with the vectorized reader, calling `f` with the
    * current batch row (valid only during the call — clone what you keep),
    * the file index and the row index within the file. Files visit in
    * byte-sorted path order, which is what makes "later file wins equal
    * seq" deterministic.
    */
  private def scan(files: Array[String])(f: (InternalRow, Int, Int) => Unit): Unit = {
    var fi = 0
    while (fi < files.length) {
      val reader = new VectorizedParquetRecordReader(false, 4096)
      try {
        open(reader, files(fi))
        val batch = reader.resultBatch() // allocates the column vectors
        var ri = 0
        while (reader.nextBatch()) {
          val it = batch.rowIterator()
          while (it.hasNext) { f(it.next(), fi, ri); ri += 1 }
        }
      } finally reader.close()
      fi += 1
    }
  }

  /** Slice membership for split oversized buckets — any deterministic key
    * hash works as long as both endpoint reads use the same one.
    */
  private def inSlice(repo: UTF8String, path: UTF8String): Boolean =
    p.nSlices <= 1 || math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(repo.toString + "\u0000" + path.toString),
      p.nSlices) == p.slice

  private def str(row: InternalRow, i: Int): UTF8String =
    if (row.isNullAt(i)) null else row.getUTF8String(i)

  /** LWW-fold one side into a resident map (the BEFORE side only — the
    * after side streams). Later (file, row) wins ties on equal seq; a
    * single file never repeats a key (ingest unique-key invariant), so
    * file order alone breaks every cross-file tie.
    */
  private def readSide(files: Array[String]): java.util.HashMap[(UTF8String, UTF8String), Rec] = {
    val m = new java.util.HashMap[(UTF8String, UTF8String), Rec]
    scan(files.sorted) { (row, _, _) =>
      val repo = row.getUTF8String(REPO); val path = row.getUTF8String(PATH)
      if (inSlice(repo, path)) {
        val cur = m.get((repo, path))
        val seq = row.getLong(SEQ)
        if (cur == null || seq >= cur.seq) {
          def cs(i: Int) = { val v = str(row, i); if (v == null) null else v.clone() }
          m.put((repo.clone(), path.clone()), Rec(cs(COMMIT), cs(LANG), cs(CONTENT),
            if (row.isNullAt(SIZE)) null else java.lang.Long.valueOf(row.getLong(SIZE)),
            seq, !row.isNullAt(DEL) && row.getBoolean(DEL)))
        }
      }
    }
    m
  }

  private def differs(a: Rec, commit: UTF8String, language: UTF8String,
                      content: UTF8String, sizeBytes: java.lang.Long, seq: Long): Boolean =
    a.commit != commit || a.language != language || a.content != content ||
      a.sizeBytes != sizeBytes || a.seq != seq

  /** Winner locator for the after side: key → (fileIdx, rowIdx, seq,
    * deleted) — packed, no payload strings beyond the key itself.
    */
  private final class Loc(val fileIdx: Int, val rowIdx: Int, val seq: Long,
                          val deleted: Boolean)

  private def outRow(op: String, repo: UTF8String, path: UTF8String, commit: UTF8String,
                     language: UTF8String, content: UTF8String,
                     sizeBytes: java.lang.Long, seq: Long): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(op), repo, path, commit, language,
      content, if (sizeBytes == null) null else sizeBytes.longValue, seq))

  /** Streamed scan as an iterator: decode the file list in order, run
    * `emit` on each row, surface its results one at a time (Nil = skip; a
    * U row under updatePreimages yields the U-/U+ pair — the only >1
    * case). Only the reader's own 4k-row columnar batch is ever buffered.
    * The currently-open file reader is registered in
    * [[activeStreamReader]] so [[close]] can release it when the iterator
    * is abandoned mid-stream (task cancellation, a downstream limit, an
    * exception in a later operator) — draining to the end closes it
    * inline as before.
    */
  private def streamScan(files: Array[String])(
      emit: (InternalRow, Int, Int) => List[InternalRow]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var fi = 0
      private var reader: VectorizedParquetRecordReader = _
      private var batchIt: java.util.Iterator[InternalRow] = _
      private var ri = 0
      private var nextRow: InternalRow = _
      private var pending: List[InternalRow] = Nil

      private def openNext(): Boolean = {
        while (fi < files.length) {
          if (reader == null) {
            reader = new VectorizedParquetRecordReader(false, 4096)
            activeStreamReader = reader
            open(reader, files(fi))
            reader.resultBatch() // allocates the column vectors
            ri = 0
          }
          if (reader.nextBatch()) {
            batchIt = reader.resultBatch().rowIterator()
            return true
          }
          reader.close(); activeStreamReader = null; reader = null; fi += 1
        }
        false
      }

      @annotation.tailrec
      private def advance(): Unit = {
        if (pending.nonEmpty) {
          nextRow = pending.head; pending = pending.tail
        } else if (batchIt != null && batchIt.hasNext) {
          val row = batchIt.next()
          val out = emit(row, fi, ri)
          ri += 1
          if (out.nonEmpty) { nextRow = out.head; pending = out.tail; return }
          advance()
        } else if (openNext()) advance()
        else nextRow = null
      }

      override def hasNext: Boolean = {
        if (nextRow == null) advance()
        nextRow != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }

  private def cloneRow(op: String, row: InternalRow, repo: UTF8String,
                       path: UTF8String): InternalRow = {
    def c(s: UTF8String) = if (s == null) null else s.clone()
    outRow(op, repo.clone(), path.clone(), c(str(row, COMMIT)),
      c(str(row, LANG)), c(str(row, CONTENT)),
      if (row.isNullAt(SIZE)) null else java.lang.Long.valueOf(row.getLong(SIZE)),
      row.getLong(SEQ))
  }

  /** Update emission: plain after-image U row, or — with updatePreimages —
    * the Flink-CDC-style retraction pair [U- before-image, U+ after-image]
    * that lets a downstream aggregate retract an update from its old group.
    * The before Rec's strings are map-owned clones; only the batch-local
    * key needs cloning.
    */
  private def uRows(row: InternalRow, repo: UTF8String, path: UTF8String,
                    b: Rec): List[InternalRow] =
    if (!p.updatePreimages) cloneRow("U", row, repo, path) :: Nil
    else outRow("U-", repo.clone(), path.clone(), b.commit, b.language,
      b.content, b.sizeBytes, b.seq) :: cloneRow("U+", row, repo, path) :: Nil

  /** The streamScan file reader currently holding an open file, if any —
    * owned here so an abandoned iterator still releases it via [[close]].
    */
  private var activeStreamReader: VectorizedParquetRecordReader = _

  // a var so a drained reader drops its state: Spark closes readers only
  // at task end, and a coalesced task drains several in turn
  private var rows: Iterator[InternalRow] = {
    val before = readSide(p.beforeFiles)
    val afterFiles = p.afterFiles.sorted

    def dRow(k: (UTF8String, UTF8String), b: Rec): InternalRow =
      outRow("D", k._1, k._2, b.commit, b.language, b.content, b.sizeBytes, b.seq)

    if (p.afterUnique) {
      // COW after side: unique keys across the file set — ONE streamed
      // pass decides I/U (and inline D for tombstone rows) on sight; a
      // key-set of before-keys seen in the after files (keys only, no
      // payload) drives the final D sweep. No locator, no second read:
      // strictly less IO and less memory than materializing both sides.
      val seen = new java.util.HashSet[(UTF8String, UTF8String)]
      val iu = streamScan(afterFiles) { (row, _, _) =>
        val repo = row.getUTF8String(REPO); val path = row.getUTF8String(PATH)
        if (!inSlice(repo, path)) Nil
        else {
          val b0 = before.get((repo, path))
          if (b0 != null) seen.add((repo.clone(), path.clone()))
          val b = if (b0 != null && b0.deleted) null else b0
          if (!row.isNullAt(DEL) && row.getBoolean(DEL)) {
            // tombstone row killing a live before key → D with before-image
            if (b != null)
              outRow("D", repo.clone(), path.clone(), b.commit, b.language,
                b.content, b.sizeBytes, b.seq) :: Nil
            else Nil
          } else {
            val commit = str(row, COMMIT); val lang = str(row, LANG)
            val content = str(row, CONTENT)
            val size = if (row.isNullAt(SIZE)) null else java.lang.Long.valueOf(row.getLong(SIZE))
            val seq = row.getLong(SEQ)
            if (b == null) cloneRow("I", row, repo, path) :: Nil
            else if (differs(b, commit, lang, content, size, seq)) uRows(row, repo, path, b)
            else Nil
          }
        }
      }
      // final D sweep runs AFTER the stream drains (iterator is lazy, so
      // wrap it): live before-keys never seen in the after files
      def dSweep(): Iterator[InternalRow] = {
        val buf = scala.collection.mutable.ArrayBuffer[InternalRow]()
        before.forEach { (k, b) =>
          if (!b.deleted && !seen.contains(k)) buf += dRow(k, b)
        }
        buf.iterator
      }
      iu ++ dSweep()
    } else {
      // MOR after side: duplicate keys across append files → a locator
      // prepass records each key's winning (file, row) — two ints and a
      // long per key, no content — then the streamed pass emits exactly
      // the winners. Memory stays before-map + locator; the cost is
      // reading the after files twice.
      val winners = new java.util.HashMap[(UTF8String, UTF8String), Loc]
      scan(afterFiles) { (row, fi, ri) =>
        val repo = row.getUTF8String(REPO); val path = row.getUTF8String(PATH)
        if (inSlice(repo, path)) {
          val cur = winners.get((repo, path))
          val seq = row.getLong(SEQ)
          if (cur == null || seq >= cur.seq)
            winners.put((repo.clone(), path.clone()),
              new Loc(fi, ri, seq, !row.isNullAt(DEL) && row.getBoolean(DEL)))
        }
      }

      // D pass: live before-keys whose after-winner is absent or a
      // tombstone (before-images are resident — references, not copies)
      val dRows = scala.collection.mutable.ArrayBuffer[InternalRow]()
      before.forEach { (k, b) =>
        if (!b.deleted) {
          val w = winners.get(k)
          if (w == null || w.deleted) dRows += dRow(k, b)
        }
      }

      val iu = streamScan(afterFiles) { (row, fi, ri) =>
        val repo = row.getUTF8String(REPO); val path = row.getUTF8String(PATH)
        if (!inSlice(repo, path)) Nil
        else {
          val w = winners.get((repo, path))
          if (w == null || w.deleted || w.fileIdx != fi || w.rowIdx != ri) Nil
          else {
            val b0 = before.get((repo, path))
            val b = if (b0 != null && b0.deleted) null else b0
            if (b == null) cloneRow("I", row, repo, path) :: Nil
            else if (differs(b, str(row, COMMIT), str(row, LANG), str(row, CONTENT),
              if (row.isNullAt(SIZE)) null else java.lang.Long.valueOf(row.getLong(SIZE)),
              row.getLong(SEQ))) uRows(row, repo, path, b)
            else Nil
          }
        }
      }
      iu ++ dRows.iterator
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else { rows = Iterator.empty; false }
  override def get(): InternalRow = current
  override def close(): Unit = {
    if (activeStreamReader != null) {
      activeStreamReader.close()
      activeStreamReader = null
    }
  }
}

private[stream] object CdfPartitionReader {
  import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
  import org.apache.spark.sql.internal.SQLConf

  /** A lake data file's columns in file-schema order: the feed's payload
    * columns, then the tombstone flag.
    */
  val FileSchema: StructType =
    StructType(CdfFeed.feedSchema.fields.tail :+ StructField("deleted", BooleanType))

  /** The Hadoop conf every data-file read in this JVM shares (read-only
    * once built): Parquet's read support projected to [[FileSchema]], and
    * the five SQL keys Spark's path-only reader initialize sets to false.
    * Built from the JVM's Hadoop defaults, not the session's conf: on a
    * cluster whose file system needs session settings, this is the seam
    * that would take the executor's conf instead.
    */
  lazy val ReadConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, FileSchema.json)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => c.setBoolean(e.key, false))
    c
  }
}
