package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Last-writer-wins dedupe by key + monotonic sequence — the engine's core
  * reduction (SURVEY.md A4; reference semantics: staged file overwritten per
  * id, PantherLocalWrapper.java:211-225; Solr doc replaced on re-add,
  * PhylogenesServerWrapper.java:925-931).
  *
  * One production path: [[lwwBroadcast]] finds the winners on the narrow
  * (key, seq) columns and joins them back by broadcast; past its cap it
  * falls back to [[lwwTyped]], one hash-aggregate pass. Both drop a key
  * with a null component and a key whose every seq is null, so a batch's
  * output does not depend on which side of the cap it lands. [[lww]] is the
  * plain `max_by` reference the specs compare against; it is not on the
  * production path.
  *
  * Hot keys are not salted: map-side combine already bounds a key's
  * reducer fan-in at the number of map tasks, and a salted two-phase
  * variant anti-scaled when measured (`bench/results_r5.jsonl`).
  *
  * Deterministic for unique `seq` (ties impossible by construction — seq is
  * the WAL LSN).
  */
object Dedupe {

  /** Resolve a column by its LITERAL name (backtick-quoted, with embedded
    * backticks doubled) — `col("a.b")` parses a dotted name as a nested
    * field path, so a payload column named `meta.size` would break every
    * function of this otherwise schema-generic API.
    */
  private def q(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** Reference LWW: `max_by(struct(payload...), seq)` per key, planned as a
    * SortAggregate. Not on the production path; the specs check
    * [[lwwTyped]] and [[lwwBroadcast]] against it on well-formed input
    * (it keeps null-key groups, which the production path drops).
    */
  def lww(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(q): _*)
      .agg(max_by(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*) // original column order
  }

  /** Hash-aggregate LWW via the custom [[LwwAgg]] TypedImperativeAggregate:
    * same semantics as [[lww]], but planned as ObjectHashAggregateExec
    * (map-side combine, no sort) — `max_by` over a struct-of-strings buffer
    * forces SortAggregateExec, which sorts every payload byte and
    * anti-scales with cores. This is [[lwwBroadcast]]'s fallback. A key
    * whose every seq is null has no winner (LwwAgg skips null seqs and
    * yields null) and is dropped, and so is every row with a null key
    * component — both exactly as [[lwwBroadcast]] drops them.
    */
  def lwwTyped(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.where(keys.map(q(_).isNotNull).foldLeft(lit(true))(_ && _))
      .groupBy(keys.map(q): _*)
      .agg(LwwAgg.lww(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .where(col("_w").isNotNull)
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Adaptive two-pass LWW (guide §2.3 "shuffle keys and metadata instead
    * of payloads"): pass 1 aggregates max(seq) per key over the NARROW
    * key+seq columns — a columnar source reads nothing else, and the
    * exchange moves ~40-byte rows instead of full payloads; pass 2 re-scans
    * the input and keeps exactly the winner rows via a BROADCAST join on
    * (key, seq). Payload bytes are never shuffled and never copied through
    * agg buffers (the single-pass [[lwwTyped]] copies the payload struct
    * into its buffer on every seq advance — O(events) copies on
    * monotone-seq logs, measured 4-8 s/1M×1.1KB events vs ~1 s here).
    *
    * Pass 1 brings at most `maxKeys + 1` winner rows to the driver and the
    * join broadcasts them from there: the collect is both the size check
    * and the broadcast input, so no count or checkpoint job runs. When the
    * winner set exceeds `maxKeys` (the steady-state shape for huge backfill
    * batches) it falls back to [[lwwTyped]], whose shuffle is
    * O(map-side-combined winners).
    *
    * Sizing `maxKeys`: while the broadcast is built the driver holds up to
    * `maxKeys + 1` winners three times over — as collected rows, as their
    * internal copy and in the hash relation. For repo/path keys of ~60
    * characters that is an estimated ~0.5 KB of driver heap per winner
    * (object-size arithmetic, unverified by measurement), so ~0.5 GB at
    * the 1M default; each executor holds one copy of the relation. The
    * Tailer passes `min(1M, driver max heap / 4096)`, which keeps the
    * estimate at or below 1/8 of the driver heap; past the cap a batch
    * takes the fallback, which needs no driver memory.
    *
    * Equal-(key, seq) duplicates (idempotent re-delivered writes) collapse
    * to one arbitrary row — the same contract as LwwAgg's first-seen tie.
    * Pass 1 counts the rows at each key's winning seq ([[SeqMaxCount]]), so
    * the collapsing shuffle runs only for a batch that holds such a
    * duplicate.
    *
    * A key whose every seq is null has no winner, and a row with a null
    * key component could never match the join-back: pass 1 drops both
    * (so neither counts toward the cap), exactly as [[lwwTyped]] drops
    * them, so the output does not depend on `maxKeys`.
    */
  def lwwBroadcast(df: DataFrame, keys: Seq[String], seqCol: String,
                   maxKeys: Long = 1000000L): DataFrame =
    lwwBroadcastOrEmpty(df, keys, seqCol, maxKeys, df)
      .getOrElse(df.select(df.columns.map(q).toIndexedSeq: _*).where(lit(false)))

  /** [[lwwBroadcast]] that reports an input without winners as None, from
    * pass 1 alone (no separate emptiness probe). `full` holds the same rows
    * as `df` and is what the join-back — or the [[lwwTyped]] fallback —
    * scans in full; a caller passes `df` under a pass-through tap to see
    * every input row on that one full-width scan.
    */
  private[graft] def lwwBroadcastOrEmpty(df: DataFrame, keys: Seq[String], seqCol: String,
                                         maxKeys: Long, full: DataFrame): Option[DataFrame] = {
    val winners = df.groupBy(keys.map(q): _*).agg(SeqMaxCount.of(q(seqCol)).as("_m"))
      .select(keys.map(q) :+ col("_m.max").as(seqCol) :+ col("_m.n").as("_n"): _*)
      .where((keys :+ seqCol).map(q(_).isNotNull).reduce(_ && _))
    val cap = math.min(math.max(maxKeys, 0L), Int.MaxValue - 1L).toInt
    val rows = winners.limit(cap + 1).collect()
    if (rows.isEmpty) None
    else if (rows.length > cap) Some(lwwTyped(full, keys, seqCol))
    else {
      val local = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), winners.schema)
        .drop("_n")
      val joined = full.join(broadcast(local), keys :+ seqCol)
      // a key with two rows at its winning seq matches twice; only then
      // does the join-back need the shuffle that collapses them
      val unique = if (rows.exists(_.getAs[Long]("_n") > 1)) joined.dropDuplicates(keys)
                   else joined
      Some(unique.select(df.columns.map(q).toIndexedSeq: _*))
    }
  }
}
