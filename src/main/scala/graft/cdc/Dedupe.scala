package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-writer-wins dedupe by key + monotonic sequence — the engine's core
  * reduction (SURVEY.md A4; reference semantics: staged file overwritten per
  * id, PantherLocalWrapper.java:211-225; Solr doc replaced on re-add,
  * PhylogenesServerWrapper.java:925-931).
  *
  * Three interchangeable implementations (benchmarked against each other):
  *
  *  - [[lww]] — single `max_by(struct(*), seq)` hash aggregate. Spark's
  *    partial aggregation gives map-side combine for free, so hot keys are
  *    already pre-reduced per input partition before the shuffle.
  *  - [[lwwSalted]] — explicit two-phase: partial LWW per (key, salt) then
  *    final LWW per key. The salt (`pmod(hash(seq), S)`) spreads a hot key's
  *    residual shuffle rows over S reducers — the north-rule's salted-key
  *    repartition for Zipf-skewed repos.
  *  - [[lwwWindow]] — `row_number() over (partition by key order by seq desc)
  *    = 1`. Requires a full sort per key; kept for benchmark comparison.
  *
  * All three are deterministic for unique `seq` (ties impossible by
  * construction — seq is the WAL LSN).
  */
object Dedupe {

  /** Resolve a column by its LITERAL name (backtick-quoted, with embedded
    * backticks doubled) — `col("a.b")` parses a dotted name as a nested
    * field path, so a payload column named `meta.size` would break every
    * variant of this otherwise schema-generic API.
    */
  private def q(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** max_by(struct(payload...), seq) per key. */
  def lww(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(q): _*)
      .agg(max_by(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*) // original column order
  }

  /** Two-phase salted LWW: partial reduce per (key, salt) → final per key.
    * Salt derives from `seq` so a key's events spread uniformly.
    */
  def lwwSalted(df: DataFrame, keys: Seq[String], seqCol: String, saltBuckets: Int = 16): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val keyCols = keys.map(q)
    val salted = df.withColumn("_salt", pmod(hash(q(seqCol)), lit(saltBuckets)))
    // The groupBy's exchange hash-partitions on (key, salt) — that IS the
    // salted-key repartition, and it moves only the map-side-combined rows
    // (an explicit .repartition here would shuffle the full raw payload).
    val partial = salted
      .groupBy((keyCols :+ col("_salt")): _*)
      .agg(max_by(struct(payload.map(q): _*), q(seqCol)).as("_w"))
    partial
      .groupBy(keyCols: _*)
      .agg(max_by(col("_w"), col("_w").getField(seqCol)).as("_w"))
      .select(keyCols ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Hash-aggregate LWW via the custom [[LwwAgg]] TypedImperativeAggregate:
    * same semantics as [[lww]], but planned as ObjectHashAggregateExec
    * (map-side combine, no sort) — `max_by` over a struct-of-strings buffer
    * forces SortAggregateExec, which sorts every payload byte and
    * anti-scales with cores. This is [[lwwBroadcast]]'s fallback. A key
    * whose every seq is null has no winner (LwwAgg skips null seqs and
    * yields null) and is dropped, as [[lwwBroadcast]] drops it.
    */
  def lwwTyped(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(q): _*)
      .agg(LwwAgg.lww(struct(payload.map(q): _*), q(seqCol)).as("_w"))
      .where(col("_w").isNotNull)
      .select(keys.map(q) ++ payload.map(c => col("_w").getField(c).as(c)): _*)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Salted two-phase variant of [[lwwTyped]] (north-rule hot-key path):
    * partial LWW per (key, salt) then final LWW per key — both phases
    * hash-based. All-null-seq keys are dropped, as in [[lwwTyped]].
    */
  def lwwTypedSalted(df: DataFrame, keys: Seq[String], seqCol: String,
                     saltBuckets: Int = 16): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val keyCols = keys.map(q)
    val partial = df
      .withColumn("_salt", pmod(hash(q(seqCol)), lit(saltBuckets)))
      .groupBy((keyCols :+ col("_salt")): _*)
      .agg(LwwAgg.lww(struct(payload.map(q): _*), q(seqCol)).as("_w"))
    partial
      .groupBy(keyCols: _*)
      .agg(LwwAgg.lww(col("_w"), col("_w").getField(seqCol)).as("_w"))
      .where(col("_w").isNotNull)
      .select(keyCols ++ payload.map(c => col("_w").getField(c).as(c)): _*)
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
    * Sizing `maxKeys` (`spark.graft.lww.broadcastMaxKeys` in the Tailer):
    * while the broadcast is built the driver holds up to `maxKeys + 1`
    * winners three times over — as collected rows, as their internal copy
    * and in the hash relation. For repo/path keys of ~60 characters that
    * is an estimated ~0.5 KB of driver heap per winner (object-size
    * arithmetic, not a measurement), so ~0.5 GB at the 1M default; each
    * executor holds one copy of the relation. Keep `maxKeys` × 0.5 KB a
    * small fraction of the driver heap; past the cap a batch takes the
    * fallback, which needs no driver memory.
    *
    * Equal-(key, seq) duplicates (idempotent re-delivered writes) collapse
    * to one arbitrary row — the same contract as LwwAgg's first-seen tie.
    * Pass 1 counts the rows at each key's winning seq ([[SeqMaxCount]]), so
    * the collapsing shuffle runs only for a batch that holds such a
    * duplicate.
    *
    * A key whose every seq is null has no winner and is dropped, exactly
    * as [[lwwTyped]] drops it, so the output does not depend on `maxKeys`.
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
      .where(q(seqCol).isNotNull)
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

  /** Argmax-join variant: max(seq) per key (fixed-width buffer → pure
    * HashAggregate) then inner join back on (key, seq). Two passes over
    * the data but no wide agg buffer; kept for benchmarking.
    */
  def lwwJoin(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val winners = df.groupBy(keys.map(q): _*).agg(max(q(seqCol)).as(seqCol))
    // a re-delivered idempotent write carries an identical (key, max-seq)
    // pair and the join-back keeps BOTH copies — collapse to one row per
    // key (arbitrary among equal-seq rows, same contract as LwwAgg's
    // first-seen tie) so every variant upholds the dedupe contract
    df.join(winners, keys :+ seqCol).dropDuplicates(keys)
      .select(df.columns.map(q).toIndexedSeq: _*)
  }

  /** Window-function variant (row_number desc = 1) for benchmarking. */
  def lwwWindow(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(q): _*).orderBy(q(seqCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
