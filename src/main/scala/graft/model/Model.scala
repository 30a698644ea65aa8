package graft.model

import org.apache.spark.sql.types._

/** Core data model of the CDC engine.
  *
  * The engine tails an ordered change log of source-code repository records
  * and maintains a keyed lake table, mirroring the reference's staged-JSON /
  * Solr-upsert semantics (reference: PantherLocalWrapper.java:211-225 — one
  * staged doc per key, last write wins; PhylogenesServerWrapper.java:147-152 —
  * full-doc upsert; PantherLocalWrapper.java:385-391 — delete tombstone).
  */
object Model {

  /** A single change event — the engine's WAL record.
    *
    * `seq` is the globally-unique monotone log sequence number (reference
    * analog: GAF line number / `last_processed` offset,
    * PaintServerWrapper.java:102). `payload` carries the epoch-specific
    * record as JSON (reference analog: the opaque `jsonString` column,
    * PantherData.java:25) and is decoded per `schemaId` by [[SchemaRegistry]].
    */
  final case class ChangeEvent(
      seq: Long,
      op: String, // "I" | "U" | "D"
      repo: String,
      path: String,
      schema_id: Int,
      ts: java.sql.Timestamp,
      payload: String // JSON, null for D
  )

  /** The change-log's on-disk StructType (stable across schema epochs —
    * evolution happens inside `payload`).
    */
  val changeLogSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("schema_id", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("payload", StringType, nullable = true)
  ))

  /** A row of the maintained lake table, in the LATEST reader schema.
    * Per input_hint the base columns are (repo, path, commit, lang, content);
    * epoch 1 added `size_bytes`, epoch 2 widened it int→long and renamed
    * `lang`→`language` (field-id preserved). `seq` is retained for the
    * MERGE seq-guard (older writers must lose).
    */
  final case class RepoRecord(
      repo: String,
      path: String,
      commit: String,
      language: String,
      content: String,
      size_bytes: Option[Long],
      seq: Long
  )

  /** Per-partition lineage row (north_rule requirement). */
  final case class LineageRow(
      batchId: Long,
      partitionId: Int,
      firstOffset: Long,
      lastOffset: Long,
      rowsApplied: Long,
      bytesIn: Long
  )

  /** Metrics row (Dropwizard-style counters/gauges per batch). */
  final case class MetricRow(
      batchId: Long,
      name: String,
      value: Double,
      ts: java.sql.Timestamp
  )
}

/** Schema-epoch registry: latest-reader resolves all historical writer
  * schemas, Iceberg-style — fields are identified by permanent field id,
  * names may change across epochs (rename = same id, new name).
  *
  * Reference analog: `@JsonIgnoreProperties(ignoreUnknown=true)` on every
  * module POJO plus the dual-epoch resolution in SearchResult.java:18-22
  * (direct `annotation_node` vs nested `tree_topology.annotation_node`)
  * and the 4-vs-5-column PAINT rows (PaintServerWrapper.java:38-42).
  */
object SchemaRegistry {

  /** A payload field: permanent id, per-epoch name, type. */
  final case class FieldDef(id: Int, name: String, dataType: DataType)

  /** One writer epoch. */
  final case class Epoch(schemaId: Int, fields: Seq[FieldDef]) {
    def struct: StructType =
      StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)))
  }

  // Field ids are permanent: 1=commit, 2=lang/language, 3=content, 4=size_bytes.
  val epoch0: Epoch = Epoch(0, Seq(
    FieldDef(1, "commit", StringType),
    FieldDef(2, "lang", StringType),
    FieldDef(3, "content", StringType)
  ))
  val epoch1: Epoch = Epoch(1, Seq(
    FieldDef(1, "commit", StringType),
    FieldDef(2, "lang", StringType),
    FieldDef(3, "content", StringType),
    FieldDef(4, "size_bytes", IntegerType) // added in epoch 1 (int)
  ))
  val epoch2: Epoch = Epoch(2, Seq(
    FieldDef(1, "commit", StringType),
    FieldDef(2, "language", StringType), // renamed lang→language, same field id
    FieldDef(3, "content", StringType),
    FieldDef(4, "size_bytes", LongType) // widened int→long
  ))

  val epochs: Seq[Epoch] = Seq(epoch0, epoch1, epoch2)
  val byId: Map[Int, Epoch] = epochs.map(e => e.schemaId -> e).toMap
  val latest: Epoch = epochs.last
}
