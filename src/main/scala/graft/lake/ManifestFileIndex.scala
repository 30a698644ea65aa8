package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over data files a manifest already lists: one unpartitioned
  * directory whose statuses come from the manifest entries, so planning a
  * scan makes no filesystem call per file (no existence check, no leaf
  * listing and no listing job past Spark's parallel-discovery threshold).
  * The files are immutable once committed, so the index never refreshes.
  *
  * Equality is over the file set, as `InMemoryFileIndex`'s is over its root
  * paths, so `sameResult` and the cache manager match two scans of the same
  * files. The root paths are the files themselves, as when the same paths
  * are handed to `spark.read.parquet`.
  */
final class ManifestFileIndex(statuses: Seq[FileStatus]) extends FileIndex {
  override val rootPaths: Seq[Path] = statuses.map(_.getPath)
  private val files = statuses.map(FileStatusWithMetadata(_))
  private val pathSet = rootPaths.toSet

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files))
  override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = statuses.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => pathSet == m.pathSet
    case _ => false
  }
  override def hashCode: Int = pathSet.hashCode
}
