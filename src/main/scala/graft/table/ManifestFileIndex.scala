package graft.table

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] whose file list IS a manifest's: one unpartitioned
  * directory of exactly `files`. Planning a scan over it does no glob
  * and no Spark listing job (a path-based read re-discovers the files,
  * and above 32 paths runs a listing job to do it) — the same idea as
  * Structured Streaming's file-sink metadata log.
  *
  * Each file's length comes from one local stat here, on the driver,
  * which throws NoSuchFileException if the file is missing; a file
  * deleted after planning fails the scan task. Either way a missing
  * file fails the read — never fewer rows.
  *
  * Equality is by file list, so plan reuse and cache matching see two
  * reads of the same files as the same relation. */
final case class ManifestFileIndex(files: Seq[DataFile]) extends FileIndex {

  private val statuses: Array[FileStatus] = files.map { f =>
    val local = Paths.get(f.path).toAbsolutePath
    // the (scheme, authority, path) constructor escapes URI
    // metacharacters, so a root under `t{a}` or `t[1]` names itself
    // literally — never a glob
    new FileStatus(Files.size(local), false, 1, 0L, 0L,
      new Path("file", null, local.toString))
  }.toArray

  override def rootPaths: Seq[Path] = statuses.toSeq.map(_.getPath)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}
