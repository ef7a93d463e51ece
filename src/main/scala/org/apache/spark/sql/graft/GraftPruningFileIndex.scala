package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  FileStatusWithMetadata, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** V1 file index over an EXPLICIT manifest file set with planning-time
  * manifest-bounds skipping: `listFiles` receives the data filters the
  * planner pushed into the scan (both the v1 `FileSourceScanExec` and the
  * v2 `FileScan` forward them) and drops the files `keepFor` proves
  * irrelevant. Pruning stays invisible in results — the row-level filter
  * runs after the scan; an over-kept file only costs I/O, and a DV entry
  * of a pruned file simply never matches the deletion-vector mask.
  *
  * Leaf statuses come from the lake, never from Spark's listing: Spark
  * lists more than `spark.sql.sources.parallelPartitionDiscovery
  * .threshold` (32) explicit paths with a Spark JOB, which every read of a
  * table with many live files would pay at plan time. Instead each
  * directory the paths name is listed ONCE on the driver and the named
  * files are kept — the same filesystem calls a directory scan makes.
  * A named file the listing lacks fails the read loudly.
  *
  * Lives in `org.apache.spark.sql` because the v1 datasource internals
  * ([[InMemoryFileIndex]], [[FileStatusCache]]) are spark-private.
  */
final class GraftPruningFileIndex(
    spark: SparkSession,
    files: Seq[Path],
    parameters: Map[String, String],
    userSpecifiedSchema: Option[StructType],
    keepFor: Seq[Expression] => Option[FileStatusWithMetadata => Boolean])
  extends InMemoryFileIndex(spark, files, parameters, userSpecifiedSchema,
    GraftPruningFileIndex.statusesOf(spark, files)) {

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    keepFor(dataFilters) match {
      case None => base
      case Some(keep) =>
        // an all-pruned scan is legal: an empty partition list plans an
        // empty RDD
        base.map(pd => pd.copy(files = pd.files.filter(keep)))
          .filter(_.files.nonEmpty)
    }
  }
}

object GraftPruningFileIndex {
  /** A status cache answering every file of `files` from one listing of
    * its directory. Committed files never change, so the cache is never
    * invalidated. */
  private def statusesOf(spark: SparkSession, files: Seq[Path]): FileStatusCache = {
    val conf = spark.sessionState.newHadoopConf()
    val byPath: Map[Path, Array[FileStatus]] =
      files.groupBy(_.getParent).iterator.flatMap { case (dir, named) =>
        val listed = dir.getFileSystem(conf).listStatus(dir)
          .map(s => s.getPath.getName -> s).toMap
        named.map { p =>
          p -> Array(listed.getOrElse(p.getName,
            throw new java.io.FileNotFoundException(
              s"manifest file $p is missing from its directory")))
        }
      }.toMap
    new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
  }
}
