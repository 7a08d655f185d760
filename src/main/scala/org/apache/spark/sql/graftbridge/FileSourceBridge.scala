package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` [[DataSource]] construction, so the
  * registered `graft-shards` stream provider can DELEGATE file tracking
  * to Spark's own `FileStreamSource` instead of re-implementing it: the
  * returned source owns the per-batch file-metadata log (exactly-once
  * file admission across restarts), `maxFilesPerTrigger` admission
  * control, and `Trigger.AvailableNow` end-offset pinning — the proven
  * machinery every built-in file stream runs on. Same isolation rationale
  * as [[ColumnBridge]]: one shim, the rest of graft stays on public API.
  */
object FileSourceBridge {

  /** A parquet `FileStreamSource` rooted at `path`, writing its file
    * metadata log under `metadataPath` (the per-source subdirectory of
    * the query checkpoint that `createSource` receives).
    */
  def parquetStreamSource(spark: SparkSession, metadataPath: String,
      schema: StructType, path: String, options: Map[String, String]): Source =
    DataSource(
      sparkSession = spark,
      className = "parquet",
      userSpecifiedSchema = Some(schema),
      options = options + ("path" -> path)
    ).createSource(metadataPath)

  /** The inner file listing's skip rule for one path component
    * (`HadoopFSUtils.shouldFilterOutPathName`): names starting with `_`
    * and holding no `=` (`_temporary`, `_SUCCESS`), names starting with
    * `.` (`.staging`, checksums), and `._COPYING_` in-flight copies. A
    * walk that must see exactly the files a `FileStreamSource` can admit
    * applies it to every directory and file name.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Read-only, incremental view of the files a `FileStreamSource` rooted
    * at `metadataPath` has ALREADY admitted (its per-batch file-metadata
    * log), as qualified Hadoop paths. One handle over the same on-disk log
    * the live source appends to: each [[newlyAdmitted]] call returns only
    * the batches logged since the previous call, so a wrapping source can
    * keep its pending-file set (listing minus admitted) without
    * duplicating the source's seen-files state or re-reading the whole
    * log every trigger.
    */
  final class AdmittedFiles(spark: SparkSession, metadataPath: String) {
    import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
    private val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, metadataPath)
    private var lastBatch = -1L

    /** Files of the batches logged since the previous call. The first
      * call returns every file admitted so far, read from the latest
      * compaction on (a successor over a long-lived log never walks
      * batch files that compaction already deleted); later calls read
      * only the new batches (`get` resolves a compaction batch to its
      * own entries).
      */
    def newlyAdmitted(): Seq[org.apache.hadoop.fs.Path] = {
      val latest = log.getLatestBatchId().getOrElse(-1L)
      if (latest <= lastBatch) return Nil
      val entries =
        if (lastBatch < 0) log.allFiles().toSeq
        else log.get(Some(lastBatch + 1), Some(latest)).toSeq.flatMap(_._2)
      lastBatch = latest
      entries.map(_.sparkPath.toPath)
    }
  }
}
