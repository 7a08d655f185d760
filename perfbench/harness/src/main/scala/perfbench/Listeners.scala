package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Job, stage and task counters from Spark's listener bus, summed per tag.
  * A tag is the `perfbench.tag` local property of the thread that submitted
  * the job; streaming threads inherit it from the thread that started them.
  */
final class JobCounters extends SparkListener {
  val TagKey = "perfbench.tag"
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  /** (tag, start ms, end ms) of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(String, Double, Double)]()

  private def add(tag: String, k: String, v: Double): Unit =
    counters.getOrElseUpdate(tag, mutable.Map.empty.withDefaultValue(0.0))(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("untagged")
    jobTag(e.jobId) = tag
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(stageTag(_) = tag)
    add(tag, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val tag = jobTag.getOrElse(e.jobId, "untagged")
    jobIntervals.add((tag, jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageTag.getOrElse(e.stageInfo.stageId, "untagged"), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.getOrElse(e.stageId, "untagged")
    add(tag, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(tag, "task_run_ms", m.executorRunTime.toDouble)
      add(tag, "task_cpu_ms", m.executorCpuTime / 1e6)
      add(tag, "task_gc_ms", m.jvmGCTime.toDouble)
      add(tag, "scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add(tag, "shuffle_bytes",
        (m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead).toDouble)
      add(tag, "shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(tag, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  def snapshot: Map[String, Map[String, Double]] = synchronized {
    counters.map { case (t, m) => t -> m.toMap }.toMap
  }
}

/** Every streaming progress report, tagged like [[JobCounters]] by the tag
  * current when its query started.
  */
final class ProgressLog(currentTag: () => String) extends StreamingQueryListener {
  private val tags = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  val records = new ConcurrentLinkedQueue[String]()
  private val inputRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  /** Input rows reported so far by the query run `runId`. */
  def rowsRead(runId: java.util.UUID): Long = Option(inputRows.get(runId)).map(_.longValue).getOrElse(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    tags.put(e.id, currentTag())

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    inputRows.merge(p.runId, p.numInputRows, (a, b) => a + b)
    val state = p.stateOperators.toSeq
    def sumState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
      state.map(f).sum
    def custom(k: String): Long =
      state.map(s => Option(s.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
    records.add(Json.obj(
      "tag" -> Option(tags.get(p.id)).getOrElse("untagged"),
      "query" -> Option(p.name).getOrElse(""),
      "run_id" -> p.runId.toString,
      "batch" -> p.batchId,
      "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> sumState(_.numRowsTotal),
      "state_dropped_late" -> sumState(_.numRowsDroppedByWatermark),
      "state_bytes" -> sumState(_.memoryUsedBytes),
      "state_commit_ms" -> sumState(_.commitTimeMs),
      "state_update_ms" -> sumState(_.allUpdatesTimeMs),
      "state_removal_ms" -> sumState(_.allRemovalsTimeMs),
      "dedup_dropped" -> custom("numDroppedDuplicateRows")))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
