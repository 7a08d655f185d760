package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The ingest load. `replicas` is the workload's data scale: it multiplies
  * the keys and the flood rate, and so the dedup state a flood builds up.
  * The catch-up backlog is not scaled: at 2x it added ~10 s to each run.
  */
final class Load(replicas: Int) {
  val shards = 4
  val keys: Int = 100 * replicas
  /** (records/s, seconds) */
  val burst: (Double, Double) = (2000.0, 2.0)
  val flood: (Double, Double) = (64000.0 * replicas, 2.0)
  val backlog = 30000
  val backlogPerTick = 1200
  val cap = 10000L // KCL's GetRecords default
  val redeliver = 0.05
  val tickMs = 100
  val drainS = 20.0
}

/** The reference's job: a consumer subscribed to `graft-shards` at `latest`
  * before a producer starts appending per-shard parquet files, dedup by
  * sequence number within the watermark, and an idempotent sink.
  */
final class Ingest(spark: SparkSession, out: File, load: Load, seed: Long,
    tracer: Tracer, progress: ProgressLog) {
  private val dir = new File(out, "ingest")
  private val rng = new scala.util.Random(seed)
  private val sent = new StringBuilder
  private val phases = scala.collection.mutable.ArrayBuffer.empty[String]
  private var nextSeq = 0L
  private var files = 0
  private var rowsWritten = 0L
  private val lastFile = Array.fill(load.shards)(Seq.empty[Rec])

  private final case class Rec(eventId: Long, key: Int, dueMs: Double)

  private val schema = MessageTypeParser.parseMessageType(
    """message rec {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)
  private val groups = new SimpleGroupFactory(schema)
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")

  /** Append one file to a shard: written aside, then renamed in. */
  private def append(stream: File, shard: Int, recs: Seq[Rec], phase: String,
      redelivered: Boolean): Unit = {
    val tmp = new File(dir, s"tmp/f$files.parquet")
    tmp.getParentFile.mkdirs()
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp.toPath)).withType(schema).build()
    try recs.foreach { r =>
      w.write(groups.newGroup()
        .append("event_id", r.eventId)
        .append("ts", (r.dueMs * 1000).toLong)
        .append("user_id", r.key.toLong)
        .append("event_type", eventTypes((r.eventId % 5).toInt))
        .append("value", (r.eventId % 1000) / 10.0)
        .append("props", s"""{"k": ${r.key}}"""))
    } finally w.close()
    val dst = new File(stream, f"shard=$shard/part-$files%06d.parquet")
    dst.getParentFile.mkdirs()
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    files += 1
    rowsWritten += recs.size
    val at = Clock.nowMs()
    recs.foreach(r => sent.append(
      f"$phase\t${r.eventId}\t${r.key}\t$shard\t${r.dueMs}%.3f\t$at%.3f\t${if (redelivered) 1 else 0}\n"))
  }

  /** New records for `n` due times; each goes to its key's shard. */
  private def emit(stream: File, dues: Seq[Double], phase: String): Unit = {
    val recs = dues.map { d => val r = Rec(nextSeq, rng.nextInt(load.keys), d); nextSeq += 1; r }
    recs.groupBy(_.key % load.shards).toSeq.sortBy(_._1).foreach { case (shard, rs) =>
      append(stream, shard, rs, phase, redelivered = false)
      lastFile(shard) = rs
    }
    // a lease takeover re-delivers the tail of a shard's last read,
    // with the original sequence numbers
    (0 until load.shards).foreach { shard =>
      if (lastFile(shard).nonEmpty && rng.nextDouble() < load.redeliver) {
        val tail = lastFile(shard).takeRight(1 + rng.nextInt(lastFile(shard).size))
        append(stream, shard, tail, phase, redelivered = true)
      }
    }
  }

  /** Open-loop producer: record i is due at t0 + i / rate, whatever the
    * consumer does; each tick appends every record due by then.
    */
  private def produce(stream: File, phase: String, rate: Double, seconds: Double): Unit =
    tracer(s"generator.$phase") {
      val total = (rate * seconds).toLong
      val t0 = Clock.nowMs()
      var done = 0L
      var tick = 1
      while (done < total) {
        val target = t0 + tick * load.tickMs
        val wait = target - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val due = math.min(total, ((Clock.nowMs() - t0) * rate / 1000).toLong)
        if (due > done) emit(stream, (done until due).map(i => t0 + i * 1000.0 / rate), phase)
        done = due
        tick += 1
      }
    }

  private def start(name: String, stream: File, position: String, extra: Map[String, String]): StreamingQuery = {
    val sink = new File(dir, s"sink_$name").getPath
    val write: (DataFrame, Long) => Unit = (df, id) =>
      tracer("streaming.sink_write")(graft.streaming.IdempotentSink.writeBatch(df, id, sink))
    spark.readStream.format("graft-shards")
      .option("path", stream.getPath)
      .option("startingPosition", position)
      .options(extra)
      .load()
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .queryName(s"perfbench_$name")
      .option("checkpointLocation", new File(dir, s"ckpt_$name").getPath)
      .foreachBatch(write)
      .start()
  }

  /** Wait until the query has read every row written, or the deadline. */
  private def drain(q: StreamingQuery, phase: String): Unit = tracer(s"ingest.drain.$phase") {
    val deadline = Clock.nowMs() + load.drainS * 1000
    while (progress.rowsRead(q.runId) < rowsWritten && Clock.nowMs() < deadline && q.isActive)
      Thread.sleep(5)
  }

  private def phase(name: String, q: StreamingQuery, t0: Double = Clock.nowMs())(body: => Unit): Unit = {
    tracer(s"ingest.$name") { body; drain(q, name) }
    phases += Json.obj("phase" -> name, "run_id" -> q.runId.toString, "start_ms" -> t0,
      "end_ms" -> Clock.nowMs(), "rows_written" -> rowsWritten, "rows_read" -> progress.rowsRead(q.runId),
      "error" -> q.exception.map(e => Diagnostics.root(e)))
  }

  def run(): Unit = {
    val live = new File(dir, "stream")
    live.mkdirs()
    val q = start("live", live, "latest", Map.empty)
    // an untimed first tranche absorbs the query's start-up, its first
    // batches and the compilation of the streaming path
    val schedule = Seq("warmup" -> (load.burst._1, 0.5), "burst" -> load.burst, "flood" -> load.flood)
    for ((name, (rate, secs)) <- schedule) {
      val producer = new Thread(() => produce(live, name, rate, secs), s"generator-$name")
      phase(name, q) { producer.start(); producer.join() }
    }
    q.stop()
    phases += Json.obj("phase" -> "live_files", "files" -> files,
      "checkpoint_files" -> countFiles(new File(dir, "ckpt_live")))

    // catch-up: a fresh query drains a backlog written before it starts
    val backlog = new File(dir, "backlog")
    rowsWritten = 0
    val past = Clock.nowMs() - load.backlog - 1000
    tracer("generator.backlog")((0 until load.backlog by load.backlogPerTick).foreach { i =>
      emit(backlog, (i until math.min(load.backlog, i + load.backlogPerTick)).map(j => past + j), "catchup")
    })
    val t0 = Clock.nowMs()
    val c = start("catchup", backlog, "trim_horizon", Map("maxRecordsPerTrigger" -> load.cap.toString))
    phase("catchup", c, t0) { () }
    c.stop()

    val w = new PrintWriter(new File(dir, "sent.tsv"), "UTF-8")
    try w.write(sent.toString) finally w.close()
    val p = new PrintWriter(new File(dir, "phases.jsonl"), "UTF-8")
    try phases.foreach(p.println) finally p.close()
  }

  private def countFiles(f: File): Int =
    if (f.isFile) 1 else Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
}
