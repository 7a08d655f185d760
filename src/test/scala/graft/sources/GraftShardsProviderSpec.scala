package graft.sources

import graft.SparkSpec
import graft.streaming.{ShardedEvents, StreamControl}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.collection.mutable

/** Pins the packaged `format("graft-shards")` surface — the reference's
  * `KinesisSource(consumerConfig)` library entry point
  * (KinesisSource.scala:46-95): options-map validation fails eagerly and
  * clearly (the `getStreamPosition` config-error analog,
  * ConsumerConfig.scala:115-139), the three starting positions deliver
  * the right record sets, admission control passes through, and the
  * `latest` subscribe point is CHECKPOINT-STABLE across restarts.
  */
class GraftShardsProviderSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def newBase(): String = Files.createTempDirectory("graft-src-spec-").toString

  private def shardDir(base: String): String = {
    val dir = s"$base/shards"
    ShardedEvents.materialize(spark, sf001, dir)
    dir
  }

  private def batchEvents = graft.Tables.events(spark, sf001)

  /** Write the first `rows` events (by event_id) as ONE parquet file at
    * `dir/rel`, with the given modification time (the inner file source
    * admits the oldest files first).
    */
  private def writeFile(dir: String, rel: String, rows: Int, mtime: Long): Unit = {
    val tmp = s"${newBase()}/f"
    batchEvents.orderBy("event_id").limit(rows).coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$dir/$rel")
    dst.getParentFile.mkdirs()
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(mtime)
  }

  /** AvailableNow drain; returns each micro-batch's record count. */
  private def drainSizes(df: DataFrame, ckpt: String): Seq[Long] = {
    val sizes = mutable.Buffer.empty[Long]
    val q = df.select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count()
        sizes.synchronized { sizes += n }
        ()
      }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    sizes.synchronized(sizes.toVector)
  }

  private def open(dir: String, position: String, extra: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("graft-shards")
      .option("path", dir)
      .option("startingPosition", position)
    extra.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  private def collectIds(df: DataFrame, ckpt: String): Seq[Long] = {
    val got = mutable.Buffer.empty[Long]
    val q = df.select("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    got.synchronized(got.toVector)
  }

  // ---- options validation: config errors fail at load(), clearly ----

  test("options: missing path fails eagerly with a clear message") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards").load()
    }
    e.getMessage should include("path")
  }

  test("options: invalid startingPosition fails eagerly, naming the valid values") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "从头") // the reference's unmatched-position config error
        .load()
    }
    e.getMessage should include("startingPosition")
    e.getMessage should include("trim_horizon")
    e.getMessage should include("at_timestamp")
  }

  test("options: malformed at_timestamp value fails eagerly") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "at_timestamp:yesterday-ish")
        .load()
    }
    e.getMessage should include("timestamp")
  }

  test("options: non-positive maxFilesPerTrigger fails eagerly") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .option("path", "/tmp/x")
        .option("startingPosition", "trim_horizon")
        .option("maxFilesPerTrigger", "0")
        .load()
    }
    e.getMessage should include("maxFilesPerTrigger")
  }

  test("schema: defaults to the sharded-events record schema") {
    val df = spark.readStream.format("graft-shards")
      .option("path", newBase())
      .option("startingPosition", "trim_horizon")
      .load()
    df.schema shouldBe ShardedEvents.schema
  }

  // ---- starting positions deliver the right record sets ----

  test("trim_horizon: full replay equals the batch table") {
    val base = newBase()
    val ids = collectIds(open(shardDir(base), "trim_horizon"), s"$base/ckpt")
    ids.sorted shouldBe batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("at_timestamp: delivery starts at the event-time position") {
    val base = newBase()
    val ids = collectIds(open(shardDir(base), "at_timestamp:2024-01-15"), s"$base/ckpt")
    val expected = batchEvents.filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < batchEvents.count())
    ids.sorted shouldBe expected
  }

  test("maxFilesPerTrigger: admission control reaches the inner file source") {
    val base = newBase()
    val dir = shardDir(base)
    var batches = 0
    val q = open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> "1"))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => batches += 1; b.count(); () }
      .start()
    q.awaitTermination()
    // one shard file per micro-batch: at least one batch per shard
    assert(batches >= ShardedEvents.NumShards,
      s"expected >=${ShardedEvents.NumShards} single-file batches, got $batches")
  }

  test("latest: subscribe point is frozen at first start and survives restart (checkpoint-stable)") {
    val base = newBase()
    val dir = s"$base/shards"
    val ckpt = s"$base/ckpt"
    val events = batchEvents
    val ids = events.select("event_id").collect().map(_.getLong(0)).sorted
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    // tranche 1 exists BEFORE the subscribe: must never be delivered
    ShardedEvents.appendTranche(events.filter(col("event_id") <= c1), dir, 4)
    val got1 = collectIds(open(dir, "latest"), ckpt)
    assert(got1.isEmpty, s"latest must skip the pre-subscribe records, got ${got1.take(5)}")

    // tranche 2 appended after the subscribe: delivered on the next run
    ShardedEvents.appendTranche(
      events.filter(col("event_id") > c1 && col("event_id") <= c2), dir, 4)
    val got2 = collectIds(open(dir, "latest"), ckpt)
    got2.sorted shouldBe ids.filter(i => i > c1 && i <= c2).toSeq

    // tranche 3 + RESTART from the same checkpoint: the snapshot file —
    // not a re-resolution against the now-advanced stream — defines the
    // subscribe point, so only records after the ORIGINAL ends arrive;
    // nothing already delivered is re-delivered (offsets) and nothing
    // pre-subscribe leaks in (snapshot)
    ShardedEvents.appendTranche(events.filter(col("event_id") > c2), dir, 4)
    val got3 = collectIds(open(dir, "latest"), ckpt)
    got3.sorted shouldBe ids.filter(_ > c2).toSeq
    assert(StreamControl.checkpointOffsets(ckpt) == StreamControl.checkpointCommits(ckpt))
  }

  test("schema override: a caller schema serves a different record layout (the corpus stream)") {
    // one registered source, two record layouts: ShardedCorpus.readStream
    // routes through format("graft-shards") with .schema(documents)
    val base = newBase()
    val dir = s"$base/shards"
    graft.streaming.ShardedCorpus.materialize(spark, sf001, dir)
    val df = graft.streaming.ShardedCorpus.readStream(spark, dir)
    df.schema shouldBe graft.streaming.ShardedCorpus.schema
    val got = mutable.Buffer.empty[Long]
    val q = df.select("doc_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    got.synchronized(got.toVector).sorted shouldBe graft.Tables.documents(spark, sf001)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("latest: subscribing BEFORE the stream directory exists starts clean, later records flow") {
    // the canonical Kinesis LATEST shape: the consumer subscribes before
    // the producer has written anything — start() must not fail on the
    // missing path, and everything the producer writes afterwards is
    // post-subscribe and delivered whole
    val base = newBase()
    val dir = s"$base/not-yet-written"
    val ckpt = s"$base/ckpt"
    val got1 = collectIds(open(dir, "latest"), ckpt)
    assert(got1.isEmpty, s"empty subscribe must deliver nothing, got ${got1.take(5)}")

    val events = batchEvents
    ShardedEvents.appendTranche(events, dir, 4)
    val got2 = collectIds(open(dir, "latest"), ckpt)
    got2.sorted shouldBe events.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("options: a wrong-typed seek column fails eagerly at load(), naming the expected type") {
    // presence-only validation would pass this schema and crash at
    // start() with a raw ClassCastException inside the latest-ends
    // resolution; the config must reject it at load()
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val swapped = StructType(Seq(
      StructField("shard", LongType),     // must be int
      StructField("event_id", IntegerType))) // must be bigint
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .schema(swapped)
        .option("path", "/tmp/x")
        .option("startingPosition", "latest")
        .load()
    }
    e.getMessage should include("type")
    e.getMessage should (include("int") and include("shard"))
  }

  test("options: a position needing absent columns fails eagerly against a caller schema") {
    // `latest` seeks by (shard, event_id); the documents schema has no
    // event_id — the config must say so at load(), not fail mid-query
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-shards")
        .schema(graft.streaming.ShardedCorpus.schema)
        .option("path", "/tmp/x")
        .option("startingPosition", "latest")
        .load()
    }
    e.getMessage should include("event_id")
  }

  test("at_timestamp seek is PUSHED into the micro-batch parquet scan (scale pin)") {
    // the seek filter must reach the per-batch FileSourceScan's
    // PushedFilters — evaluated above the scan it would re-read every
    // retained record each batch, which at 100 TB is the difference
    // between a seek and a full-stream rescan
    val base = newBase()
    val dir = shardDir(base)
    var lastPlan = ""
    val q = open(dir, "at_timestamp:2024-01-15")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .start()
    q.awaitTermination()
    lastPlan = org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(q)
    assert(lastPlan.nonEmpty, "no executed micro-batch plan captured")
    assert(lastPlan.contains("PushedFilters: [") &&
      lastPlan.contains("GreaterThanOrEqual(ts"),
      s"seek filter not pushed into the batch scan:\n$lastPlan")
  }

  test("latest: coarse min-end prefilter is PUSHED into the micro-batch parquet scan (scale pin)") {
    // the exact per-shard cut is a broadcast join — not pushable — so
    // batch 0 would READ the whole retained stream just to discard it.
    // afterEnds plants `event_id > min(end)` under the join; it must
    // reach the scan's PushedFilters so row-group stats skip the
    // retained history unread
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4) // retained pre-subscribe history
    val q = open(dir, "latest")
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .start()
    q.awaitTermination()
    val lastPlan = org.apache.spark.sql.graftbridge.StreamPlanBridge.lastExecutedPlan(q)
    assert(lastPlan.nonEmpty, "no executed micro-batch plan captured")
    assert(lastPlan.contains("PushedFilters: [") &&
      lastPlan.contains("GreaterThan(event_id"),
      s"coarse latest prefilter not pushed into the batch scan:\n$lastPlan")
  }

  test("options: seek-column validation is case-insensitive, like Spark's column resolution") {
    // a caller schema naming the columns 'TS'/'EVENT_ID' resolves fine in
    // the seek filters (Spark's default resolution is case-insensitive),
    // so load() must not reject it on a case mismatch
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType, TimestampType}
    val shouted = StructType(Seq(
      StructField("EVENT_ID", LongType),
      StructField("TS", TimestampType),
      StructField("SHARD", IntegerType)))
    spark.readStream.format("graft-shards")
      .schema(shouted)
      .option("path", "/tmp/x")
      .option("startingPosition", "latest")
      .load()
      .schema shouldBe shouted
    spark.readStream.format("graft-shards")
      .schema(shouted)
      .option("path", "/tmp/x")
      .option("startingPosition", "at_timestamp:2024-01-15")
      .load()
      .schema shouldBe shouted
  }

  test("maxRecordsPerTrigger: every micro-batch stays under the record cap; the stream stays complete") {
    // the records-per-fetch bound of the reference's KCL polling config
    // (KinesisSource.scala:119-121): admission is per whole file here, so
    // the cap is enforced conservatively — no batch may exceed it, and a
    // multi-batch drain still delivers everything exactly once
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4) // 4 files, ~250 records each
    val cap = 300L
    val batchSizes = mutable.Buffer.empty[Long]
    val got = mutable.Buffer.empty[Long]
    val q = open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> cap.toString))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        batchSizes.synchronized { batchSizes += ids.length.toLong }
        got.synchronized { got ++= ids }
        ()
      }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val sizes = batchSizes.synchronized(batchSizes.toVector)
    assert(sizes.count(_ > 0) >= 2, s"cap must split the drain into multiple batches, got $sizes")
    sizes.foreach(s => assert(s <= cap, s"batch of $s records exceeds the $cap cap: $sizes"))
    got.synchronized(got.toVector).sorted shouldBe
      batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("maxRecordsPerTrigger composes with maxFilesPerTrigger: the tighter bound wins") {
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4)
    var batches = 0
    // record cap admits everything; the 1-file cap must still hold
    val q = open(dir, "trim_horizon",
        Map("maxRecordsPerTrigger" -> "1000000", "maxFilesPerTrigger" -> "1"))
      .select("event_id")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => if (b.count() > 0) batches += 1; () }
      .start()
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(batches >= 4, s"expected >=4 single-file batches under the composed limits, got $batches")
  }

  test("maxRecordsPerTrigger: a restart mid-drain resumes under the cap without loss or re-admission") {
    // the pending-file computation rebuilds per source instance from the
    // metadata log — a successor must see exactly the not-yet-admitted
    // files, keep every batch under the cap, and deliver the remainder
    // exactly once
    val base = newBase()
    val dir = s"$base/shards"
    ShardedEvents.appendTranche(batchEvents, dir, 4)
    val cap = 300L
    val got = mutable.Buffer.empty[Long]
    val sizes = mutable.Buffer.empty[Long]
    def drain(stopAfterBatches: Int): Boolean = {
      var batches = 0
      val q = open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> cap.toString))
        .select("event_id")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ids = b.collect().map(_.getLong(0))
          got.synchronized { got ++= ids }
          sizes.synchronized { sizes += ids.length.toLong }
          batches += 1
          if (batches >= stopAfterBatches) throw new RuntimeException("injected stop")
          ()
        }
        .start()
      try { q.awaitTermination(); true } catch { case _: Exception => false }
    }
    // first incarnation dies after one committed-side batch; the batch
    // that threw did NOT commit, so its rows redeliver to the successor
    assert(!drain(stopAfterBatches = 2), "first incarnation must die mid-drain")
    assert(drain(Int.MaxValue), "successor must drain to completion")
    sizes.synchronized(sizes.toVector).foreach(s => assert(s <= cap, s"batch of $s exceeds cap"))
    // the one uncommitted batch redelivers: distinct ids == full stream
    got.synchronized(got.toVector).distinct.sorted shouldBe
      batchEvents.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("maxRecordsPerTrigger: a writer's staged files under _temporary/ are skipped, like the inner listing skips them") {
    // `df.write.parquet(dir)` (ShardedEvents.appendTranche) stages part
    // files under dir/_temporary/ before committing them. The inner file
    // source never lists them, so the record admission must not either:
    // a still-open (zero-length) one has no footer to read, and a complete
    // one larger than the cap would stay pending forever and pin every
    // later trigger to one file.
    val cap = 600L
    def drain(staged: Boolean): Seq[Long] = {
      val base = newBase()
      val dir = s"$base/shards"
      ShardedEvents.appendTranche(batchEvents, dir, 4)
      if (staged) {
        val inFlight = new java.io.File(s"$dir/_temporary/0/_temporary/attempt_0/shard=1/part-99999.parquet")
        inFlight.getParentFile.mkdirs()
        assert(inFlight.createNewFile())
        writeFile(dir, "_temporary/0/task_0/shard=2/part-99998.parquet", rows = 1000,
          mtime = System.currentTimeMillis())
      }
      drainSizes(open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> cap.toString)),
        s"$base/ckpt")
    }
    val plain = drain(staged = false)
    val withStaged = drain(staged = true)
    withStaged.foreach(s => assert(s <= cap, s"batch of $s records exceeds the $cap cap: $withStaged"))
    withStaged.sum shouldBe batchEvents.count()
    assert(plain.size >= 2, s"cap must split the drain into multiple batches, got $plain")
    withStaged.size shouldBe plain.size
  }

  test("maxRecordsPerTrigger: the file cap is the largest k whose k largest pending files fit (pinned)") {
    // pins the values the cap conversion has always returned, over shard
    // directories with files of different sizes and one nested
    // sub-directory, so a change to the listing or footer reads provably
    // picks the same k
    val base = newBase()
    val dir = s"$base/shards"
    val t0 = System.currentTimeMillis() - 60000L
    // oldest first, the order the inner source admits them in
    Seq("shard=0/part-00000.parquet" -> 120, "shard=1/part-00001.parquet" -> 500,
      "shard=2/nested/part-00002.parquet" -> 40, "shard=3/part-00003.parquet" -> 300,
      "shard=0/part-00004.parquet" -> 80, "shard=1/part-00005.parquet" -> 200)
      .zipWithIndex.foreach { case ((rel, rows), i) => writeFile(dir, rel, rows, t0 + i * 1000L) }
    // largest first: 500, 300, 200, 120, 80, 40 — running sums 500, 800,
    // 1000, 1120, 1200, 1240
    for ((cap, k) <- Seq(1L -> 1, 499L -> 1, 500L -> 1, 799L -> 1, 800L -> 2, 999L -> 2,
        1000L -> 3, 1119L -> 3, 1120L -> 4, 1239L -> 5, 1240L -> 6, 1000000L -> 6))
      withClue(s"cap $cap: ") {
        new RecordAdmission(spark, s"$base/meta-$cap", dir, cap).safeFileCap() shouldBe k
      }

    // per trigger under a 700 cap: {all 6 pending} k=1 admits the 120;
    // {500, 40, 300, 80, 200} k=1 admits the 500; {40, 300, 80, 200} k=4
    val ckpt = s"$base/ckpt"
    val watcher = new RecordAdmission(spark, s"$ckpt/sources/0", dir, 700L)
    watcher.safeFileCap() shouldBe 1
    watcher.footerCacheSize shouldBe 6
    drainSizes(open(dir, "trim_horizon", Map("maxRecordsPerTrigger" -> "700")), ckpt) shouldBe
      Seq(120L, 500L, 620L)
    // every file is admitted now: the footer cache holds none of them
    watcher.safeFileCap() shouldBe 1
    watcher.footerCacheSize shouldBe 0
  }

  test("options: non-positive or non-numeric maxRecordsPerTrigger fails eagerly") {
    for (bad <- Seq("0", "-5", "many")) {
      val e = intercept[IllegalArgumentException] {
        spark.readStream.format("graft-shards")
          .option("path", "/tmp/x")
          .option("startingPosition", "trim_horizon")
          .option("maxRecordsPerTrigger", bad)
          .load()
      }
      e.getMessage should include("maxRecordsPerTrigger")
    }
  }

  test("format stream checkpoints like any source: WAL offsets commit per epoch") {
    val base = newBase()
    val dir = shardDir(base)
    collectIds(open(dir, "trim_horizon", Map("maxFilesPerTrigger" -> "2")), s"$base/ckpt")
    assert(StreamControl.checkpointOffsets(s"$base/ckpt") > 0)
    assert(StreamControl.checkpointOffsets(s"$base/ckpt") ==
      StreamControl.checkpointCommits(s"$base/ckpt"))
  }
}
