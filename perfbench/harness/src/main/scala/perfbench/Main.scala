package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.StateStoreBridge
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It times calls into the program's public entry
  * points and writes raw records into the output directory; `run.py` turns
  * them into metrics and checks the outputs.
  *
  * {{{
  *   Main out=<dir> data=<dir> cpus=4 seconds=6 trace=0|1 seed=1 replicas=1
  * }}}
  *
  * It prints `READY <epoch ms>` as soon as the session can take its first
  * operation.
  */
object Main {
  /** One query per family, timed and checked in every pass. Each run also
    * pays a cold first pass, so larger families would not fit the
    * benchmark's time for all its runs.
    */
  val Queries = Seq("events" -> "q_percentiles", "corpus" -> "d63_chain_components",
    "gates" -> "s2_stream_dedup_count")
  /** Unscored warm passes before the scored ones: the first pass after
    * the ingest phases runs ~50% slower than the later ones.
    */
  val WarmUpPasses = 1
  val MinScoredPasses = 3

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.catalog.functionExists("cosine_sim"), "graft extensions not installed")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val rc = try { new Run(opts).execute(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    // the outputs are written; skip the shutdown of the session, which
    // takes seconds of each run and measures nothing
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(rc)
  }
}

final class Run(opts: Map[String, String]) {
  private val out = new File(opts("out"))
  private val data = opts("data")
  private val cpus = opts("cpus").toInt
  private val seconds = opts("seconds").toDouble
  private val seed = opts("seed").toLong
  private val replicas = opts("replicas").toInt
  private val tracer = new Tracer(opts("trace") == "1", seed.toString)
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  @volatile private var tag = "setup"

  private def lines(name: String, it: Iterator[String]): Unit = {
    val w = new PrintWriter(new File(out, name), "UTF-8")
    try it.foreach(w.println) finally w.close()
  }

  def execute(): Unit = {
    out.mkdirs()
    val steal0 = Diagnostics.stealSec()
    val spark = tracer("setup.session")(Main.session(cpus))
    println(f"READY ${Clock.nowMs()}%.3f")
    val jobs = new JobCounters
    val progress = new ProgressLog(() => tag)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    def setTag(t: String): Unit = { tag = t; spark.sparkContext.setLocalProperty(jobs.TagKey, t) }

    val queryRows = new PrintWriter(new File(out, "queries.jsonl"), "UTF-8")
    // The first pass writes each result as parquet for the oracle check;
    // warm passes write to the noop sink, so the whole plan runs.
    def pass(kind: String, index: Int): Unit =
      tracer(s"suite.$kind") {
        Main.Queries.foreach { case (fam, name) =>
          setTag(s"$fam.$kind")
          tracer(s"ops.$fam.$name") {
            val startMs = Clock.nowMs()
            val t0 = System.nanoTime()
            var t1 = t0
            val ok = try {
              val df = tracer("ops.build")(graft.SparkEntry.queries(name)(spark, data))
              t1 = System.nanoTime()
              tracer("ops.execute") {
                if (kind == "first") df.write.mode("overwrite").parquet(new File(out, s"check/$name").getPath)
                else df.write.format("noop").mode("overwrite").save()
              }
              true
            } catch { case e: Throwable => failures += s"$name: ${Diagnostics.root(e)}"; false }
            val t2 = System.nanoTime()
            queryRows.println(Json.obj("pass" -> kind, "index" -> index, "family" -> fam,
              "query" -> name, "start_ms" -> startMs, "build_ms" -> (t1 - t0) / 1e6, "execute_ms" -> (t2 - t1) / 1e6,
              "ok" -> ok))
            queryRows.flush()
          }
          tracer("suite.scrub")(scrub(spark))
        }
      }

    new File(out, "check").mkdirs()
    pass("first", 0)
    lines("check/oracle_sql.json", Iterator(Json.value(
      Main.Queries.map(_._2).flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)))

    // The ingest consumer runs between the first and the warm passes, so
    // that the warm passes meet compiled code rather than finishing the JIT.
    // Warm-up passes run after it: it disturbs the compiled query paths.
    setTag("ingest")
    tracer("ingest")(new Ingest(spark, out, new Load(replicas), seed, tracer, progress).run())

    // the scored warm passes run for `seconds`, and at least MinScoredPasses times
    (1 to Main.WarmUpPasses).foreach(pass("warmup", _))
    val warm0 = System.nanoTime()
    var i = 1
    while (i <= Main.MinScoredPasses || (System.nanoTime() - warm0) / 1e9 < seconds) {
      pass("warm", i); i += 1
    }
    queryRows.close()

    if (tracer.enabled) {
      setTag("functions")
      lines("functions.jsonl", tracer("functions")(Kernels.run(spark, data, tracer)).iterator)
    }

    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val cpuS = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    spark.streams.active.foreach(_.stop())
    Thread.sleep(200) // let the listener bus deliver the last events
    lines("spans.jsonl", tracer.toJsonLines)
    lines("progress.jsonl", progress.records.asScala.iterator)
    lines("jobs.json", Iterator(Json.value(jobs.snapshot)))
    lines("job_intervals.jsonl", jobs.jobIntervals.asScala.iterator.map { case (t, a, b) =>
      Json.obj("tag" -> t, "start_ms" -> a, "end_ms" -> b) })
    val steal1 = Diagnostics.stealSec()
    lines("jvm.json", Iterator(Json.obj(
      "gc_ms" -> gcMs.toDouble, "cpu_s" -> cpuS, "heap_used_peak_mb" -> heapPeak / 1048576.0,
      "vm_hwm_mb" -> Diagnostics.vmHwmMb(), "cpus" -> cpus,
      "steal_s" -> (if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1.0),
      "spin_floor_ms" -> Seq.fill(5)(Diagnostics.spinMs()).min,
      "failures" -> failures.toSeq)))
  }

  /** The cross-query residue `graft.Bench` also clears between runs. */
  private def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    StateStoreBridge.unloadAll()
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_mem_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}

object Diagnostics {
  /** Cumulative hypervisor steal seconds (field 8 of the `cpu` line of
    * /proc/stat, in 1/100 s); -1 when unavailable.
    */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      if (f.length > 8 && f(0) == "cpu") f(8).toDouble / 100.0 else -1.0
    } catch { case _: Throwable => -1.0 }

  /** Peak resident set size of this process (VmHWM), in MB; -1 when unavailable. */
  def vmHwmMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Wall time of a fixed single-threaded arithmetic loop: it grows when
    * the machine, not the program, is slow.
    */
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def root(e: Throwable): String = {
    var r = e
    while (r.getCause != null && r.getCause != r) r = r.getCause
    s"${r.getClass.getName}: ${Option(r.getMessage).getOrElse("").take(300)}"
  }
}

/** The SQL kernels GraftExtensions registers, each timed as one SQL call
  * over the input tables into the noop sink.
  */
object Kernels {
  def run(spark: SparkSession, data: String, tracer: Tracer): Seq[String] = {
    spark.read.parquet(s"$data/documents.parquet").createOrReplaceTempView("pb_docs")
    spark.read.parquet(s"$data/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").createOrReplaceTempView("pb_emb")
    val seeds = (1 to 64).map(i => (i * 2654435761L) % 2147483647L).mkString("array(", ",", ")")
    val seedsB = (1 to 64).map(i => (i * 40503L + 7) % 2147483647L).mkString("array(", ",", ")")
    val docPairs = "pb_docs a join pb_docs b on a.doc_id % 500 = b.doc_id % 500 and a.doc_id < b.doc_id"
    val cases = Seq(
      "minhash_signature_ns_per_row" -> s"select minhash_signature(transform(split(text, ' '), w -> xxhash64(w)), $seeds, $seedsB, 2147483647) as s from pb_docs",
      "chargram_minhash_ns_per_row" -> s"select chargram_minhash(text, 5, $seeds, $seedsB, 2147483647) as s from pb_docs",
      "winnow_md5_ns_per_row" -> "select winnow_md5(text, 5, 4) as s from pb_docs",
      "ngram_jaccard_ns_per_pair" -> s"select ngram_jaccard(a.text, b.text, 3) as s from $docPairs",
      "cosine_sim_ns_per_pair" -> "select cosine_sim(a.e, b.e) as s from pb_emb a join pb_emb b on a.vec_id % 100 = b.vec_id % 100")
    cases.map { case (name, sql) =>
      val rows = spark.sql(sql).count()
      spark.sql(sql).write.format("noop").mode("overwrite").save() // warm-up
      val t0 = System.nanoTime()
      tracer(s"functions.$name")(spark.sql(sql).write.format("noop").mode("overwrite").save())
      val ns = System.nanoTime() - t0
      Json.obj("metric" -> name, "rows" -> rows, "ns_per_row" -> ns.toDouble / math.max(rows, 1L))
    }
  }
}
