package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.log.TopicLog
import graft.operators.Curation
import graft.streaming.TopicStream

/** The JVM half of the graft benchmark. It runs one workload against
  * inputs that `run.py` generated from the seed, times every call it
  * makes into graft, checks what it can check inside the JVM, and
  * writes the raw samples to a JSON file. `run.py` turns them into
  * metrics.
  *
  * Arguments (all `--key value`): workload, seconds, passes, data
  * (input directory), work (scratch directory), out (result file),
  * queries (analytics: comma-separated query names in run order).
  *
  * `passes` lists the timed passes, each on fresh program state:
  * "plain" runs with no listeners attached (the end-to-end numbers),
  * "traced" with Spark, SQL and streaming listeners (the per-layer
  * numbers); "plain,traced" gives both and so the tracing overhead. */
object GraftBench {
  val SetupReps = 5
  val Master = "local[4]"

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seconds: Double = args("seconds").toDouble
    val data: String = args("data")
    val work: String = args("work")
    val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    /** Record a correctness check. */
    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val passKinds = args.getOrElse("passes", "plain").split(",").toSeq
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()

    // Set-up, repeated: each repetition stops the previous session and
    // builds a fresh one with GraftSession.build, then prepares the
    // workload's program-side state from scratch.
    var spark: SparkSession = null
    var prepared: Prepared = null
    val setup = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(Master)
      spark.sparkContext.setLogLevel("WARN")
      prepared = prepare(ctx, spark, s"${ctx.work}/setup$rep")
      (System.nanoTime() - t0) / 1e9
    }
    val firstCallMs = System.currentTimeMillis()
    phase("set-up done")
    prepared.warmUp()
    phase("warm-up done")

    val passes = passKinds.map(_ == "traced").zipWithIndex.map {
      case (withListeners, i) =>
        val state = if (i == 0) prepared else prepare(ctx, spark, s"${ctx.work}/pass$i")
        val trace = new Trace(spark, withListeners)
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        val ops = state.run(trace)
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = (gcMs() - gc0) / 1e3
        trace.close()
        phase(s"pass $i done")
        Map[String, Any]("traced" -> withListeners, "wall_s" -> wall,
          "jvm_gc_s" -> gc, "ops" -> ops, "spans" -> trace.spanRecords) ++
          state.passExtra()
    }
    prepared.finalChecks()
    phase("final checks done")

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.graft")
    }
    val result = Map[String, Any](
      "workload" -> ctx.workload,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setup,
      "jvm_start_to_first_call_s" -> (firstCallMs - jvmStartMs) / 1e3,
      "passes" -> passes,
      "checks" -> ctx.checks.toSeq,
      "env" -> Map[String, Any](
        "master" -> Master,
        "conf" -> conf,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
        "spark_version" -> spark.version,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg()))
    spark.stop()
    Files.writeString(Paths.get(args("out")), Json(result))
  }

  /** A workload with its program-side state built. */
  trait Prepared {
    /** Untimed calls that let the JIT and Spark's code caches fill. */
    def warmUp(): Unit = ()
    /** The timed calls; returns the number of timed operations. */
    def run(trace: Trace): Int
    def passExtra(): Map[String, Any] = Map.empty
    /** Untimed whole-run checks, after every pass. */
    def finalChecks(): Unit = ()
  }

  def prepare(ctx: Ctx, spark: SparkSession, dir: String): Prepared = ctx.workload match {
    case "topic-log" => new TopicLogWorkload(ctx, spark, dir)
    case "analytics" => new AnalyticsWorkload(ctx, spark, dir)
    case "curate-cycle" => new CurateWorkload(ctx, spark, dir)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Progress line for the harness log, with seconds since JVM start. */
  def phase(what: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    println(f"[graftbench] ${up / 1e3}%.1fs $what")
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  /** Data files under a log directory and their total size. */
  def logFiles(dir: String): (Int, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.iterator.asScala.filter { p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
        }.toSeq
        (fs.size, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  // ------------------------------------------------------------ topic-log

  /** One producer and one durable subscriber on a fresh 8-partition
    * topic: a bulk backfill, a few untimed warm-up cycles, then timed
    * publish → replay(evt-1) → ack cycles for `seconds`, with
    * size-capped retention every few cycles, then a fresh subscriber
    * drains the retained log once. */
  final class TopicLogWorkload(ctx: Ctx, spark: SparkSession, dir: String) extends Prepared {
    val Event = "evt-1"
    val RetainEvery = 5
    val WarmCycles = 5
    val MinCycles = 5
    val topic: TopicLog = TopicLog.prepare(spark, s"$dir/topic", numPartitions = 8)
    // read on first use, after set-up: loading the inputs is the
    // benchmark's work, not the program's
    lazy val backfill: DataFrame = spark.read.parquet(s"${ctx.data}/topic/backfill.parquet")
    lazy val batches: Seq[(Int, java.util.List[Row])] = spark.read
      .parquet(s"${ctx.data}/topic/cycles.parquet").orderBy("batch", "seq").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (b, rows) =>
        b -> rows.toSeq.map(r => Row(r.getString(2), r.getString(3), r.getString(4), r.get(5))).asJava
      }
    lazy val recordSchema = backfill.schema

    private var drained = 0L
    private var retained = 0L
    private var logBytes = 0L
    private var bulkRecords = 0L

    override def warmUp(): Unit = { batches; () }

    /** Row count and an order-free checksum of (log_part, offset). */
    private def countAndChecksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(
        sum(pmod(xxhash64(col("log_part"), col("offset")), lit(1L << 31))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    /** The subscriber's watermarks after consuming `got`. */
    private def marks(got: Array[Row]): Map[Int, Long] =
      got.groupBy(_.getAs[Int]("log_part"))
        .map { case (p, rs) => p -> rs.map(_.getAs[Long]("offset")).max }

    def run(trace: Trace): Int = {
      var ops = 0
      bulkRecords = backfill.count()
      trace.span("bulk_publish") { topic.publish(backfill) }
      trace.note("records" -> bulkRecords)
      ops += 1
      val cap = logFiles(s"$dir/topic/log")._2
      topic.ack("sub", topic.heads())
      // untimed cycles on this topic: the JIT and Spark's code caches
      // reach the publish/replay/ack path at full log size
      var consumed = 0L
      var expected = 0L
      batches.take(WarmCycles).foreach { case (_, rows) =>
        topic.publish(spark.createDataFrame(rows, recordSchema))
        val got = topic.replay("sub", Some(Event)).collect()
        topic.ack("sub", marks(got))
        consumed += got.length
        expected += rows.asScala.count(_.getString(0) == Event)
      }
      var files = logFiles(s"$dir/topic/log")._1

      val t0 = System.nanoTime()
      var badCycles = 0
      var i = WarmCycles
      while (i < batches.size &&
          (i < WarmCycles + MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
        val (b, rows) = batches(i)
        val batch = spark.createDataFrame(rows, recordSchema)
        val want = rows.asScala.count(_.getString(0) == Event)
        val c0 = System.nanoTime()
        trace.span("publish", b.toString) { topic.publish(batch) }
        trace.note("records" -> rows.size)
        if (trace.traced) {
          val (f, _) = logFiles(s"$dir/topic/log")
          trace.note("files_added" -> (f - files)); files = f
        }
        val got = trace.span("replay", b.toString) {
          topic.replay("sub", Some(Event)).collect()
        }
        trace.note("rows" -> got.length)
        val m = marks(got)
        trace.span("ack", b.toString) { topic.ack("sub", m) }
        trace.spans += Span("consume_lag", b.toString, 0L, 0L, System.nanoTime() - c0)
        val tag = s"b$b-"
        if (got.length != want || !got.forall(_.getAs[String]("message").startsWith(tag)))
          badCycles += 1
        consumed += got.length
        expected += want
        ops += 1
        i += 1
        if ((i - WarmCycles) % RetainEvery == 0) {
          trace.span("retain", b.toString) { topic.retainToSize(cap) }
          if (trace.traced) files = logFiles(s"$dir/topic/log")._1
          ops += 1
        }
      }
      ctx.check("cycles_replay_exact", badCycles == 0,
        s"$badCycles of ${i - WarmCycles} cycles wrong")
      ctx.check("subscriber_consumed_all", consumed == expected, s"$consumed of $expected")

      // a fresh subscriber drains the retained log
      var drainRows = 0L
      var drainSum = 0L
      trace.span("drain") {
        TopicStream.drainOnce(topic, "audit", s"$dir/drain-ckpt") { df =>
              val (n, sum) = countAndChecksum(df)
          drainRows += n; drainSum += sum
        }
      }
      trace.note("records" -> drainRows)
      ops += 1
      val log = topic.read()
      val (n, sum) = countAndChecksum(log)
      retained = n
      drained = drainRows
      ctx.check("drain_exact", drainRows == n && drainSum == sum,
        s"drained $drainRows, retained $n")
      val heads = topic.heads()
      val parts = log.groupBy("log_part").agg(count(lit(1)), countDistinct("offset"),
        min("offset"), max("offset")).collect()
      val gapless = parts.forall { p =>
        val (n, d, lo, hi) = (p.getLong(1), p.getLong(2), p.getLong(3), p.getLong(4))
        n == d && hi - lo + 1 == n && heads.get(p.getInt(0)).contains(hi)
      }
      ctx.check("offsets_unique_gapless", gapless, parts.mkString(";").take(300))
      val (nFiles, bytes) = logFiles(s"$dir/topic/log")
      logBytes = bytes
      trace.note("files_live" -> nFiles)
      ops
    }

    override def passExtra(): Map[String, Any] = Map(
      "retained_records" -> retained, "log_bytes" -> logBytes,
      "drained_records" -> drained, "bulk_records" -> bulkRecords)
  }

  // ------------------------------------------------------------ analytics

  /** A fixed panel of SparkEntry queries, in an order shuffled by the
    * seed, each built and then executed into a noop sink, in two timed
    * rounds.
    * The warm-up runs the same panel on the same inputs into parquet,
    * untimed; those outputs are what the DuckDB oracle check compares,
    * and the run fills the JIT and Spark's code caches for the timed
    * pass. */
  final class AnalyticsWorkload(ctx: Ctx, spark: SparkSession, dir: String) extends Prepared {
    val names: Seq[String] = ctx.args("queries").split(",").toSeq
    val all = SparkEntry.queries
    val packOf: Map[String, String] = {
      import graft.operators._
      Seq("Relational" -> Relational.queries, "EventOps" -> EventOps.queries,
        "Dedup" -> Dedup.queries, "Similarity" -> (Similarity.queries ++ Similarity.queries2),
        "TextOps" -> TextOps.queries, "Multimodal" -> Multimodal.queries,
        "Curation" -> Curation.queries, "Drift" -> Drift.queries,
        "Sampling" -> Sampling.queries, "LinkGraph" -> LinkGraph.queries,
        "Snapshot" -> Snapshot.queries, "Profile" -> Profile.queries, "Bpe" -> Bpe.queries,
        "Featurize" -> Featurize.queries, "Spectral" -> Spectral.queries,
        "Extract" -> Extract.queries, "Classify" -> Classify.queries,
        "EventStats" -> EventStats.queries, "TopK" -> TopK.queries)
        .flatMap { case (p, qs) => qs.keys.map(_ -> p) }.toMap
    }

    override def warmUp(): Unit = {
      val out = s"${ctx.work}/out"
      concurrently { q =>
        try all(q)(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        catch {
          case e: Throwable => ctx.synchronized {
            ctx.check(s"output:$q", ok = false, String.valueOf(e.getMessage).take(300))
          }
        }
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    }

    /** Run `body` on every query, three at a time. Only for untimed
      * passes: cold first executions are mostly single-threaded code
      * generation and JIT work, which three threads overlap. */
    private def concurrently(body: String => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try names.map(q => pool.submit(new Runnable { def run(): Unit = body(q) })).foreach(_.get())
      finally pool.shutdown()
    }

    val Rounds = 2

    def run(trace: Trace): Int = {
      for (round <- 1 to Rounds; q <- names) {
        val pack = packOf.getOrElse(q, "?")
        try {
          val df = trace.span("construct", s"$q#$round") { all(q)(spark, ctx.data) }
          val ph = df.queryExecution.tracker.phases
          trace.note("pack" -> pack, "df_analysis_ms" ->
            ph.get("analysis").map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L))
          trace.span("exec", s"$q#$round") { df.write.format("noop").mode("overwrite").save() }
          trace.note("pack" -> pack)
        } catch {
          case e: Throwable =>
            ctx.check(s"run:$q", ok = false, String.valueOf(e.getMessage).take(300))
        }
      }
      Rounds * names.size
    }
  }

  // --------------------------------------------------------- curate-cycle

  /** Ingest batches of documents (with exact and near-duplicate clones)
    * into a docs topic, one Curation.curateCycle with a standing LSH
    * index after each; the final verdicts must equal a one-call
    * Curation.curate over everything published. */
  final class CurateWorkload(ctx: Ctx, spark: SparkSession, dir: String) extends Prepared {
    val CapPerSource = 20
    val docsTopic: TopicLog = TopicLog.prepare(spark, s"$dir/docs", numPartitions = 8)
    val verdictTopic: TopicLog = TopicLog.prepare(spark, s"$dir/verdicts", numPartitions = 8)
    val batchDirs: Seq[String] = {
      val s = Files.list(Paths.get(s"${ctx.data}/curate"))
      try s.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("batch_"))
        .toSeq.sorted.map(n => s"${ctx.data}/curate/$n")
      finally s.close()
    }
    val bench: DataFrame = spark.read.parquet(s"${ctx.data}/curate/bench.parquet")
    private var verdicts: Map[Long, String] = Map.empty
    private var docs = 0L

    def run(trace: Trace): Int = {
      val ts0 = timestamp_micros(lit(1700000000000000L))
      var last: DataFrame = null
      batchDirs.zipWithIndex.foreach { case (b, i) =>
        val batch = spark.read.parquet(b)
        val n = batch.count()
        docs += n
        trace.span("publish", i.toString) {
          docsTopic.publish(Curation.docRecords(batch.withColumn("ts", ts0)))
        }
        trace.note("records" -> n)
        last = trace.span("cycle", i.toString) {
          Curation.curateCycle(docsTopic, verdictTopic, s"$dir/kept", s"$dir/ckpt",
            bench, capPerSource = CapPerSource, lshIndexDir = Some(s"$dir/lshix"))
        }
        trace.note("records" -> n)
      }
      verdicts = last.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
      2 * batchDirs.size
    }

    override def passExtra(): Map[String, Any] = Map("docs" -> docs)

    override def finalChecks(): Unit = {
      val all = batchDirs.map(spark.read.parquet).reduce(_ unionByName _)
      val want = Curation.curate(all, bench, capPerSource = CapPerSource).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
      val diff = want.keys.filter(k => verdicts.get(k) != want.get(k))
      ctx.check("verdicts_equal_batch_curate", want.size == verdicts.size && diff.isEmpty,
        s"${diff.size} of ${want.size} differ; got ${verdicts.size}")
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
