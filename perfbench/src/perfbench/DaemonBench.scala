package perfbench

import graft.model.Tables
import graft.streaming.{Daemon, Ingest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The daemon ingest benchmark: runs `graft.streaming.Daemon` (or, in
  * traced mode, the same public calls from the benchmark's own
  * foreachBatch) over one generated plant, measures ticks and
  * dashboard reads, checks the landed fact and status tables, and
  * prints one JSON object as its last line.
  *
  * Usage: DaemonBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--sim <controlPort>,<busPort>...]
  *   [--trace-out <spans.jsonl>]
  */
object DaemonBench {
  /** Set-ups per run; set-up time is their median. */
  val Setups = 3
  /** The tick length a time budget is divided by to size the window. */
  val NominalTickMs = 2000.0
  /** Attempts of one dashboard refresh whose files vanished under it. */
  val MaxReadAttempts = 10

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val shape = Workloads.shape(opts("workload"), nproc)
    val plant = Workloads.generate(shape, opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val work = Paths.get(opts("work"))
    val sim = opts.get("sim").map(_.split(",").map(_.toInt).toSeq)
    require(shape.mode == "sim" || sim.exists(_.size == 1 + shape.buses),
      s"${shape.name} needs --sim <control>,<${shape.buses} bus ports>")
    val spark = Tables.buildLocalSession(shape.sessionCores(nproc).toString)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val bench = new DaemonBench(spark, plant, work, sim, nproc)
    val out =
      try {
        if (opts.getOrElse("trace", "0") == "1") bench.traced(seconds, opts.get("trace-out").map(Paths.get(_)))
        else bench.untraced(seconds, sessionS)
      }
      finally spark.stop()
    println(out)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident memory of this process, MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Every streaming progress event, kept per query. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    byQuery.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)
    ()
  }
  /** Progress of the batches that ran (idle triggers have no addBatch). */
  def batches(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    Option(byQuery.get(q.id)).map(_.asScala.toSeq).getOrElse(Nil)
      .filter(_.durationMs.containsKey("addBatch")).map(p => p.batchId -> p).toMap
}

/** One tick's figures from its progress event. */
final case class Tick(batchId: Long, startMs: Long, ms: Long, rows: Long, d: Map[String, Long]) {
  def endMs: Long = startMs + ms
}

object Tick {
  def of(p: StreamingQueryProgress): Tick = Tick(p.batchId,
    java.time.Instant.parse(p.timestamp).toEpochMilli,
    p.durationMs.get("triggerExecution").longValue, p.numInputRows,
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}

/** A running pipeline over one data directory. */
trait Pipeline {
  def dir: String
  def query: StreamingQuery
  def stop(): Unit
  def factDir: String = s"$dir/fact"
  def statusDir: String = s"$dir/status"
}

/** Ticks of one drained pipeline and its window. */
final case class Driven(setupS: Double, warmS: Double, windowStartNs: Long, windowGcMs: Long,
    ticks: Seq[Tick], window: Seq[Tick], lastTick: Long) {
  def inWindow(d: Dashboard): Boolean = d.startNs >= windowStartNs
  def windowS: Double = (window.last.endMs - ticks.find(_.batchId == window.head.batchId - 1).get.endMs) / 1000.0
}

/** One dashboard refresh; `failedAttempts` holds the cause of every
  * attempt that threw, retried ones included. */
final case class Dashboard(startNs: Long, ms: Double, ok: Boolean, failedAttempts: Seq[String],
    files: Long, rows: Long)

class DaemonBench(spark: SparkSession, plant: Plant, work: Path, sim: Option[Seq[Int]], nproc: Int)
    extends AdaptiveSparkPlanHelper {
  import DaemonBench._

  private val shape = plant.shape
  private val maps: Map[Int, Array[Int]] =
    if (shape.mode == "tcp") (1 to shape.unitsPerBus).map(u => u -> Workloads.registerMap(plant.seed, u)).toMap
    else Map.empty
  private val progress = new ProgressLog
  spark.streams.addListener(progress)
  private var runs = 0

  // ---------------------------------------------------------------- inputs

  /** The channel dimension, as the daemon loads it. */
  def channelsDf(): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("format_code", IntegerType, nullable = false),
      StructField("conversion_id", LongType),
      StructField("history_len", IntegerType, nullable = false)))
    spark.createDataFrame(plant.channels.map(c =>
      Row(c.id, c.format, c.conversionId.map(Long.box).orNull, c.historyLen)).asJava, schema)
  }

  /** One option map per bus, the first feeding `sourceOptions`. */
  def sourceOptions(maxTicks: Long): Seq[Map[String, String]] =
    plant.channels.groupBy(_.bus).toSeq.sortBy(_._1).map { case (bus, chs) =>
      val base = Map(
        "channels" -> chs.map(c => s"${c.id}@${c.address}@${c.count}@${c.unit}").mkString(","),
        "startEpochSec" -> plant.startEpochSec.toString,
        "periodSec" -> "1",
        "numPartitions" -> shape.partitionsPerBus.toString,
        "maxTicks" -> maxTicks.toString)
      if (shape.mode == "tcp")
        base ++ Map("mode" -> "tcp", "host" -> "127.0.0.1",
          "port" -> sim.get(1 + bus).toString, "timeoutMs" -> "5000")
      else base
    }

  private[perfbench] def truncIntervalSec: Int = if (shape.retainEveryTick) 0 else Int.MaxValue / 1000

  private[perfbench] def freshDir(): String = {
    runs += 1
    val d = work.resolve(s"run$runs")
    Files.createDirectories(d)
    d.toString
  }

  def startDaemon(maxTicks: Long): Pipeline = {
    val opts = sourceOptions(maxTicks)
    val d = new Daemon(spark, channelsDf(), plant.conversions, opts.head, freshDir(),
      pulseSec = shape.pulseSec, truncIntervalSec = truncIntervalSec, extraSources = opts.tail)
    val dataDir = d.factDir.stripSuffix("/fact")
    d.start()
    new Pipeline {
      val dir: String = dataDir
      def query: StreamingQuery = d.ingest
      def stop(): Unit = d.stop()
    }
  }

  // --------------------------------------------------------------- driving

  /** Wait until batch `id` has committed. */
  private def awaitBatch(q: StreamingQuery, id: Long): Unit = {
    while (Option(q.lastProgress).forall(p => p.batchId < id || !p.durationMs.containsKey("addBatch"))) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }
  }

  /** Progress events reach listeners asynchronously: wait for all. */
  private def ticksOf(q: StreamingQuery, last: Long): Seq[Tick] = {
    val deadline = System.currentTimeMillis() + 30000
    while (progress.batches(q).size < last + 1 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    val bs = progress.batches(q)
    require(bs.size == last + 1, s"progress for ${bs.size} of ${last + 1} batches")
    (0L to last).map(i => Tick.of(bs(i)))
  }

  /** Start a pipeline, time its set-up (first tick committed) and its
    * `warm` warm-up ticks, then measure `window` more ticks. `during`
    * runs from the first commit until the drain, so a reader is warm
    * when the window opens; the caller keeps what it did in the window. */
  def drive(window: Long, warm: Long, start: Long => Pipeline)(
      during: (Pipeline, () => Boolean) => Unit): (Pipeline, Driven) = {
    val last = warm + window
    val t0 = System.nanoTime()
    val p = start(last + 1)
    val q = p.query
    try {
      awaitBatch(q, 0)
      val t1 = System.nanoTime()
      @volatile var done = false
      val side = new Thread(() => during(p, () => done))
      side.start()
      try {
        awaitBatch(q, warm)
        val t2 = System.nanoTime()
        val gc0 = gcMs()
        q.processAllAvailable()
        q.exception.foreach(e => throw e)
        val gc = gcMs() - gc0
        val ticks = ticksOf(q, last)
        (p, Driven((t1 - t0) / 1e9, (t2 - t1) / 1e9, t2, gc, ticks, ticks.filter(_.batchId > warm), last))
      } finally { done = true; side.join() }
    } finally p.stop()
  }

  /** Throwaway set-ups, each to its first committed tick; their times. */
  private[perfbench] def warmups(n: Int): Seq[Double] =
    (1 to n).map(_ => drive(0, 0, startDaemon)((_, _) => ())._2.setupS)

  /** Ticks measured for a time budget: a fixed count per budget, so
    * every run measures the same work at the same point of the JVM's
    * warm-up. */
  private[perfbench] def windowTicks(seconds: Double, floor: Long): Long =
    math.max(floor, math.round(seconds * 1000 / NominalTickMs))

  // ------------------------------------------------------------ dashboards

  /** One dashboard refresh over the live tables: latest value per
    * channel, min/avg/max per channel over the retained window, then
    * the status table. A refresh that meets files swapped away under it
    * (`compactFact` replacing the fact directory) is retried, as a
    * dashboard would, up to `MaxReadAttempts` times: its time includes
    * the failed attempts, and every failed attempt is kept with its
    * cause. */
  def dashboard(p: Pipeline, trace: Option[Trace]): Dashboard = {
    val t0 = System.nanoTime()
    var files = 0L
    var rows = 0L
    def run(name: String, parent: Long)(df: => DataFrame): Unit = {
      def go(): Unit = {
        val d = df
        d.collect()
        collect(d.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }
      }
      trace.fold(go())(t => t.around(parent, name, -1)(_ => go()))
    }
    def body(parent: Long): Unit = {
      run("read.latest", parent)(Ingest.readFact(spark, p.factDir)
        .groupBy("channel_id").agg(max_by(col("value"), col("ts")).as("value"), max("ts").as("ts")))
      run("read.window_agg", parent)(Ingest.readFact(spark, p.factDir)
        .groupBy("channel_id").agg(min("value"), avg("value"), max("value"), count(lit(1))))
      run("read.status", parent)(spark.read.parquet(p.statusDir))
    }
    def attempt(): Option[String] = {
      files = 0L
      rows = 0L
      try { trace.fold(body(0L))(t => t.around(0L, "read.dashboard", -1)(body)); None }
      catch { case e: Exception => Some(failureCause(e)) }
    }
    spark.sparkContext.setLocalProperty("perfbench.span", "read")
    try {
      val fails = Seq.newBuilder[String]
      var outcome = attempt()
      var attempts = 1
      while (outcome.contains("file_not_found") && attempts < MaxReadAttempts) {
        fails += outcome.get
        outcome = attempt()
        attempts += 1
      }
      outcome.foreach(fails += _)
      Dashboard(t0, (System.nanoTime() - t0) / 1e6, ok = outcome.isEmpty, fails.result(), files, rows)
    } finally spark.sparkContext.setLocalProperty("perfbench.span", null)
  }

  /** Failed refresh attempts by cause, retried ones included. */
  def failedAttempts(dash: Seq[Dashboard]): Map[String, Int] =
    dash.flatMap(_.failedAttempts).groupBy(identity).map { case (k, v) => k -> v.size }

  private def failureCause(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val text = chain.map(x => s"${x.getClass.getName} ${x.getMessage}").mkString(" ")
    if (Seq("FILE_NOT_EXIST", "FileNotFoundException", "NoSuchFileException", "PATH_NOT_FOUND")
        .exists(text.contains)) "file_not_found"
    else "other"
  }

  /** A closed-loop reader: the next dashboard starts when the last ends. */
  def reader(trace: Option[Trace], out: ConcurrentLinkedQueue[Dashboard])(p: Pipeline, done: () => Boolean): Unit =
    if (shape.reader) while (!done()) out.add(dashboard(p, trace))

  /** Dashboards after the drain, for workloads without a live reader. */
  def readProbe(p: Pipeline, trace: Option[Trace]): Seq[Dashboard] =
    if (shape.reader) Nil else (0 until 8).map(_ => dashboard(p, trace))

  // ---------------------------------------------------------------- checks

  private def tsOf(tick: Long): Long = plant.startEpochSec + tick

  /** Compare the landed tables with the simulator's golden values;
    * returns the failed checks. `ticks` = ticks polled, `retained` =
    * a final compaction ran. */
  def check(p: Pipeline, ticks: Long, retained: Boolean): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val schema = StructType(Seq(StructField("cid", LongType), StructField("expected", DecimalType(25, 6))))
    val golden = spark.createDataFrame(plant.channels.map(c =>
      Row(c.id, Workloads.golden(plant, maps, c))).asJava, schema)
    val perChannel = Ingest.readFact(spark, p.factDir)
      .join(broadcast(golden), col("channel_id") === col("cid"), "left")
      .groupBy("channel_id").agg(
        count(lit(1)), countDistinct(col("ts")), min(col("ts")).cast("long"), max(col("ts")).cast("long"),
        sum(when(col("value") <=> col("expected"), 0).otherwise(1)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val byId = plant.channels.map(c => c.id -> c).toMap
    perChannel.keys.filterNot(byId.contains).foreach(id => bad += s"fact holds unknown channel $id")
    var wrongValues = 0L
    plant.channels.foreach { c =>
      val keep = if (retained) math.min(c.historyLen.toLong, ticks) else ticks
      perChannel.get(c.id) match {
        case None => bad += s"channel ${c.id}: no fact rows"
        case Some((n, distinctTs, lo, hi, wrong)) =>
          wrongValues += wrong
          if (n != keep || distinctTs != keep) bad += s"channel ${c.id}: $n rows, $distinctTs ticks, want $keep"
          if (lo != tsOf(ticks - keep + 1) || hi != tsOf(ticks))
            bad += s"channel ${c.id}: ts $lo..$hi, want ${tsOf(ticks - keep + 1)}..${tsOf(ticks)}"
      }
    }
    if (wrongValues > 0) bad += s"$wrongValues fact values differ from the golden decode+conversion"
    val status = spark.read.parquet(p.statusDir).select("id", "parameter", "status", "ts").collect()
    val want = plant.channels.map(c => s"CHL: ${c.id}").toSet + "daq-3i"
    val got = status.map(_.getString(1))
    if (got.length != want.size || got.toSet != want)
      bad += s"status holds ${got.length} rows (${got.toSet.size} parameters), want ${want.size}"
    if (status.map(_.getLong(0)).distinct.length != status.length) bad += "status ids are not unique"
    status.foreach { r =>
      val ts = r.getTimestamp(3).getTime / 1000
      val param = r.getString(1)
      if (r.getInt(2) != 1) bad += s"status $param: status ${r.getInt(2)}"
      if (param == "daq-3i") { if (ts < tsOf(ticks)) bad += s"status daq-3i: ts $ts before last tick ${tsOf(ticks)}" }
      else if (ts != tsOf(ticks)) bad += s"status $param: ts $ts, want last tick ${tsOf(ticks)}"
    }
    bad.result().take(20)
  }

  /** Order-independent content of the tables, for comparing two runs.
    * Left out: the heartbeat row's time (wall clock) and the status
    * surrogate ids (they depend on whether the heartbeat's first merge
    * lands before the first tick's; `check` asserts they are unique). */
  def contents(p: Pipeline): (Long, String, Seq[String]) = {
    val f = Ingest.readFact(spark, p.factDir)
      .agg(count(lit(1)), sum(xxhash64(col("channel_id"), col("ts"), col("value")).cast(DecimalType(38, 0))))
      .head()
    val s = spark.read.parquet(p.statusDir).orderBy("parameter").collect().toSeq.map { r =>
      val param = r.getAs[String]("parameter")
      if (param == "daq-3i") param else s"$param ${r.getAs[Int]("status")} ${r.getAs[java.sql.Timestamp]("ts")}"
    }
    (f.getLong(0), String.valueOf(f.get(1)), s)
  }

  private[perfbench] def compactFinal(p: Pipeline): Unit = Ingest.compactFact(spark, p.factDir, channelsDf())

  // ---------------------------------------------------------------- modes

  /** End-to-end run: set-up medians, the measured window, the checks. */
  def untraced(seconds: Double, sessionS: Double): String = {
    val setups = warmups(Setups - 1)
    val n = windowTicks(seconds, floor = 8)
    val reads = new ConcurrentLinkedQueue[Dashboard]()
    val (p, d) = drive(n, shape.warmTicks, startDaemon)(reader(None, reads))
    if (shape.retainEveryTick) compactFinal(p)
    val failures = check(p, d.lastTick + 1, shape.retainEveryTick)
    val dash = reads.asScala.toSeq.filter(d.inWindow) ++ readProbe(p, None)
    val readErrors = sourceErrors(p, d)
    val tickMs = d.window.map(_.ms.toDouble)
    val okReads = dash.filter(_.ok).map(_.ms)
    val samples = d.window.map(_.rows).sum - readErrors
    val attempted = d.window.map(_.rows).sum + d.window.size + dash.size
    val failed = readErrors + dash.count(!_.ok)
    val metrics = Seq(
      ("samples_per_s", samples / d.windowS, "samples/s"),
      ("tick_ms_p50", median(tickMs), "ms"),
      ("tick_ms_p95", quantile(tickMs, 0.95), "ms"),
      ("read_ms_p50", median(okReads), "ms"),
      ("read_ms_p95", quantile(okReads, 0.95), "ms"),
      ("setup_s", sessionS + median(setups :+ d.setupS) + d.warmS, "s"),
      ("rss_peak_mb", rssPeakMb(), "MB"))
    result(failures, attempted, failed, metrics, Map(
      "ticks" -> d.window.size, "window_s" -> d.windowS, "tick_ms" -> d.window.map(_.ms), "reads" -> dash.size,
      "reads_failed" -> dash.count(!_.ok), "read_attempts_failed" -> failedAttempts(dash),
      "device_read_errors" -> readErrors,
      "setups_s" -> (setups :+ d.setupS), "warmup_s" -> d.warmS, "session_s" -> sessionS,
      "channels" -> plant.channels.size))
  }

  /** status=-1 rows in the window: polled rows that never reached the
    * fact table. The in-process generator never fails a read; tcp
    * workloads keep every batch partition (no retention) to count. */
  private def sourceErrors(p: Pipeline, d: Driven): Long =
    if (shape.mode == "sim") 0L
    else {
      val batches = d.window.map(t => s"b${t.batchId}")
      val landed = spark.read.parquet(p.factDir).filter(col("batch").isin(batches: _*)).count()
      d.window.map(_.rows).sum - landed
    }

  private[perfbench] def result(failures: Seq[String], attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], extra: Map[String, Any]): String = {
    System.err.println(s"[perfbench] ${shape.name} seed=${plant.seed} nproc=$nproc " +
      s"checks=${if (failures.isEmpty) "pass" else "FAIL"}")
    failures.foreach(f => System.err.println(s"[perfbench]   check failed: $f"))
    Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, v, u) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*),
      "checks" -> failures,
      "nproc" -> nproc,
      "session_cores" -> shape.sessionCores(nproc),
      "workload" -> shape.name,
      "seed" -> plant.seed,
      "extra" -> extra)
  }

  def traced(seconds: Double, traceOut: Option[Path]): String =
    new TracedRun(this, spark, plant, sim, traceOut).run(seconds)

}
