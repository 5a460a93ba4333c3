package perfbench

import graft.streaming.{Daemon, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The per-layer run. An untraced Daemon runs for a third of the time;
  * then the benchmark's own foreachBatch makes the Daemon's public
  * calls in the Daemon's order (`Daemon.compactBeforePersist`, then
  * `Ingest.persistBatch`) for the same ticks, with spans around the
  * calls and child spans from Spark listeners and streaming progress,
  * and the two runs' tables are compared; a last untraced Daemon
  * brackets the traced one for the overhead. */
class TracedRun(b: DaemonBench, spark: SparkSession, plant: Plant, sim: Option[Seq[Int]],
    traceOut: Option[java.nio.file.Path]) {
  import DaemonBench._

  private val shape = plant.shape
  private val trace = new Trace
  private val tap = new SparkTap
  private val tickRoot = new ConcurrentHashMap[Long, java.lang.Long]()
  private val addBatchSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private def rootOf(tick: Long): Long = tickRoot.computeIfAbsent(tick, _ => trace.newId())
  private def addBatchOf(tick: Long): Long = addBatchSpan.computeIfAbsent(tick, _ => trace.newId())
  /** (tick, data files, bytes) landed by each persist. */
  private val landed = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** Ticks whose trigger ran a compaction pass. */
  private val compactions = new ConcurrentLinkedQueue[Long]()

  private def setProps(span: String, tick: Long): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.span", span)
    spark.sparkContext.setLocalProperty("perfbench.tick", if (span == null) null else tick.toString)
  }

  private def dataFiles(dir: String): (Long, Long) = {
    val f = new java.io.File(dir)
    val fs = Option(f.listFiles()).getOrElse(Array.empty).filter(x => x.isFile && x.getName.startsWith("part-"))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  /** Daemon.start(), written out with spans around its public calls. */
  private def startTraced(maxTicks: Long): Pipeline = {
    val dataDir = b.freshDir()
    val factDir = s"$dataDir/fact"
    val statusDir = s"$dataDir/status"
    val channels = b.channelsDf()
    Ingest.recoverFactDir(spark, factDir)
    Ingest.flushStatus(spark, statusDir)
    val opts = b.sourceOptions(maxTicks)
    val raw = opts.map(o => spark.readStream.format("modbus-sim").options(o).load()).reduce(_ unionByName _)
    val decoded = Ingest.decodeAndConvert(raw, channels, plant.conversions)
    var lastCompactMs = System.currentTimeMillis()
    val q = decoded.writeStream
      .option("checkpointLocation", s"$dataDir/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        trace.around(addBatchOf(id), "daemon.foreach_batch", id) { root =>
          val now = System.currentTimeMillis()
          if (now - lastCompactMs >= b.truncIntervalSec * 1000L) {
            compactions.add(id)
            setProps("compact", id)
            trace.around(root, "maintenance.compact", id)(_ =>
              Daemon.compactBeforePersist(spark, factDir, channels, id))
            lastCompactMs = now
          }
          setProps("persist", id)
          trace.around(root, "ingest.persist", id)(_ =>
            Ingest.persistBatch(batch, id, factDir, statusDir))
          setProps(null, id)
        }
        val (n, bytes) = dataFiles(s"$factDir/batch=b$id")
        val (sn, sbytes) = dataFiles(statusDir)
        landed.add((id, n + sn, bytes + sbytes))
        ()
      }
      .start()
    val hb = Ingest.startHeartbeat(spark, statusDir, shape.pulseSec)
    new Pipeline {
      val dir: String = dataDir
      def query: StreamingQuery = q
      def stop(): Unit = { q.stop(); hb.stop() }
    }
  }

  private def simCounters(): Array[Long] = sim.fold(Array.fill(5)(0L)) { ports =>
    val s = new java.net.Socket("127.0.0.1", ports.head)
    try {
      s.getOutputStream.write("S\n".getBytes("US-ASCII"))
      s.getOutputStream.flush()
      new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream))
        .readLine().trim.split(" ").map(_.toLong)
    } finally s.close()
  }

  /** Wait until the listener has seen the end of every SQL execution. */
  private def settleListeners(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (tap.allExecs.exists(_.endMs < 0) && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Child spans from progress and listeners, under each tick's root. */
  private def addDerivedSpans(d: Driven): Unit = {
    val spans = trace.all
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
    val names = Map("latestOffset" -> "sources.latest_offset", "getBatch" -> "sources.get_batch",
      "walCommit" -> "daemon.wal_commit", "queryPlanning" -> "daemon.query_planning",
      "commitOffsets" -> "daemon.commit_offsets")
    val execs = tap.allExecs.filter(_.endMs >= 0)
    d.ticks.foreach { t =>
      val root = rootOf(t.batchId)
      val startUs = t.startMs * 1000
      trace.add(root, 0L, "tick", t.batchId, startUs, t.endMs * 1000)
      var at = startUs
      order.filter(t.d.contains).foreach { k =>
        trace.add(root, names(k), t.batchId, at, at + t.d(k) * 1000)
        at += t.d(k) * 1000
      }
      // addBatch wraps the foreachBatch body; planning-side spans are
      // laid out in Spark's order from the trigger start
      spans.find(s => s.tick == t.batchId && s.name == "daemon.foreach_batch").foreach { f =>
        val from = math.max(at, f.endUs - t.d.getOrElse("addBatch", 0L) * 1000)
        trace.add(addBatchOf(t.batchId), root, "daemon.add_batch", t.batchId, math.min(from, f.startUs), f.endUs)
        at = f.endUs
      }
      t.d.get("commitOffsets").foreach { ms =>
        trace.add(root, names("commitOffsets"), t.batchId, at, at + ms * 1000)
      }
      def within(s: Span, label: String) =
        execs.filter(e => e.label == label && e.startMs * 1000 >= s.startUs - 1000 && e.endMs * 1000 <= s.endUs + 1000)
      spans.filter(s => s.tick == t.batchId && s.name == "ingest.persist").foreach { p =>
        val fact = execs.find(e => e.label == "fact" && e.path.endsWith(s"/batch=b${t.batchId}"))
        fact.foreach(e => trace.add(p.id, "ingest.fact_write", t.batchId, e.startMs * 1000, e.endMs * 1000))
        val from = fact.fold(p.startUs)(_.endMs * 1000)
        val merge = trace.add(p.id, "ingest.status_merge", t.batchId, from, p.endUs)
        within(p, "status").lastOption.foreach(e =>
          trace.add(merge, "ingest.status_write", t.batchId, e.startMs * 1000, e.endMs * 1000))
      }
      spans.filter(s => s.tick == t.batchId && s.name == "maintenance.compact").foreach { c =>
        within(c, "compaction").foreach(e =>
          trace.add(c.id, "maintenance.compact_write", t.batchId, e.startMs * 1000, e.endMs * 1000))
      }
    }
  }

  /** The Daemon itself for `n` ticks, under the same reader load. */
  private def untraced(n: Long, warm: Long): (Pipeline, Driven) =
    b.drive(n, warm, b.startDaemon)(b.reader(None, new ConcurrentLinkedQueue[Dashboard]()))

  def run(seconds: Double): String = {
    b.warmups(1)
    // untraced, traced, untraced, each a third of the budget: most of
    // the JIT's warm-up drift cancels out of the overhead. The first two
    // poll the same ticks, so their tables must be equal.
    val n = b.windowTicks(seconds / 3, floor = 4)
    val (plain, plainRun) = untraced(n, plant.shape.warmTicks)
    b.compactFinal(plain)
    val plainChecks = b.check(plain, plainRun.lastTick + 1, retained = true)
    val plainContents = b.contents(plain)

    spark.sparkContext.addSparkListener(tap)
    val reads = new ConcurrentLinkedQueue[Dashboard]()
    val sim0 = simCounters()
    val (p, d) = b.drive(n, plant.shape.warmTicks, startTraced)(b.reader(Some(trace), reads))
    val sim1 = simCounters()

    // the closing retention pass counts as one more compaction tick
    val finalTick = d.lastTick + 1
    compactions.add(finalTick)
    setProps("compact", finalTick)
    trace.around(0L, "maintenance.compact", finalTick)(_ => b.compactFinal(p))
    setProps(null, finalTick)
    val probe = b.readProbe(p, Some(trace))
    val checks = b.check(p, d.lastTick + 1, retained = true)
    val same = b.contents(p) == plainContents
    settleListeners()
    spark.sparkContext.removeSparkListener(tap)
    val (_, plainAfter) = untraced(n, 1)
    val untracedP50 = (median(plainRun.window.map(_.ms.toDouble)) + median(plainAfter.window.map(_.ms.toDouble))) / 2
    addDerivedSpans(d)
    traceOut.foreach(trace.write)

    // ---- per-layer figures over the traced window
    val self = trace.selfUs
    val spans = trace.all
    val win = d.window.map(_.batchId).toSet
    def spanMs(name: String, ticks: Set[Long] = win): Seq[Double] =
      spans.filter(s => s.name == name && ticks(s.tick)).map(_.durUs / 1000.0)
    val jobs = tap.allJobs
    val factExecs = tap.allExecs.filter(_.label == "fact")
      .map(e => e.path.split("batch=b").last.toLong -> e).toMap
    def factStats(tick: Long) = tap.stageTotals(
      factExecs.get(tick).toSeq.flatMap(e => jobs.filter(_.execId == e.id)))
    val factStage = d.window.map(t => factStats(t.batchId))
    val rowsIn = d.window.map(_.rows)
    val rowsOut = factStage.map(_.recordsWritten)
    val readErrors = rowsIn.sum - rowsOut.sum
    val written = d.ticks.map(t => t.batchId -> factStats(t.batchId).recordsWritten).toMap
    // fact rows on disk before each pass: the previous pass's survivors
    // plus every batch persisted since (a pass runs before its tick's persist)
    val passes = compactions.asScala.toSeq.sorted
      .scanLeft((-1L, 0L, 0L)) { case ((prevTick, _, prevKept), t) =>
        val before = prevKept + written.collect { case (k, w) if k >= math.max(prevTick, 0L) && k < t => w }.sum
        (t, before, tap.stageTotals(jobs.filter(j => j.span == "compact" && j.tick == t)).recordsWritten)
      }.tail.filter(x => win(x._1) || x._1 == finalTick)
    val compactTicks = passes.map(_._1).toSet
    val rewritten = passes.map(_._3)
    val evicted = passes.map(x => x._2 - x._3)
    val dash = reads.asScala.toSeq.filter(d.inWindow) ++ probe
    val tickMs = d.window.map(_.ms.toDouble)
    val roots = spans.filter(s => s.name == "tick" && win(s.tick))
    val coverage = roots.map(r => 1.0 - self(r.id).toDouble / math.max(r.durUs, 1L))
    val perRow = roots.map(r => spans.filter(s => s.tick == r.tick && s.name == "ingest.fact_write")
      .map(_.durUs).sum.toDouble / math.max(r.durUs, 1L))
    val allRows = d.ticks.map(_.rows).sum
    val landedWin = landed.asScala.toSeq.filter(x => win(x._1))
    def dur(k: String) = d.window.map(_.d.getOrElse(k, 0L).toDouble)
    val metrics = Seq(
      ("sources.requests_per_sample", (sim1(0) - sim0(0)).toDouble / math.max(allRows, 1L), "count"),
      ("sources.connections_per_tick", (sim1(1) - sim0(1)).toDouble / d.ticks.size, "count"),
      ("sources.wire_bytes_per_tick", (sim1(2) + sim1(3) - sim0(2) - sim0(3)).toDouble / d.ticks.size, "bytes"),
      ("sources.read_errors", readErrors.toDouble, "count"),
      ("functions.rows_in", mean(rowsIn.map(_.toDouble)), "count"),
      ("functions.rows_out", mean(rowsOut.map(_.toDouble)), "count"),
      ("functions.fact_stage_cpu_ms", mean(factStage.map(_.cpuNs / 1e6)), "ms"),
      ("ingest.fact_write_ms", mean(spanMs("ingest.fact_write")), "ms"),
      ("ingest.status_merge_ms", mean(spanMs("ingest.status_merge")), "ms"),
      ("ingest.jobs_per_tick", mean(d.window.map(t =>
        jobs.count(j => j.span == "persist" && j.tick == t.batchId).toDouble)), "count"),
      ("ingest.files_per_tick", mean(landedWin.map(_._2.toDouble)), "count"),
      ("ingest.bytes_per_tick", mean(landedWin.map(_._3.toDouble)), "bytes"),
      ("daemon.add_batch_ms", mean(dur("addBatch")), "ms"),
      ("daemon.wal_commit_ms", mean(dur("walCommit")), "ms"),
      ("daemon.commit_offsets_ms", mean(dur("commitOffsets")), "ms"),
      ("daemon.query_planning_ms", mean(dur("queryPlanning")), "ms"),
      ("maintenance.compact_ms", mean(spanMs("maintenance.compact", compactTicks)), "ms"),
      ("maintenance.rows_rewritten", mean(rewritten.map(_.toDouble)), "count"),
      ("maintenance.evicted_per_rewritten", evicted.sum.toDouble / math.max(rewritten.sum, 1L), "ratio"),
      ("read.files_listed", mean(dash.map(_.files.toDouble)), "count"),
      ("read.rows_scanned", mean(dash.map(_.rows.toDouble)), "count"),
      ("read.failures_file_not_found", b.failedAttempts(dash).getOrElse("file_not_found", 0).toDouble, "count"),
      ("read.failures_other", b.failedAttempts(dash).getOrElse("other", 0).toDouble, "count"),
      ("jvm.gc_ms_per_tick", d.windowGcMs.toDouble / d.window.size, "ms"),
      ("trace.overhead_ms", median(tickMs) - untracedP50, "ms"),
      ("trace.span_coverage", median(coverage), "ratio"),
      ("trace.per_row_share", median(perRow), "ratio"))
    val selfByName = spans.filter(s => win(s.tick)).groupBy(_.name)
      .map { case (k, ss) => k -> ss.map(s => self(s.id) / 1000.0).sum / d.window.size }
    val failures = plainChecks.map("untraced run: " + _) ++ checks ++
      (if (same) Nil else Seq("traced run's fact/status contents differ from the untraced run's"))
    b.result(failures,
      attempted = rowsIn.sum + d.window.size + dash.size,
      failed = readErrors + dash.count(!_.ok),
      metrics,
      Map("ticks" -> d.window.size,
        "untraced_tick_ms" -> (plainRun.window ++ plainAfter.window).map(_.ms),
        "traced_tick_ms" -> d.window.map(_.ms),
        "untraced_tick_ms_p50" -> untracedP50,
        "traced_tick_ms_p50" -> median(tickMs),
        "reads" -> dash.size,
        "sources_plan_ms" -> mean(dur("latestOffset").zip(dur("getBatch")).map { case (a, c) => a + c }),
        "device_service_us_p50" -> sim1(4),
        "self_ms_per_tick" -> selfByName.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.1f" }))
  }
}
