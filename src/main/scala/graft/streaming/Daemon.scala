package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

/** The whole reference daemon as ONE Spark-native object — the
  * "switch from daq-3i" entry point. Reference topology
  * (daq-3i.py:218-231 load, :311-348 thread spawn, :350-374 drain):
  *
  *   - startup status flush (D8, daq_status.py:25);
  *   - one acquisition+persist pipeline per daemon (D1-D7): the
  *     modbus-sim DataSource V2 source polls every configured channel
  *     once per micro-batch tick, a declarative plan decodes (D3) and
  *     converts (D4), and ONE tick body lands the fact append + status
  *     upsert (D6/D7) with the per-batch heartbeat row (D10) into the
  *     fact sink chosen once per daemon (parquet or JDBC) — the live
  *     stream, [[backfill]] and [[drainAndCompact]] all run it;
  *   - retention (D9) runs INSIDE the micro-batch loop every
  *     `truncIntervalSec` seconds of processing time — the reference
  *     used a separate sweep thread racing the persist thread over the
  *     DB; here compaction is serialized with writes by construction,
  *     so there is no window where a swap can lose a concurrent batch;
  *   - an independent heartbeat stream (D10, daq-3i.py:163-171) keeps
  *     liveness observable when all channels are quiet (status merges
  *     from the two streams are serialized by Ingest's status lock);
  *   - a [[Monitoring]] listener records per-batch durations — the
  *     query-level stall surface (D11).
  *
  * `stop()` is the SIGTERM drain: streams stop at a micro-batch
  * boundary, checkpoints make the restart resume exactly where the
  * drain left off.
  *
  * `channels` is collected once, when the daemon is constructed, and
  * decode, retention and both sinks read that snapshot: no tick reads
  * the store it came from. A config change therefore takes effect at
  * restart, as with the reference's load at startup
  * (daq-3i.py:218-231).
  *
  * Deployment note (100 TB): the daemon's one stateful stage is the
  * optional duplicate guard (`dedupeLateness`, a
  * dropDuplicatesWithinWatermark). Its state defaults to the in-memory
  * HDFS-backed state store; a large-key-space cluster deployment sets
  * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
  * provider at session build so per-executor state spills to local
  * disk instead of heap — no operator code changes.
  */
class Daemon(
    spark: SparkSession,
    channels: DataFrame,
    conversions: Seq[(Long, String)],
    sourceOptions: Map[String, String],
    dataDir: String,
    pulseSec: Int = 15,
    truncIntervalSec: Int = 15,
    // additional acquisition sources, one option map per extra bus
    // (daq-3i.py:311-318 spawns one acquire thread per bus; here every
    // bus is a DSv2 stream and the union feeds ONE decode+persist
    // pipeline — channel_id disambiguates, as it does in the reference
    // fact table). Built from the config store by [[ConfigStore.load]].
    extraSources: Seq[Map[String, String]] = Nil,
    // opt-in duplicate guard: drop re-delivered (channel_id, ts)
    // samples within this lateness before persisting. The polled
    // Modbus path can't produce dups, but at-least-once upstream
    // transports (gateway replays) can — and the stage is the daemon's
    // stateful surface, exercised by the RocksDB spec variant
    dedupeLateness: Option[String] = None,
    // (url, table): land the fact stream in a SQL database instead of
    // parquet — the reference's actual sink (db_model.py:65-67 targets
    // MySQL; specs use embedded Derby). Exactly-once via the batch
    // ledger (Ingest.persistBatchJdbc), in-loop retention via the
    // transactional DELETE+INSERT swap (Ingest.compactFactJdbc). The
    // status table stays on statusDir in both modes.
    jdbcFactSink: Option[(String, String)] = None) {

  private val dim = Daemon.snapshot(channels)

  val factDir = s"$dataDir/fact"
  val statusDir = s"$dataDir/status"
  private val ckptDir = s"$dataDir/ckpt"

  @volatile private var ingestQuery: StreamingQuery = _
  @volatile private var heartbeatQuery: StreamingQuery = _
  @volatile private var monitor: Monitoring = _
  @volatile private var lastCompactMs = 0L

  /** The fact sink, chosen once: everything the parquet and JDBC modes
    * do differently. Parquet recovers a half-swapped factDir at
    * startup; the JDBC compaction swap is transactional, so there is
    * no half-swapped state to recover. */
  private val sink: Daemon.FactSink = jdbcFactSink match {
    case None => new Daemon.FactSink {
      def recover(): Unit = Ingest.recoverFactDir(spark, factDir)
      def retain(batchId: Long, prefix: String): Unit =
        Daemon.compactBeforePersist(spark, factDir, dim, batchId, prefix)
      def land(batch: DataFrame, batchId: Long, prefix: String): Unit =
        Ingest.persistBatch(batch, batchId, factDir, statusDir, prefix)
      def compact(): Unit = Ingest.compactFact(spark, factDir, dim)
    }
    case Some((url, table)) => new Daemon.FactSink {
      def recover(): Unit = ()
      def retain(batchId: Long, prefix: String): Unit =
        Daemon.compactBeforePersistJdbc(spark, url, table, dim, batchId)
      def land(batch: DataFrame, batchId: Long, prefix: String): Unit =
        Ingest.landBatch(batch, statusDir)(Ingest.persistBatchJdbc(batch, batchId, url, table))
      def compact(): Unit = Ingest.compactFactJdbc(spark, url, table, dim)
    }
  }

  /** The one tick, shared by the live stream and [[backfill]]: D9
    * retention when `truncIntervalSec` has passed, then the batch
    * lands (fact append, status upsert and heartbeat row — D6/D7/D10).
    * Retention runs BEFORE this batch persists, with this trigger's own
    * partition excluded (see [[Daemon.compactBeforePersist]]) — every
    * OTHER batch on disk is checkpoint-committed (Spark commits N-1
    * before starting N) and safe to fold; this batch's partition can
    * only be an uncommitted leftover of a replayed attempt of this same
    * trigger, about to be rewritten. Serialized with the fact write by
    * construction (same thread). */
  private def tick(prefix: String)(batch: DataFrame, batchId: Long): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastCompactMs >= truncIntervalSec * 1000L) {
      sink.retain(batchId, prefix)
      lastCompactMs = now
    }
    sink.land(batch, batchId, prefix)
  }

  /** Decode and convert `readings`, and run [[tick]] on each micro-batch
    * under `trigger`, checkpointed at `ckpt`. The sink recovers first,
    * BEFORE the stream starts: a compaction swap that crashed between
    * its renames left everything in factDir.bak — restore it now, while
    * nothing else can recreate factDir and make the .bak look stale. */
  private def run(readings: DataFrame, ckpt: String, prefix: String, trigger: Trigger): StreamingQuery = {
    sink.recover()
    lastCompactMs = System.currentTimeMillis()
    Ingest.decodeAndConvert(readings, dim, conversions).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch(tick(prefix) _)
      .start()
  }

  def start(): Daemon = {
    Ingest.flushStatus(spark, statusDir) // D8 startup flush
    monitor = Monitoring.attach(spark)
    val raw = (sourceOptions +: extraSources)
      .map(opts => spark.readStream.format("modbus-sim").options(opts).load())
      .reduce(_ unionByName _)
    val readings = dedupeLateness.fold(raw)(late =>
      raw.withWatermark("ts", late)
        .dropDuplicatesWithinWatermark("channel_id", "ts"))
    // ProcessingTime(0) is the writer's default: a tick starts as soon
    // as the previous one ends
    ingestQuery = run(readings, ckptDir, "b", Trigger.ProcessingTime(0L))
    heartbeatQuery = Ingest.startHeartbeat(spark, statusDir, pulseSec)
    this
  }

  /** Backfill/replay: drain all currently-available raw readings
    * (the modbus-sim source's schema) from a parquet directory through
    * the SAME tick as the live stream, then return (Trigger.AvailableNow
    * — checkpointed micro-batches under `dataDir`, so a crashed backfill
    * resumes where it left off and a re-run over an unchanged directory
    * is a no-op). The reference daemon only tails live devices; a
    * 100 TB engine additionally needs deterministic reprocessing of
    * landed raw data with the exact same semantics as the live path —
    * same plan, same sink idempotence, different trigger. No startup
    * flush, no heartbeat stream, no monitor.
    *
    * Backfill batches land under `batch=bf<id>` partitions: the
    * checkpoint restarts batch ids at 0, so without the distinct
    * prefix a backfill into a factDir already fed by the LIVE stream
    * (whose checkpoint owns `batch=b<id>`) would overwrite committed
    * live partitions. Idempotence holds per checkpoint lineage; the
    * prefix keeps the two lineages disjoint. The JDBC sink has no such
    * prefix — its batch ledger is keyed by batch id alone, so backfill
    * batch 0 would find the live batch 0 committed and land nothing —
    * and is refused.
    *
    * Do NOT run a backfill while this daemon (or another on the same
    * factDir) is started: the in-loop compaction swaps the whole
    * directory and would race the backfill's partition writes — run
    * backfills with the daemon stopped, or into a separate dataDir
    * union'd at read time. */
  def backfill(rawDir: String): Unit = {
    require(jdbcFactSink.isEmpty,
      "backfill needs the parquet fact sink: the JDBC batch ledger is keyed " +
        "by batch id alone, so backfill ids would collide with the live stream's")
    val readings = spark.readStream.schema(graft.sources.ModbusSimSource.schema).parquet(rawDir)
    run(readings, s"$dataDir/ckpt-bf", "bf", Trigger.AvailableNow()).awaitTermination()
  }

  /** Deterministic drain for tests/replays: process everything the
    * (maxTicks-bounded) source will emit, then compact once. */
  def drainAndCompact(): Unit = {
    ingestQuery.processAllAvailable()
    sink.compact()
  }

  def monitoring: Monitoring = monitor
  def ingest: StreamingQuery = ingestQuery

  /** SIGTERM-equivalent graceful drain (daq-3i.py:350-374). */
  def stop(): Unit = {
    if (ingestQuery != null) ingestQuery.stop()
    if (heartbeatQuery != null) heartbeatQuery.stop()
    if (monitor != null) Monitoring.detach(spark, monitor)
  }
}

object Daemon {

  /** `df`'s rows, collected once, as a local relation: reading it runs
    * no scan of the store `df` came from. */
  def snapshot(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** What a fact sink does for the daemon: startup recovery, retention
    * before a persist, the persist, and a final compaction. */
  private trait FactSink {
    def recover(): Unit
    def retain(batchId: Long, prefix: String): Unit
    def land(batch: DataFrame, batchId: Long, prefix: String): Unit
    def compact(): Unit
  }

  /** One in-loop retention pass for trigger `batchId`, safe under
    * replay. If `batch=b<batchId>` already exists on disk at the START
    * of trigger `batchId`, it can only be the uncommitted leftover of
    * a previous attempt of this SAME batch (a crash after
    * persistBatch but before the checkpoint commit — Spark commits
    * batch N before ever starting N+1, and backfills live in the
    * disjoint `bf` prefix). Folding that partition into
    * `batch=compacted` and then rewriting it in this trigger would
    * duplicate the batch's rows, so it is deleted first: this trigger
    * is about to rewrite it in full anyway. */
  def compactBeforePersist(
      spark: SparkSession,
      factDir: String,
      channels: DataFrame,
      batchId: Long,
      batchPrefix: String = "b"): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$factDir/batch=$batchPrefix$batchId")
    cur.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cur, true)
    Ingest.compactFact(spark, factDir, channels)
  }

  /** JDBC-sink twin of [[compactBeforePersist]]. Rows tagged with THIS
    * trigger's batchId are in one of two states, distinguished by the
    * ledger marker: no marker → a crashed attempt's partials (folding
    * them into the kept set, followed by the replayed persist's scrub,
    * could evict committed history in their favor and then delete
    * them — so scrub first, compact after); marker present → the batch
    * COMMITTED and only the checkpoint commit was lost, so the scrub
    * must not touch it (the replayed persist will no-op and the rows
    * compact like any other committed batch). scrubUncommittedBatch
    * makes that distinction internally. */
  def compactBeforePersistJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      channels: DataFrame,
      batchId: Long): Unit = {
    Ingest.scrubUncommittedBatch(url, table, batchId)
    Ingest.compactFactJdbc(spark, url, table, channels)
  }
}
