package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The whole reference daemon as ONE Spark-native object — the
  * "switch from daq-3i" entry point. Reference topology
  * (daq-3i.py:218-231 load, :311-348 thread spawn, :350-374 drain):
  *
  *   - startup status flush (D8, daq_status.py:25);
  *   - one acquisition+persist pipeline per daemon (D1-D7): the
  *     modbus-sim DataSource V2 source polls every configured channel
  *     once per micro-batch tick, a declarative plan decodes (D3) and
  *     converts (D4), foreachBatch lands the fact append + status
  *     upsert (D6/D7) with the per-batch heartbeat row (D10);
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
  * Deployment note (100 TB): stateful stages (Cadence's
  * flatMapGroupsWithState, dropDuplicatesWithinWatermark) default to
  * the in-memory HDFS-backed state store; a large-key-space cluster
  * deployment sets `spark.sql.streaming.stateStore.providerClass` to
  * the RocksDB provider at session build so per-executor state spills
  * to local disk instead of heap — no operator code changes.
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
    // state-store provider for any stateful stage in this session:
    // "rocksdb" (per-executor state spills to local disk — the
    // large-key-space cluster setting) or a provider class name; None
    // keeps Spark's default HDFS-backed in-memory store
    stateStore: Option[String] = None,
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

  val factDir = s"$dataDir/fact"
  val statusDir = s"$dataDir/status"
  private val ckptDir = s"$dataDir/ckpt"

  @volatile private var ingestQuery: StreamingQuery = _
  @volatile private var heartbeatQuery: StreamingQuery = _
  @volatile private var monitor: Monitoring = _
  @volatile private var lastCompactMs = 0L

  def start(): Daemon = {
    // BEFORE the stream starts: a compaction swap that crashed between
    // its renames left everything in factDir.bak — restore now, while
    // nothing else can recreate factDir and make the .bak look stale
    // (parquet mode only: the JDBC compaction swap is transactional,
    // so there is no half-swapped state to recover)
    if (jdbcFactSink.isEmpty) Ingest.recoverFactDir(spark, factDir)
    Ingest.flushStatus(spark, statusDir) // D8 startup flush
    monitor = Monitoring.attach(spark)
    stateStore.foreach { p =>
      val cls = if (p.equalsIgnoreCase("rocksdb"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else p
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    }
    val raw = (sourceOptions +: extraSources)
      .map(opts => spark.readStream.format("modbus-sim").options(opts).load())
      .reduce(_ unionByName _)
    val readings = dedupeLateness.fold(raw)(late =>
      raw.withWatermark("ts", late)
        .dropDuplicatesWithinWatermark("channel_id", "ts"))
    val decoded = Ingest.decodeAndConvert(readings, channels, conversions)
    lastCompactMs = System.currentTimeMillis()
    ingestQuery = decoded.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // D9 runs BEFORE this batch persists, with this trigger's own
        // partition excluded (see [[Daemon.compactBeforePersist]]) —
        // every OTHER batch on disk is checkpoint-committed (Spark
        // commits N-1 before starting N) and safe to fold; batch=bN
        // itself can only be an uncommitted leftover of a replayed
        // attempt of this same trigger, about to be rewritten below.
        // Serialized with the fact write by construction (same thread).
        val now = System.currentTimeMillis()
        if (now - lastCompactMs >= truncIntervalSec * 1000L) {
          jdbcFactSink match {
            case None => Daemon.compactBeforePersist(spark, factDir, channels, batchId)
            case Some((url, tbl)) =>
              Daemon.compactBeforePersistJdbc(spark, url, tbl, channels, batchId)
          }
          lastCompactMs = now
        }
        jdbcFactSink match {
          case None => Ingest.persistBatch(batch, batchId, factDir, statusDir)
          case Some((url, tbl)) =>
            batch.persist()
            try {
              Ingest.persistBatchJdbc(batch, batchId, url, tbl) // D6
              Ingest.mergeStatus(spark, statusDir,
                Ingest.statusUpdates(batch, heartbeat = true)) // D7+D10
            } finally { batch.unpersist(); () }
        }
      }
      .start()
    heartbeatQuery = Ingest.startHeartbeat(spark, statusDir, pulseSec)
    this
  }

  /** Deterministic drain for tests/replays: process everything the
    * (maxTicks-bounded) source will emit, then compact once. */
  def drainAndCompact(): Unit = {
    ingestQuery.processAllAvailable()
    jdbcFactSink match {
      case None => Ingest.compactFact(spark, factDir, channels)
      case Some((url, tbl)) => Ingest.compactFactJdbc(spark, url, tbl, channels)
    }
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
