package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Exactly-once under restart: the ingest pipeline's checkpoint must
  * resume a killed query without duplicating or dropping samples —
  * the property the reference's dirty-flag handoff cannot give
  * (SURVEY.md §3.2: at-least-once + last-value-wins loss). */
class RecoverySpec extends AnyFunSuite with SparkSpec {

  test("ingest resumes from checkpoint: no duplicates, no loss") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rec").toString
    val (in, factDir) = (s"$dir/in", s"$dir/fact")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val channels = Seq((1L, 4, 0L)).toDF("id", "format_code", "conversion_id")

    // batch 1 of input files
    Seq((1L, ts(10), Seq(5, 0, 0, 0), 0))
      .toDF("channel_id", "ts", "registers", "status")
      .write.mode("append").parquet(in)

    // each run drains what is there and stops: the daemon's checkpoint
    // under `dir` is all that carries over
    def runOnce() = new Daemon(spark, channels, Seq.empty, Map.empty, dir,
      truncIntervalSec = 3600).backfill(in)

    runOnce() // "crash" after the first run

    // more input lands while the query is down
    Seq((1L, ts(20), Seq(7, 0, 0, 0), 0), (1L, ts(30), Seq(9, 0, 0, 0), 0))
      .toDF("channel_id", "ts", "registers", "status")
      .write.mode("append").parquet(in)

    // restart from the same checkpoint
    runOnce()

    val got = Ingest.readFact(spark, factDir)
      .select($"ts", $"value".cast("double"))
      .orderBy($"ts").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(1)))
    // exactly the three samples, once each — batch 1 not re-emitted
    assert(got.toSeq == Seq((10L, 5.0), (20L, 7.0), (30L, 9.0)))
  }

  test("persistBatch replay with the same batchId is idempotent (hard-crash path)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idem").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val batch = Seq((1L, ts(10), BigDecimal(50).setScale(6))).toDF("channel_id", "ts", "value")
    // a crash between the fact write and the checkpoint commit replays
    // the SAME batchId; the batch-keyed overwrite must not duplicate
    Ingest.persistBatch(batch, 7L, s"$dir/fact", s"$dir/status")
    Ingest.persistBatch(batch, 7L, s"$dir/fact", s"$dir/status")
    assert(Ingest.readFact(spark, s"$dir/fact").count() == 1)
  }

  test("persistBatchJdbc: duplicate-batch replay lands no double rows (Derby)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjdbcsink;create=true"
    val table = "fact_jdbc"
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def mk(base: Long) = (0 until 5).map { i =>
      (1L + i % 2, ts(base + i), BigDecimal((base + i) * 10).setScale(6))
    }.toDF("channel_id", "ts", "value")
      .select($"channel_id", $"ts", $"value".cast("decimal(25,6)"))

    // committed batch replayed whole (crash AFTER the ledger marker)
    Ingest.persistBatchJdbc(mk(100), 0L, url, table)
    Ingest.persistBatchJdbc(mk(100), 0L, url, table)
    assert(Ingest.readFactJdbc(spark, url, table).count() == 5)

    // crash BETWEEN data append and marker: partial rows tagged with
    // the batch id, no ledger entry — the replay must scrub them, not
    // stack on top
    graft.sources.FileSources.writeJdbc(
      mk(200).limit(2).withColumn("batch_id", lit(1L)), url, table)
    Ingest.persistBatchJdbc(mk(200), 1L, url, table)
    assert(Ingest.readFactJdbc(spark, url, table).count() == 10)

    // distinct batches accumulate; full content check, not just counts
    Ingest.persistBatchJdbc(mk(300), 2L, url, table)
    val got = Ingest.readFactJdbc(spark, url, table)
      .select($"ts".cast("long"), $"value".cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val want = Seq(100L, 200L, 300L).flatMap(b => (0 until 5)
      .map(i => (b + i, (b + i) * 10.0))).sorted
    assert(got == want)
  }

  test("JDBC replay of a COMMITTED batch with compaction due does not lose the batch") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjdbccommitted;create=true"
    val table = "fact_jdbc_c"
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def mk(base: Long) = (0 until 3).map { i =>
      (1L, ts(base + i), BigDecimal((base + i) * 10).setScale(6))
    }.toDF("channel_id", "ts", "value")
      .select($"channel_id", $"ts", $"value".cast("decimal(25,6)"))
    val channels = Seq((1L, 100)).toDF("id", "history_len")

    Ingest.persistBatchJdbc(mk(100), 0L, url, table)
    Ingest.persistBatchJdbc(mk(200), 1L, url, table)
    // trigger 2 crashes AFTER persistBatchJdbc fully committed (data +
    // ledger marker) but BEFORE the streaming checkpoint commit
    Ingest.persistBatchJdbc(mk(300), 2L, url, table)
    // the replayed trigger 2 hits the compaction interval: the scrub
    // must see the ledger marker and leave batch 2's rows alone — an
    // unconditional scrub would delete them and the replayed persist
    // below would then no-op, losing the batch permanently
    Daemon.compactBeforePersistJdbc(spark, url, table, channels, 2L)
    Ingest.persistBatchJdbc(mk(300), 2L, url, table)

    val got = Ingest.readFactJdbc(spark, url, table)
      .select($"ts".cast("long"), $"value".cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val want = Seq(100L, 200L, 300L).flatMap(b => (0 until 3)
      .map(i => (b + i, (b + i) * 10.0))).sorted
    assert(got == want)
  }

  test("replayed trigger's compaction does not fold its own uncommitted batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fold").toString
    val (factDir, statusDir) = (s"$dir/fact", s"$dir/status")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def mk(sec: Long) =
      Seq((1L, ts(sec), BigDecimal(sec))).toDF("channel_id", "ts", "value")
        .withColumn("value", $"value".cast("decimal(25,6)")) // the fact schema's type
    val channels = Seq((1L, 100L)).toDF("id", "history_len")

    // committed history: batches 0 and 1 (checkpoint owns them)
    Ingest.persistBatch(mk(10), 0L, factDir, statusDir)
    Ingest.persistBatch(mk(20), 1L, factDir, statusDir)
    // trigger 2 crashes AFTER the fact write, BEFORE the checkpoint
    // commit — batch=b2 is on disk but batch 2 will replay
    Ingest.persistBatch(mk(30), 2L, factDir, statusDir)
    // the replayed trigger 2 with an in-loop compaction due: the pass
    // must NOT fold batch=b2 into batch=compacted (it is about to be
    // rewritten below, which would duplicate its rows)
    Daemon.compactBeforePersist(spark, factDir, channels, 2L)
    Ingest.persistBatch(mk(30), 2L, factDir, statusDir)

    val got = Ingest.readFact(spark, factDir)
      .select($"ts", $"value".cast("double")).orderBy($"ts").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(1)))
    assert(got.toSeq == Seq((10L, 10.0), (20L, 20.0), (30L, 30.0)))
  }
}
