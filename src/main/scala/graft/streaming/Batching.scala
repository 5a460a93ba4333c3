package graft.streaming

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Arrival row for the online batcher (band + shard precomputed
  * in-row; `shard` is 0 everywhere in the unsharded form). */
case class BatchArrival(
    doc_id: Long, n_tokens: Long, len_band: Long, shard: Long)

/** Per-(band, shard) batcher state: how many documents this key has
  * ever admitted (the next arrival's in-key sequence number). */
case class BatchCounter(n: Long)

/** Online batch assignment output (sharded form; the unsharded query
  * drops the constant-zero `shard`). */
case class BatchAssigned(
    doc_id: Long, n_tokens: Long, len_band: Long, shard: Long, batch: Long)

/** ONLINE length-banded batch assignment — the serving-time twin of
  * [[graft.ops.Curate.lengthBatches]]: documents ARRIVE (a scored
  * stream leaving the curation pipeline) and each is assigned its
  * padding-minimizing (band, batch) slot immediately, from a persistent
  * per-band counter — batch k of a band closes the moment its
  * `batchSize`-th member arrives, so downstream training can consume
  * full batches with bounded padding without waiting for the corpus.
  *
  * Semantics vs the batch form: the batch operator orders bands by the
  * portable hash (an unbiased fixed permutation it can afford because
  * it sees the whole corpus); the online form necessarily assigns in
  * ARRIVAL order — the id-ordered replay below makes that order
  * deterministic and oracle-replayable (one per-band row_number over
  * doc_id).
  *
  * State/scale shape: state is ONE counter per (band, shard) key
  * (≤ (maxBand+1) × shards longs TOTAL — the cheapest state machine in
  * the engine; RocksDB-backed in deployment and restart-pinned in
  * StreamIndexRocksDbSpec). Two costs are inherent to exact sequential
  * numbering and are taken deliberately, not accidentally:
  *
  *  - PARALLELISM: in-key sequence numbers are serial PER KEY, so a
  *    micro-batch's arrivals assign on ≤ (maxBand+1) × shards cores.
  *    `shards = 1` (the default, and `w_batch_bylen`'s form) numbers
  *    each band globally — the exact-per-band semantic — and tops out
  *    at maxBand+1 cores; a deployment needing more throughput raises
  *    `shards` and accepts per-(band, shard) numbering: each shard is
  *    a deterministic hash-slice of its band, batches stay
  *    length-homogeneous (the padding bound is unchanged — band
  *    membership still decides), and only cross-shard batch-number
  *    comparability is given up. `w_batch_bylen_sharded` is that form,
  *    oracle-replayed per (band, shard); SCALE100BATCHSHARD_r17.json
  *    records the ceiling and the relief.
  *  - MEMORY, batch-replay form only: determinism requires sorting
  *    each key's group by doc_id, and `flatMapGroupsWithState` hands
  *    the group as an iterator that must be drained to sort — so one
  *    task buffers one key's whole micro-batch slice on-heap. Under
  *    batch execution ("the whole corpus as one micro-batch") that
  *    slice is corpus-sized / (bands × shards) — the same
  *    per-key-bounded heap shape as the other online twins' batch
  *    replays, relieved by the same `shards` knob. In STREAMING
  *    deployment the bound is the micro-batch slice, not the corpus.
  */
object Batching {

  /** Assign (len_band, shard, batch) to every arrival, streaming or
    * batch. Within one micro-batch (or the whole input, in batch
    * execution) a key's arrivals are sorted by doc_id so replays are
    * deterministic; across micro-batches the persistent counter
    * continues where the last batch stopped. `shard` is the portable
    * 60-bit hash of doc_id mod `shards` — deterministic and
    * oracle-replayable, uncorrelated with band or arrival order. */
  def withOnlineBatchesSharded(
      docs: DataFrame, docId: Column, text: Column,
      bandWidth: Int = 64, maxBand: Int = 16,
      batchSize: Int = 32, shards: Int = 1): Dataset[BatchAssigned] = {
    import docs.sparkSession.implicits._
    require(bandWidth > 0 && maxBand >= 0 && batchSize > 0 && shards > 0,
      s"bad batching params ($bandWidth, $maxBand, $batchSize, $shards)")
    val shardCol =
      if (shards == 1) lit(0L)
      else graft.functions.PortableHash.md5Hash60(docId.cast("string")) %
        shards.toLong
    val in = docs.select(docId.as("doc_id"),
        size(graft.ops.TextAnalysis.tokens(text)).cast("long").as("n_tokens"))
      .withColumn("len_band",
        least(expr(s"n_tokens div $bandWidth"), lit(maxBand.toLong)))
      .withColumn("shard", shardCol)
      .as[BatchArrival]
    in.groupByKey(r => r.len_band * shards + r.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[BatchArrival], state: GroupState[BatchCounter]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = rows.toIndexedSeq.sortBy(_.doc_id).map { r =>
            val b = n / batchSize
            n += 1
            BatchAssigned(r.doc_id, r.n_tokens, r.len_band, r.shard, b)
          }
          state.update(BatchCounter(n))
          out.iterator
      }
  }

  /** The exact-per-band form (`shards = 1`): every band numbers its
    * arrivals globally; output drops the constant-zero shard. */
  def withOnlineBatches(
      docs: DataFrame, docId: Column, text: Column,
      bandWidth: Int = 64, maxBand: Int = 16,
      batchSize: Int = 32): DataFrame =
    withOnlineBatchesSharded(docs, docId, text, bandWidth, maxBand, batchSize)
      .toDF().drop("shard")

  val queries: Seq[QueryDef] = Seq(

    // Online batching under batch execution: the whole corpus replayed
    // as id-ordered arrivals through the per-band counters. The oracle
    // replays the arrival-order numbering with one per-band window —
    // which also pins the typed counter state machine to the plain SQL
    // semantics bit-for-bit.
    QueryDef(
      "w_batch_bylen",
      (s, d) => {
        import s.implicits._
        withOnlineBatches(table(s, d, "documents"), $"doc_id", $"text")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST(len([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS BIGINT) AS n_tokens
                FROM documents),
              b AS (
                SELECT doc_id, n_tokens,
                       CAST(least(n_tokens // 64, 16) AS BIGINT) AS len_band
                FROM t),
              r AS (
                SELECT doc_id, n_tokens, len_band,
                       row_number() OVER (PARTITION BY len_band ORDER BY doc_id) AS rib
                FROM b)
              SELECT doc_id, n_tokens, len_band,
                     CAST((rib - 1) // 32 AS BIGINT) AS batch
              FROM r ORDER BY doc_id""")),

    // The band-sharding escape hatch as CODE (shards = 8): state keys
    // are (band, hash-shard-of-doc_id), numbering is exact per key —
    // the throughput form a deployment switches to when a band's
    // serial numbering becomes the ceiling (see the object doc; the
    // SCALE100BATCHSHARD_r17.json artifact measures both forms). The
    // oracle replays the per-(band, shard) numbering with one window
    // over the portable-hash shard assignment.
    QueryDef(
      "w_batch_bylen_sharded",
      (s, d) => {
        import s.implicits._
        withOnlineBatchesSharded(table(s, d, "documents"), $"doc_id", $"text",
            shards = 8)
          .toDF()
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                       CAST(len([x for x in string_split_regex(lower(text), '\s+') if x != '']) AS BIGINT) AS n_tokens,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard
                FROM documents),
              b AS (
                SELECT doc_id, n_tokens, shard,
                       CAST(least(n_tokens // 64, 16) AS BIGINT) AS len_band
                FROM t),
              r AS (
                SELECT doc_id, n_tokens, len_band, shard,
                       row_number() OVER (PARTITION BY len_band, shard ORDER BY doc_id) AS rib
                FROM b)
              SELECT doc_id, n_tokens, len_band, CAST(shard AS BIGINT) AS shard,
                     CAST((rib - 1) // 32 AS BIGINT) AS batch
              FROM r ORDER BY doc_id"""))
  )
}
