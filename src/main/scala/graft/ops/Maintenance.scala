package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retention compaction and keyed upsert — the reference's maintenance
  * surface (SURVEY.md §2.1 D7-D9) as set-based, idempotent DataFrame
  * transforms.
  *
  * The reference deletes victims row-by-row with sleeps
  * (daq-3i.py:210-215) and upserts with per-row point lookups
  * (daq_status.py:44-57); its own TODO (daq-3i.py:176-178) asks for the
  * single-statement set form — which is exactly what these operators
  * are. At scale, `retainNewest` is one window over data already
  * hash-partitioned by key (single shuffle, no driver involvement), and
  * `upsert` is one shuffle on the merge key with map-side combine.
  * [[swapDir]] / [[restoreDir]] are the crash-safe directory swap that
  * installs the on-disk forms (status table, fact compaction, index
  * store).
  */
object Maintenance {

  /** Keep the newest `n` rows per key (reference D9 with a constant
    * history_len). `order` columns break ties deterministically — pass
    * a unique id last, mirroring the reference's monotonic id order
    * (daq-3i.py:209). */
  def retainNewest(df: DataFrame, key: Seq[Column], order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Keep the newest rows per key with a PER-KEY limit from a dimension
    * (reference: channels.history_len, daq-3i.py:199). The dimension is
    * broadcast — the fact side shuffles once, on its own key. */
  def retainNewestPerKey(
      df: DataFrame, key: Column, order: Seq[Column],
      dim: DataFrame, dimKey: Column, historyLen: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(_.desc): _*)
    df.join(broadcast(dim.select(dimKey.as("__k"), historyLen.as("__hist"))),
        key === col("__k"), "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= coalesce(col("__hist"), lit(1))) // default 1: db_model.py:24
      .drop("__rn", "__k", "__hist")
  }

  /** The complement of [[retainNewest]] — the victim set the reference
    * would DELETE (daq-3i.py:209-214), computed as a left-anti join so
    * the kept set never leaves the executors. For a kept set that is
    * RANK-DEFINED, prefer [[evictNewest]]: this general form re-shuffles
    * both sides on the unique key (the 10x amplified run measured the
    * anti-join form super-linear where the rank form stays linear);
    * it exists for kept sets that arrive from elsewhere. */
  def victims(df: DataFrame, kept: DataFrame, uniqueKey: Seq[String]): DataFrame =
    df.join(kept.select(uniqueKey.map(col): _*), uniqueKey, "left_anti")

  /** [[retainNewest]]'s victim set in the SAME single window pass —
    * rows ranked past `n` per key. Set-identical to
    * `victims(df, retainNewest(df, ...), uniqueKey)` (spec-asserted)
    * at one shuffle instead of three: the reference's id-ordered
    * delete scan (daq-3i.py:209-214) as one windowed filter. */
  def evictNewest(df: DataFrame, key: Seq[Column], order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > n)
      .drop("__rn")
  }

  /** Last-writer-wins merge of an update log into a keyed state table
    * (reference D7, daq_status.py:36-68): union then latest-per-key.
    * Idempotent: merging the same updates twice yields the same state.
    * `order` must end with a unique tiebreaker for determinism. */
  def upsert(current: DataFrame, updates: DataFrame, key: Seq[String],
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order.map(_.desc): _*)
    current.unionByName(updates)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Unconditional flush (reference D8, daq_status.py:19-33): the empty
    * relation with the same schema — an overwrite sink writes zero rows. */
  def flush(df: DataFrame): DataFrame = df.limit(0)

  /** Replace directory `dst` by the fully written `staged` — the
    * parquet stand-in for the reference's transactional replace of its
    * status and fact rows (daq_status.py:36-68, daq-3i.py:173-216).
    * The old data is never deleted before its replacement is in place:
    * `dst` moves aside to `bak`, `staged` renames in, then `bak` drops,
    * so at every crash point the old data lives in exactly one of
    * {`dst`, `bak`} and [[restoreDir]] puts it back. A `bak` next to a
    * live `dst` is a finished swap's leftover and drops first; a `bak`
    * WITHOUT `dst` is the old data of a swap that died between its
    * renames and stays the rollback copy. A failed install rolls back
    * and throws. An absent `staged` installs nothing: the old data just
    * goes (a partition whose every row was evicted). This and
    * [[restoreDir]] are the only renames in main source
    * (SourceGateSpec). */
  def swapDir(fs: FileSystem, staged: Path, dst: Path, bak: Path): Unit = {
    if (fs.exists(dst)) {
      fs.delete(bak, true)
      if (!fs.rename(dst, bak)) throw new java.io.IOException(s"swapDir: cannot move $dst aside")
    }
    if (fs.exists(staged) && !fs.rename(staged, dst)) {
      if (!fs.exists(dst)) restoreDir(fs, dst, bak) // roll back; a dst recreated under us keeps bak
      throw new java.io.IOException(s"swapDir: cannot install $staged")
    }
    fs.delete(bak, true)
  }

  /** Crash recovery for [[swapDir]]: with `dst` missing, `bak` holds
    * the old data of a swap that died between its renames — rename it
    * back, throwing if that fails (a caller that went on would build
    * its replacement without the old data, and its swap would then
    * drop the only copy). With `dst` present, `bak` is stale — drop
    * it. */
  def restoreDir(fs: FileSystem, dst: Path, bak: Path): Unit =
    if (fs.exists(dst)) fs.delete(bak, true)
    else if (fs.exists(bak) && !fs.rename(bak, dst))
      throw new java.io.IOException(s"restoreDir: cannot restore $bak to $dst")
}
