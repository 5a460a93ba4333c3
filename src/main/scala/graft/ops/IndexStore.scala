package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable index artifacts — the deployment half of the frozen-index
  * contract every incremental operator in this engine leans on.
  *
  * [[Checkpoints.lease]] freezes an index for the LIFETIME OF A
  * SESSION: the trained IVF base ([[IvfAdd.frozenIndex]]), the LSH
  * corpus index (`Dedup.lshIncrement`), the residual PQ codebooks
  * ([[IvfPqAdd.frozenArtifacts]]) all materialize once and are read
  * by every consumer in that session. A real deployment freezes them
  * ACROSS sessions: the index is trained in one job, written as a
  * table, and every later admission/serving job reloads the artifact
  * instead of retraining — that is what makes "train once, add
  * forever" an actual operating mode rather than a per-run property.
  *
  * This store is deliberately just named parquet frames under one
  * root: parquet round-trips every artifact schema in this engine
  * (long ids, double scalars, double-array vectors) EXACTLY, so a
  * reloaded index serves bit-identical results to the leased one —
  * IndexStoreSpec pins that equality, and the `s_ann_ivf_stored`
  * query runs the whole save → reload → add → serve cycle under the
  * same DuckDB oracle as the leased path. At 100 TB the write is one
  * partitioned parquet dump of the index (no extra shuffle — the
  * frames are written as partitioned), and a reloading job starts
  * from a plain FileScan with pushdown instead of an iterative
  * training subtree.
  */
object IndexStore {

  /** Write named artifact frames under `root` (one parquet dir per
    * name). Each frame is written to a hidden temp directory and
    * installed by [[Maintenance.swapDir]] — rename is atomic per frame
    * on HDFS/posix, so a concurrently reloading job can never observe
    * a partially written frame. The old frame moves aside to
    * `.name.bak` until its replacement is in place, so a crash never
    * loses it (it stays there until the next save of the frame). A
    * reader racing the two renames can see the frame briefly missing
    * (never partial) — deployments that need fully lock-free
    * replacement should version `root` per save and flip a pointer.
    *
    * Concurrency contract: ONE writer per (root, name) at a time.
    * The pre-write sweep below deletes every orphaned `.name.tmp-*`
    * dir under `root`, so two concurrent save() calls for the SAME
    * frame would sweep each other's in-flight temp dirs. All engine
    * callers honor this already (each `*_stored` query writes under a
    * per-invocation [[scratchRoot]]); a deployment sharing a root
    * must serialize writers per frame (readers are always safe — they
    * only ever see the atomically renamed dst).
    *
    * DISTINCT frames within one call write CONCURRENTLY (guide §2.6):
    * each frame's dump is an independent Spark job over already-leased
    * or already-loaded inputs, and driver code calling them one after
    * another was the only thing serializing them — a four-artifact
    * save paid four sequential job latencies. Safe under the contract
    * above because each concurrent writer touches only its own
    * `.name.tmp-*` dir and its own dst; the orphan sweep matches the
    * writer's own name prefix only (and tolerates entries another
    * writer renames away mid-listing). */
  def save(root: String, frames: (String, DataFrame)*): Unit =
    Par.all(frames.map { case (name, df) => () => saveOne(root, name, df) }: _*)

  private def saveOne(root: String, name: String, df: DataFrame): Unit = {
    val dst = new Path(s"$root/$name")
    val tmp = new Path(s"$root/.$name.tmp-${java.util.UUID.randomUUID()}")
    val fs = dst.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    // Sweep temp dirs orphaned by earlier failed writes of this frame,
    // then guarantee our own temp dir never outlives the attempt.
    // Best-effort: a sibling frame's concurrent rename can make a
    // just-listed entry vanish — that is not an orphan, skip it.
    val parent = dst.getParent
    try {
      if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
        if (st.getPath.getName.startsWith(s".$name.tmp-"))
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.FileNotFoundException => () }
    try {
      df.write.mode("overwrite").parquet(tmp.toString)
      Maintenance.swapDir(fs, tmp, dst, new Path(s"$root/.$name.bak"))
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Per-invocation unique scratch root under java.io.tmpdir for the
    * `*_stored` queries' save → reload round-trips, registered with the
    * Hadoop FS for deletion at JVM shutdown. The root must live as
    * long as the JVM (a still-lazy DataFrame returned by an earlier
    * invocation keeps reading ITS artifact after later invocations
    * save, and may be re-collected any number of times), but repeated
    * Verify/Bench sweeps must not accumulate dead index dumps on disk
    * across JVMs — deleteOnExit is exactly that contract. */
  def scratchRoot(s: SparkSession, prefix: String, seq: Long): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_" +
      s"${s.sparkContext.applicationId}_$seq"
    val p = new Path(root)
    p.getFileSystem(s.sessionState.newHadoopConf()).deleteOnExit(p)
    root
  }

  /** Reload one artifact frame. The result is a plain parquet scan —
    * no lease, no lineage back to training; a fresh session can serve
    * from it with zero knowledge of how it was built. */
  def load(s: SparkSession, root: String, name: String): DataFrame =
    s.read.parquet(s"$root/$name")

  /** Tombstone COMPACTION — the follow-on to `remove_ids()`: once the
    * tombstone fraction grows, rewrite the stored index frame dropping
    * tombstoned rows, so the per-serve anti-join disappears and the
    * artifact stops carrying dead postings. One broadcast anti-join
    * over the stored frame, one parquet rewrite; the quantizer frame
    * is untouched — compaction never retrains. Rewriting the frame IN
    * PLACE is safe because [[save]] writes to a temp dir first: the
    * source parquet is fully read (the anti-join job completes into
    * the temp dir) before the old frame moves aside and the rename
    * lands. IndexStoreSpec pins serve-after-compaction ==
    * serve-with-anti-join bit-equality. */
  def compact(s: SparkSession, root: String, name: String,
      tombstones: DataFrame, idCol: String = "vec_id"): Unit =
    save(root, name -> load(s, root, name)
      .join(org.apache.spark.sql.functions.broadcast(tombstones),
        Seq(idCol), "left_anti"))
}
