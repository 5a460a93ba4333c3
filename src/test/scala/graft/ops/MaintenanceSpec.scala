package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Retention / upsert invariants (SURVEY.md §5 item 3). */
class MaintenanceSpec extends AnyFunSuite with SparkSpec {

  private def sampleLog = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 400).map { i =>
      (i.toLong, (rnd.nextInt(10) + 1).toLong, rnd.nextInt(100).toLong, rnd.nextDouble())
    }.toDF("id", "channel_id", "ts", "value")
  }

  test("retainNewest keeps min(count, n) newest rows per key") {
    import spark.implicits._
    val df = sampleLog
    val n = 7
    val kept = Maintenance.retainNewest(df, Seq($"channel_id"), Seq($"ts", $"id"), n)
    val counts = kept.groupBy($"channel_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = df.groupBy($"channel_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.foreach { case (k, c) => assert(counts(k) == math.min(c, n.toLong)) }
    // kept rows are the newest: every kept (ts,id) >= every victim (ts,id) per key
    val victims = Maintenance.victims(df, kept, Seq("id"))
    val minKept = kept.groupBy($"channel_id")
      .agg(min(struct($"ts", $"id")).as("mn"))
    val maxVict = victims.groupBy($"channel_id")
      .agg(max(struct($"ts", $"id")).as("mx"))
    val bad = minKept.join(maxVict, "channel_id")
      .filter($"mx" > $"mn").count()
    assert(bad == 0)
  }

  test("kept and victims partition the input") {
    import spark.implicits._
    val df = sampleLog
    val kept = Maintenance.retainNewest(df, Seq($"channel_id"), Seq($"ts", $"id"), 5)
    val victims = Maintenance.victims(df, kept, Seq("id"))
    assert(kept.count() + victims.count() == df.count())
    assert(kept.select("id").intersect(victims.select("id")).count() == 0)
  }

  test("evictNewest equals the kept-set anti-join complement") {
    import spark.implicits._
    val df = sampleLog
    val kept = Maintenance.retainNewest(df, Seq($"channel_id"), Seq($"ts", $"id"), 5)
    val viaAnti = Maintenance.victims(df, kept, Seq("id"))
    val viaRank = Maintenance.evictNewest(df, Seq($"channel_id"), Seq($"ts", $"id"), 5)
    assert(viaRank.exceptAll(viaAnti).count() == 0)
    assert(viaAnti.exceptAll(viaRank).count() == 0)
  }

  test("retention is idempotent") {
    import spark.implicits._
    val df = sampleLog
    val once = Maintenance.retainNewest(df, Seq($"channel_id"), Seq($"ts", $"id"), 5)
    val twice = Maintenance.retainNewest(once, Seq($"channel_id"), Seq($"ts", $"id"), 5)
    assert(once.exceptAll(twice).count() == 0)
    assert(twice.exceptAll(once).count() == 0)
  }

  test("upsert: latest writer wins per key, insert-if-absent (daq_status.py:48-57)") {
    import spark.implicits._
    val current = Seq(("daq-3i", 1, 10L), ("CHL: 1", 1, 10L)).toDF("parameter", "status", "ts")
    val updates = Seq(("CHL: 1", 0, 20L), ("CHL: 2", 1, 15L)).toDF("parameter", "status", "ts")
    val merged = Maintenance.upsert(current, updates, Seq("parameter"), Seq($"ts"))
    val got = merged.orderBy($"parameter").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(("CHL: 1", 0, 20L), ("CHL: 2", 1, 15L), ("daq-3i", 1, 10L)))
  }

  test("upsert is idempotent") {
    import spark.implicits._
    val current = Seq(("a", 1, 10L)).toDF("parameter", "status", "ts")
    val updates = Seq(("a", 2, 20L), ("b", 1, 5L)).toDF("parameter", "status", "ts")
    val once = Maintenance.upsert(current, updates, Seq("parameter"), Seq($"ts"))
    val twice = Maintenance.upsert(once, updates, Seq("parameter"), Seq($"ts"))
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("flush yields the empty relation with the same schema (daq_status.py:19-33)") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("parameter", "status")
    val flushed = Maintenance.flush(df)
    assert(flushed.count() == 0)
    assert(flushed.schema == df.schema)
  }

  test("compactFactPartitioned rewrites only victim partitions; cold files byte-identical; scan pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/fact"
    // ch 1 (hist 2): 8 rows over days 01-04 (2/day) — victims in 01-03,
    // day 04 holds only its kept newest-2; ch 2 (hist 5): 5 rows all in
    // day 04, none evicted; ch 3 (hist 100): never evicted. So days
    // 01-03 are hot, day 04 must remain untouched on disk.
    val rows =
      (1L to 8L).map(i => (i, 1L, i, s"2026-01-0${1 + (i - 1) / 2}")) ++
      (101L to 105L).map(i => (i, 2L, i, "2026-01-04")) ++
      (201L to 204L).map(i => (i, 3L, i, s"2026-01-0${i - 200}"))
    rows.toDF("id", "channel_id", "ts", "day")
      .withColumn("value", ($"ts" * 2).cast("decimal(25,6)"))
      .write.partitionBy("day").parquet(dir)
    val channels = Seq((1L, 2), (2L, 5), (3L, 100)).toDF("id", "history_len")

    def inventory(day: String): Map[String, (Long, Long)] = {
      val d = java.nio.file.Paths.get(s"$dir/day=$day")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val bytes = java.nio.file.Files.readAllBytes(p)
          p.getFileName.toString ->
            ((bytes.length.toLong, java.util.Arrays.hashCode(bytes).toLong))
        }.toMap
    }
    val coldBefore = inventory("2026-01-04")
    val before = spark.read.parquet(dir)
      .select($"id", $"channel_id", $"ts", $"value", $"day")
    val expected = Maintenance.retainNewestPerKey(
        before, $"channel_id", Seq($"ts", $"id"),
        channels, $"id", $"history_len")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val hot = graft.streaming.Ingest.compactFactPartitioned(spark, dir, channels)
    assert(hot == Seq("2026-01-01", "2026-01-02", "2026-01-03"))
    // cold partition: same files, same bytes — never rewritten
    assert(inventory("2026-01-04") == coldBefore)
    // survivors equal the unpartitioned D9 operator's kept set
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == expected)
    // the rewrite's scan shape: the hot-partition filter prunes at the
    // SCAN — 3 of 4 partitions selected, day=2026-01-04 never opened
    val pruned = spark.read.parquet(dir).filter($"day".isin(hot: _*))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters"), scan.toString)
    assert(scan.selectedPartitions.partitionCount == 3,
      scan.selectedPartitions.partitionCount)
  }

  test("compactFactPartitioned with no victims touches nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part0").toString + "/fact"
    (1L to 6L).map(i => (i, 1L, i, s"2026-02-0${1 + (i - 1) % 3}"))
      .toDF("id", "channel_id", "ts", "day")
      .write.partitionBy("day").parquet(dir)
    val channels = Seq((1L, 10)).toDF("id", "history_len")
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(graft.streaming.Ingest.compactFactPartitioned(spark, dir, channels).isEmpty)
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  test("recoverFactPartitions restores a swap that died between its two renames") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pbak").toString + "/fact"
    (1L to 4L).map(i => (i, 1L, i, s"2026-03-0${i}"))
      .toDF("id", "channel_id", "ts", "day")
      .write.partitionBy("day").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: partition moved aside to .pbak, the
    // replacement never renamed in (day=2026-03-02 is simply GONE from
    // the live layout — the old delete+rename protocol lost it here)
    val bakRoot = new org.apache.hadoop.fs.Path(dir + ".pbak")
    fs.mkdirs(bakRoot)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/day=2026-03-02"),
      new org.apache.hadoop.fs.Path(bakRoot, "day=2026-03-02")))
    assert(spark.read.parquet(dir).count() == 3)
    // a completed swap's leftover .bak (destination exists) must be
    // dropped, not restored over the new data
    fs.mkdirs(new org.apache.hadoop.fs.Path(bakRoot, "day=2026-03-03"))
    graft.streaming.Ingest.recoverFactPartitions(spark, dir)
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(after == before)
    assert(!fs.exists(bakRoot))
  }

  test("compactFactPartitioned drops a hot partition whose every row is evicted; no .pbak left") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pgone").toString + "/fact"
    // ch 1 (hist 2): ids 1-2 on day 01, ids 3-4 on day 02 — every row of
    // day 01 is a victim, so its kept set is empty and nothing is staged
    (1L to 4L).map(i => (i, 1L, i, s"2026-04-0${1 + (i - 1) / 2}"))
      .toDF("id", "channel_id", "ts", "day")
      .write.partitionBy("day").parquet(dir)
    val channels = Seq((1L, 2)).toDF("id", "history_len")
    assert(graft.streaming.Ingest.compactFactPartitioned(spark, dir, channels) == Seq("2026-04-01"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/day=2026-04-01")))
    assert(!fs.exists(new Path(dir + ".pbak")) && !fs.exists(new Path(dir + ".compact")))
    assert(spark.read.parquet(dir).select($"id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  /** A local filesystem whose renames fail when `fails(src, dst)`. */
  private def renameFailingFs(fails: (Path, Path) => Boolean): FileSystem = {
    val fs = new RawLocalFileSystem {
      override def rename(src: Path, dst: Path): Boolean =
        !fails(src, dst) && super.rename(src, dst)
    }
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    fs
  }

  test("swapDir rolls back a failed install and throws; restoreDir throws on a failed restore") {
    val dir = java.nio.file.Files.createTempDirectory("graft_swap").toString
    def p(n: String) = new Path(s"$dir/$n")
    def put(n: String, body: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/$n"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$n/part"), body)
    }
    def body(n: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/$n/part"))
    val fs = renameFailingFs((_, _) => false)
    put("dst", "old"); put("staged", "new")
    // install rename fails: old data back in dst, bak gone, staged kept
    val noInstall = renameFailingFs((src, _) => src.getName == "staged")
    intercept[java.io.IOException](Maintenance.swapDir(noInstall, p("staged"), p("dst"), p("bak")))
    assert(body("dst") == "old" && !fs.exists(p("bak")) && fs.exists(p("staged")))
    // move-aside rename fails: nothing moved
    val noMoveAside = renameFailingFs((src, _) => src.getName == "dst")
    intercept[java.io.IOException](
      Maintenance.swapDir(noMoveAside, p("staged"), p("dst"), p("bak")))
    assert(body("dst") == "old" && body("staged") == "new" && !fs.exists(p("bak")))
    // crash between the renames: the old data lives only under bak; a
    // restore whose rename fails throws and leaves bak in place
    assert(fs.rename(p("dst"), p("bak")))
    intercept[java.io.IOException](
      Maintenance.restoreDir(renameFailingFs((_, _) => true), p("dst"), p("bak")))
    assert(!fs.exists(p("dst")) && body("bak") == "old")
    // a swap over that crash leftover keeps bak as its rollback copy
    intercept[java.io.IOException](Maintenance.swapDir(noInstall, p("staged"), p("dst"), p("bak")))
    assert(body("dst") == "old" && !fs.exists(p("bak")))
    Maintenance.swapDir(fs, p("staged"), p("dst"), p("bak"))
    assert(body("dst") == "new" && !fs.exists(p("bak")) && !fs.exists(p("staged")))
    // a stale bak next to a live dst is dropped, never restored over it
    put("bak", "stale")
    Maintenance.restoreDir(fs, p("dst"), p("bak"))
    assert(body("dst") == "new" && !fs.exists(p("bak")))
  }
}
