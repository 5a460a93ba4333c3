package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The FIXTURES.md §1 golden check, end to end: the simulated device
  * returns hr[addr] == addr, so a UINT16 channel at address A must
  * persist value A (x conversion). Drives the custom DataSource V2
  * source through the real streaming ingest pipeline. */
class ModbusSimSourceSpec extends AnyFunSuite with SparkSpec {

  test("golden check: UINT16 @ address A ingests value A through the full pipeline") {
    import spark.implicits._
    val readings = spark.readStream
      .format("modbus-sim")
      .option("channels", "1@5,2@17,3@40")
      .option("registers", "4")
      .option("periodSec", "2")
      .option("maxTicks", "3")
      .load()
    // all three channels UINT16 (format 4), no conversion
    val channels = Seq((1L, 4, 0L), (2L, 4, 0L), (3L, 4, 0L))
      .toDF("id", "format_code", "conversion_id")
    val decoded = graft.streaming.Ingest.decodeAndConvert(readings, channels, Seq.empty)
    val q = decoded.writeStream
      .format("memory").queryName("modbus_golden").outputMode("append").start()
    try {
      // each processAllAvailable drains the ticks latestOffset has advanced
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("modbus_golden")
        .select($"channel_id", $"value".cast("double"))
        .distinct().orderBy($"channel_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 5.0), (2L, 17.0), (3L, 40.0)))
    } finally q.stop()
  }

  test("checkpointed restart never replays committed ticks (SupportsAdmissionControl)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_src_rec").toString
    def run(maxTicks: Int) = {
      val q = spark.readStream.format("modbus-sim")
        .option("channels", "1@5")
        .option("maxTicks", maxTicks.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
    }
    run(3) // commit ticks 1..3, stop
    run(6) // fresh stream instance must resume at 4, not replay 1..3
    val ts = spark.read.parquet(s"$dir/out")
      .select($"ts").collect().map(_.getTimestamp(0).getTime / 1000).sorted
    assert(ts.length == ts.distinct.length, s"duplicated ticks: ${ts.mkString(",")}")
    assert(ts.toSeq == (1L to 6L).toSeq)
  }

  test("ticks advance event time by periodSec; channels split across partitions") {
    import spark.implicits._
    val readings = spark.readStream
      .format("modbus-sim")
      .option("channels", "1@0,2@1,3@2,4@3")
      .option("periodSec", "5")
      .option("numPartitions", "3")
      .option("maxTicks", "4")
      .load()
    val q = readings.writeStream
      .format("memory").queryName("modbus_ticks").outputMode("append").start()
    try {
      q.processAllAvailable()
      q.processAllAvailable()
      val t = spark.table("modbus_ticks")
      // every tick has all 4 channels
      val perTick = t.groupBy($"ts").count().collect().map(_.getLong(1)).toSet
      assert(perTick == Set(4L))
      // tick spacing is periodSec
      val times = t.select($"ts").distinct().collect()
        .map(_.getTimestamp(0).getTime).sorted
      assert(times.length >= 2)
      assert(times.sliding(2).forall { case Array(a, b) => b - a == 5000L })
      // registers are the simulator ramp: first word == address
      val regs = t.filter($"channel_id" === 3).select($"registers").head().getSeq[Int](0)
      assert(regs == Seq(2, 3, 4, 5))
    } finally q.stop()
  }

  test("sim reads go through the block plan: partitions are its runs, ramp words per channel") {
    import spark.implicits._
    // touching (1, 2), overlapping (3, 4), gapped (5, 6) and another
    // unit (7): four blocks of unit 1 and one of unit 2
    val spec = "1@10@2,2@12@2,3@20@3,4@21@2,5@40@1,6@60@4,7@10@2@2"
    val readings = spark.readStream
      .format("modbus-sim")
      .option("channels", spec)
      .option("numPartitions", "2")
      .option("maxTicks", "3")
      .load()
      .withColumn("pid", spark_partition_id())
    val q = readings.writeStream
      .format("memory").queryName("modbus_blocks").outputMode("append").start()
    try {
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("modbus_blocks")
        .select($"channel_id", $"ts", $"registers", $"status", $"pid").collect()
      val chans = ModbusSimSource.parse(
        new CaseInsensitiveStringMap(java.util.Map.of("channels", spec))).channels
      // every channel on every tick, with the golden ramp words hr[a] == a
      val ticks = rows.map(_.getTimestamp(1).getTime).distinct.sorted.toSeq
      assert(ticks == Seq(1000L, 2000L, 3000L))
      assert(rows.length == chans.size * ticks.size)
      assert(rows.forall(_.getInt(3) == 0))
      val want = chans.map(c => c.id -> (c.addr until c.addr + c.count)).toMap
      for (r <- rows) assert(r.getSeq[Int](2) == want(r.getLong(0)), r)
      // the input partitions are exactly the plan's runs, and two are used
      val runs = ModbusSimSource.plan(chans, 2).map(_.flatMap(_.chans.map(_.id)).toSet)
      val byPid = rows.groupBy(_.getInt(4)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getLong(0)).toSet)
      assert(runs.size == 2)
      assert(byPid == runs, s"partitions $byPid, plan runs $runs")
    } finally q.stop()
  }
}
