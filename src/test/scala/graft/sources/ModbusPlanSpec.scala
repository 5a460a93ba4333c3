package graft.sources

import graft.sources.ModbusSimSource.{Block, Chan, blocks, plan}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The tcp read plan as a pure function: which channels share one
  * function-code-3 request, and how the requests are dealt to
  * partitions. */
class ModbusPlanSpec extends AnyFunSuite {

  private def ids(bs: Seq[Block]): Seq[Seq[Long]] = bs.map(_.chans.map(_.id))

  test("130 touching 1-word channels cut into blocks of 125 and 5 words") {
    val chans = (0 until 130).map(i => Chan(i.toLong, 1000 + i, 1, 1))
    val bs = blocks(chans)
    assert(bs.map(b => (b.unit, b.addr, b.count)) == Seq((1, 1000, 125), (1, 1125, 5)))
    assert(ids(bs) == Seq((0L until 125L), (125L until 130L)))
  }

  test("numPartitions cuts whole blocks into contiguous runs; every channel in one block") {
    val chans = (0 until 130).map(i => Chan(i.toLong, 1000 + i, 1, 1))
    val runs = plan(chans, 3)
    assert(runs.map(_.map(b => (b.addr, b.count))) == Seq(Seq((1000, 125)), Seq((1125, 5))))
    val all = runs.flatten.flatMap(_.chans.map(_.id))
    assert(all.sorted == chans.map(_.id) && all.distinct.size == all.size)
    // ten separate blocks over three partitions: 3 + 3 + 4, in address order
    val apart = (0 until 10).map(i => Chan(i.toLong, 10 * i, 2, 1))
    assert(plan(apart, 3).map(_.map(_.addr)) ==
      Seq(Seq(0, 10, 20), Seq(30, 40, 50), Seq(60, 70, 80, 90)))
    assert(plan(apart, 1) == Seq(blocks(apart)))
  }

  test("a gap, another unit and shared registers each shape the blocks") {
    val chans = Seq(
      Chan(1, 10, 2, 1), Chan(2, 12, 2, 1), // touching
      Chan(3, 20, 2, 1), Chan(4, 20, 2, 1), // gap after 13; same registers
      Chan(6, 21, 2, 1), // overlaps 3 and 4
      Chan(5, 10, 2, 2)) // same address, another unit
    assert(blocks(chans).map(b => (b.unit, b.addr, b.count, b.chans.map(_.id))) == Seq(
      (1, 10, 4, Seq(1L, 2L)),
      (1, 20, 3, Seq(3L, 4L, 6L)),
      (2, 10, 2, Seq(5L))))
    // overlapping, but the union would pass 125 words: a new block
    assert(blocks(Seq(Chan(1, 0, 100, 1), Chan(2, 90, 40, 1))).map(b => (b.addr, b.count))
      == Seq((0, 100), (90, 40)))
  }

  test("unsorted input gives the same plan as sorted input") {
    val rnd = new Random(7)
    val chans = (1 to 400).map { i =>
      Chan(i.toLong, rnd.nextInt(600), 1 + rnd.nextInt(2), 1 + rnd.nextInt(3))
    }
    val sorted = chans.sortBy(c => (c.unit, c.addr, c.id))
    for (n <- Seq(1, 2, 5)) {
      assert(plan(rnd.shuffle(chans), n) == plan(sorted, n))
      assert(plan(chans.reverse, n) == plan(sorted, n))
    }
    val all = blocks(chans).flatMap(_.chans.map(_.id))
    assert(all.sorted == chans.map(_.id))
    for (b <- blocks(chans)) {
      assert(b.count <= ModbusSimSource.MaxWords)
      assert(b.chans.forall(c => c.unit == b.unit && c.addr >= b.addr && c.addr + c.count <= b.end))
    }
  }

  test("parse refuses channels the wire cannot address") {
    def parse(channels: String) = ModbusSimSource.parse(
      new CaseInsensitiveStringMap(java.util.Map.of("channels", channels))).channels
    // address past 16 bits, negative address, count outside 1-125, a
    // block past register 65535, unit past 8 bits
    for (bad <- Seq("1@65541", "1@-1", "1@5@0", "1@5@126", "1@65535@2", "1@5@1@256", "1@5@1@-1"))
      assert(intercept[IllegalArgumentException](parse(bad)).getMessage.contains("channel 1:"), bad)
    assert(parse("1@65535@1@255,2@0@125@0") == Seq(Chan(1, 65535, 1, 255), Chan(2, 0, 125, 0)))
  }
}
