package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gates — properties that must hold across ALL of main
  * source, not just the queries PlanSpec pins individually.
  *
  * Scale gate: no UNPARTITIONED `Window.orderBy` over
  * corpus-sized data. An unpartitioned window is Spark's
  * single-partition sort — the whole input serialized through one
  * task — and every legitimate use in this engine runs over a BOUNDED
  * bucket-totals table (the two-phase decomposition of
  * [[graft.ops.Selection]] / `TextAnalysis.packShardsByCount`). Each
  * such use must carry a `bounded-global-window:` comment justifying
  * the bound within the six lines above it; an untagged
  * `Window.orderBy` fails this spec, so the next corpus-sized global
  * rank cannot land by accident (round 15 shipped exactly that in
  * t_dsir's selection window).
  *
  * Swap gate: every directory replacement goes through
  * `Maintenance.swapDir` / `restoreDir`, so a `.rename(` anywhere else
  * in main source fails this spec — the crash-safe swap protocol
  * cannot fork into hand-written copies that drift apart.
  *
  * Tick gate: the daemon's micro-batch tick is written once
  * (`Daemon.tick` over the sink chosen once per daemon), so each sink
  * step has exactly one call site in main source — a second
  * `foreachBatch` around `persistBatch` would fork the tick.
  *
  * Mains gate: the only runnable mains in main source are the daemon
  * (`DaqMain`) and the query suite's `Verify` and `Bench`. A one-off
  * profiling main compiles into every build and rots; time queries
  * with Bench's query filter instead. */
class SourceGateSpec extends AnyFunSuite {

  private val mainRoot = new java.io.File("src/main/scala")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def isComment(trimmed: String): Boolean =
    trimmed.startsWith("*") || trimmed.startsWith("//") || trimmed.startsWith("/**")

  test("every unpartitioned Window.orderBy in main source is tagged bounded-global-window") {
    val pat = """Window\s*\.\s*orderBy""".r
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      val text = read(f)
      val lineStarts = 0 +: text.zipWithIndex.collect { case ('\n', i) => i + 1 }
      pat.findAllMatchIn(text).flatMap { m =>
        val lineIdx = lineStarts.lastIndexWhere(_ <= m.start)
        val lines = text.split("\n", -1)
        val line = lines(lineIdx).trim
        val tagged = lines.slice(math.max(0, lineIdx - 6), lineIdx)
          .exists(_.contains("bounded-global-window"))
        if (isComment(line) || tagged) None
        else Some(s"${f.getPath}:${lineIdx + 1}: $line")
      }
    }
    assert(offenders.isEmpty,
      "unpartitioned Window.orderBy without a bounded-global-window " +
        "justification tag (single-partition sort of its input — bucket " +
        "it via graft.ops.Selection, or tag why the input is bounded):\n" +
        offenders.mkString("\n"))
  }

  test("every .rename( in main source sits inside Maintenance.swapDir or restoreDir") {
    val defPat = """\bdef\s+(\w+)""".r
    val owners = Set("swapDir", "restoreDir")
    val offenders = scalaFiles(mainRoot).flatMap { f =>
      val lines = read(f).split("\n", -1)
      // the def a line belongs to: the nearest `def` at or above it
      def enclosingDef(i: Int): Option[String] = (i to 0 by -1).iterator
        .flatMap(j => defPat.findFirstMatchIn(lines(j)).map(_.group(1))).nextOption()
      lines.indices.collect {
        case i if lines(i).contains(".rename(") && !isComment(lines(i).trim) &&
            !(f.getName == "Maintenance.scala" && enclosingDef(i).exists(owners)) =>
          s"${f.getPath}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(offenders.isEmpty,
      "directory rename outside Maintenance.swapDir/restoreDir (route the " +
        "replacement through swapDir, its crash recovery through " +
        "restoreDir):\n" + offenders.mkString("\n"))
  }

  test("each tick step has exactly one call site in main source") {
    val steps = Seq("persistBatch", "persistBatchJdbc",
      "compactBeforePersist", "compactBeforePersistJdbc")
    val lines = scalaFiles(mainRoot).flatMap { f =>
      read(f).split("\n", -1).zipWithIndex.collect {
        case (l, i) if !isComment(l.trim) => (s"${f.getPath}:${i + 1}", l)
      }
    }
    val sites = steps.map { step =>
      // `\b` before, `(` right after: neither a longer name nor a `def`
      val call = ("""(?<!def )\b""" + step + """\(""").r
      step -> lines.collect { case (at, l) if call.findFirstIn(l).isDefined => at }
    }
    val offenders = sites.filter(_._2.size != 1)
    assert(offenders.isEmpty,
      "a tick step must be called from the daemon's one tick only:\n" +
        offenders.map { case (s, at) => s"$s: ${at.size} call sites ${at.mkString(", ")}" }
          .mkString("\n"))
  }

  test("the only objects in main source with a main method are DaqMain, Verify and Bench") {
    val objPat = """^\s*(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)""".r
    val mains = scalaFiles(mainRoot).flatMap { f =>
      val lines = read(f).split("\n", -1)
      def code(i: Int) = !isComment(lines(i).trim)
      lines.indices.collect {
        case i if lines(i).contains("def main(") && code(i) =>
          // the object a main belongs to: the nearest `object` above it
          val owner = (i to 0 by -1).iterator.filter(code)
            .flatMap(j => objPat.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("?")
          (owner, s"${f.getPath}:${i + 1}")
      }
    }
    assert(mains.map(_._1).sorted == Seq("Bench", "DaqMain", "Verify"),
      "main methods other than DaqMain's, Verify's and Bench's (time " +
        "queries with Bench's query filter instead of a new main):\n" +
        mains.map { case (o, at) => s"$o $at" }.mkString("\n"))
  }
}
