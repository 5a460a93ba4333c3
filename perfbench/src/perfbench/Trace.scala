package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `tick` is the micro-batch id (-1 outside ticks);
  * spans of one tick share it, `parent` links a span to its cause. */
final case class Span(id: Long, parent: Long, name: String, tick: Long, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out once when the benchmark ends. */
final class Trace {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)

  def newId(): Long = ids.getAndIncrement()

  def add(id: Long, parent: Long, name: String, tick: Long, startUs: Long, endUs: Long): Long = {
    spans.add(Span(id, parent, name, tick, startUs, endUs))
    id
  }

  def add(parent: Long, name: String, tick: Long, startUs: Long, endUs: Long): Long =
    add(newId(), parent, name, tick, startUs, endUs)

  /** Time `body` as a span; the body receives the span's id. */
  def around[A](parent: Long, name: String, tick: Long)(body: Long => A): A = {
    val id = newId()
    val s = Clock.us()
    try body(id) finally add(id, parent, name, tick, s, Clock.us())
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfUs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.durUs - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfUs
    val lines = all.sortBy(_.startUs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "tick" -> s.tick,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** Epoch-aligned microsecond clock with nanoTime resolution. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spark-side counts and child intervals for the traced run: SQL
  * executions (labelled by the path they write), the jobs each
  * triggered, and the task metrics of every completed stage. The
  * benchmark's own threads tag their jobs with the local properties
  * `perfbench.span` and `perfbench.tick`. */
final class SparkTap extends SparkListener {
  final case class Exec(id: Long, startMs: Long, endMs: Long, label: String, path: String)
  final case class Job(id: Int, execId: Long, span: String, tick: Long, stageIds: Seq[Int])
  final case class StageMetrics(cpuNs: Long, recordsWritten: Long)

  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageMetrics]()

  /** The output path of the write command in a plan, if any. */
  private def outputPath(p: SparkPlanInfo): Option[String] =
    if (p.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      p.simpleString.split("InsertIntoHadoopFsRelationCommand", 2).last.trim.split(",").headOption
    else p.children.iterator.flatMap(outputPath).nextOption()

  private def label(path: Option[String]): String = path match {
    case Some(p) if p.contains("/fact/batch=b") => "fact"
    case Some(p) if p.endsWith("/status.tmp") => "status"
    case Some(p) if p.contains("/fact.compact") => "compaction"
    case Some(_) => "write"
    case None => "query"
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      val path = outputPath(s.sparkPlanInfo)
      execs.put(s.executionId, Exec(s.executionId, s.time, -1L, label(path), path.getOrElse("")))
      ()
    case e: SparkListenerSQLExecutionEnd =>
      execs.computeIfPresent(e.executionId, (_, x) => x.copy(endMs = e.time))
      ()
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("perfbench.span").getOrElse(""),
      prop("perfbench.tick").map(_.toLong).getOrElse(-1L),
      e.stageIds))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tm = e.stageInfo.taskMetrics
    if (tm != null) stages.put(e.stageInfo.stageId,
      StageMetrics(tm.executorCpuTime, tm.outputMetrics.recordsWritten))
    ()
  }

  def allExecs: Seq[Exec] = execs.values.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq

  /** Stage metrics summed over the given jobs, each stage counted once. */
  def stageTotals(js: Seq[Job]): StageMetrics = {
    val ms = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    StageMetrics(ms.map(_.cpuNs).sum, ms.map(_.recordsWritten).sum)
  }
}

/** Just enough JSON for flat records and one level of nesting. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
