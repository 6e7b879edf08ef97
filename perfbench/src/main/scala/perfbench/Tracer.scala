package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** What the traced run learns about one Spark job. */
final case class JobRec(id: Int, layer: String, start: Long, end: Long,
                        tasks: Long, cpuNs: Long, shuffleBytes: Long,
                        spillBytes: Long, inputBytes: Long)

/** Per-stage task-time shape, for the straggler ratio (max over median).
 * `jobStart` is the start of the stage's job (ms). */
final case class StageShape(layer: String, jobStart: Long, maxMs: Long, medianMs: Long, tasks: Int)

/**
 * Attributes every Spark job to an engine layer, from outside the engine.
 *
 * A job's layer is the innermost `graft.` frame of the call site of the SQL
 * execution it belongs to (`SparkListenerSQLExecutionStart.details`, joined
 * to the job through the `spark.sql.execution.id` job property). AQE and
 * broadcast jobs run on pool threads whose own stage call sites show only
 * `CompletableFuture`, so the execution's call site is the one that names
 * the engine method. Jobs outside any SQL execution fall back to the call
 * site of their first stage. When no `graft.` frame is on the stack — the
 * harness itself ran an action on a lazy frame an engine method returned —
 * the job takes the harness span active on the submitting thread
 * (`Tracer.span`), or `unknown`.
 */
final class Tracer extends SparkListener {
  private val execLayer = mutable.Map.empty[Long, String]
  private val open = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val stageAgg = mutable.Map.empty[Int, Array[Long]] // tasks, cpu, shuffle, spill, input
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  private val shapes = mutable.ArrayBuffer.empty[StageShape]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      Tracer.layerOf(s.details).foreach(l => execLayer(s.executionId) = l)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val fromExec = exec.flatMap(execLayer.get)
    val fromStage = e.stageInfos.sortBy(_.stageId).headOption.flatMap(s => Tracer.layerOf(s.details))
    val fromSpan = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    val layer = fromExec.orElse(fromStage).orElse(fromSpan).getOrElse("unknown")
    open(e.jobId) = (layer, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](5))
    a(0) += 1
    if (m != null) {
      a(1) += m.executorCpuTime
      a(2) += m.shuffleWriteMetrics.bytesWritten
      a(3) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(4) += m.inputMetrics.bytesRead
    }
    if (e.taskInfo != null)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (layer, start, stages) =>
      val sum = new Array[Long](5)
      stages.foreach { s =>
        stageAgg.remove(s).foreach(a => (0 until 5).foreach(i => sum(i) += a(i)))
        stageTaskMs.remove(s).foreach { ms =>
          if (ms.length >= 4) {
            val sorted = ms.sorted
            shapes += StageShape(layer, start, sorted.last, sorted(sorted.length / 2), sorted.length)
          }
        }
      }
      done += JobRec(e.jobId, layer, start, e.time, sum(0), sum(1), sum(2), sum(3), sum(4))
    }
  }

  /** Jobs that ended since the last [[drain]], and their stage shapes. */
  def drain(): (Seq[JobRec], Seq[StageShape]) = synchronized {
    val out = (done.toList, shapes.toList)
    done.clear(); shapes.clear()
    out
  }
}

object Tracer {
  /** Local property naming the harness call in progress (see class doc). */
  val SpanKey = "perfbench.span"

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(.*$""".r

  private val CrawlerMethods = Map(
    "admit" -> "admit", "assignSeq" -> "assign_seq",
    "dispatchSelectAbs" -> "dispatch", "foldSeen" -> "fold_seen")

  private val ReadMethods = Set("status", "statusSummary", "checkUrl", "getPage",
    "searchStore", "workerStats", "recentActivity", "recentlyAdded",
    "indexStats", "indexStatsHistory", "inProgress", "liveFrontier", "liveRows")

  /** Layer of the innermost `graft.` frame of a long-form call site. */
  def layerOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(cls, meth) if cls.startsWith("graft.") => layerOfFrame(cls, meth)
    }

  def layerOfFrame(cls: String, rawMethod: String): String = {
    val c = cls.takeWhile(_ != '$')
    val m = rawMethod.stripPrefix("$anonfun$").takeWhile(_ != '$')
    c match {
      case "graft.operators.Crawler" =>
        CrawlerMethods.getOrElse(m, if (ReadMethods(m)) "read" else "run")
      case "graft.functions.SeenSketch" => "sketch"
      case "graft.plans.SnapshotTable" => "commit"
      case "graft.operators.SearchIndex" => "read"
      case x if x.startsWith("graft.functions.") => "functions"
      case x => s"${x.stripPrefix("graft.")}.$m"
    }
  }

  /** Runs `body` with the harness span `name` set on this thread. */
  def span[A](sc: SparkContext, name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  /** Total length of the union of [start, end) intervals (ms). Job intervals
   * overlap under AQE and concurrent commit writes, so a plain sum would
   * count the same wall time more than once. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
