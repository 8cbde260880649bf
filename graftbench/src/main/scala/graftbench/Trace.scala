package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer names of the benchmark's breakdown, in report order. Every
  * span the harness opens and every job the listener attributes
  * carries one of these. `operators.Cleaning` (reached only inside
  * `Medallion.rawToTrusted`) and `plans` are attributed by call site
  * only, so they have no spans. */
object Layers {
  val spanned: Seq[String] = Seq(
    "sources.CsvIngest", "sources.Landing", "sources.Sinks", "sources.Tables",
    "operators.Corpus", "operators.Dedup",
    "operators.Relational", "operators.Graph", "operators.Similarity",
    "operators.TextAnalysis",
    "pipeline.Medallion", "pipeline.Dag", "pipeline.Monitor")
  val all: Seq[String] = spanned ++ Seq("operators.Cleaning", "plans")

  /** Source file of a Spark call site → its layer. A job forced from a
    * layer's own file belongs to that layer whatever span encloses it,
    * which is what makes work done inside a composed call visible
    * (Corpus.buildSummary's MinHash jobs run from Dedup.scala). */
  val byFile: Map[String, String] =
    all.filter(_ != "plans").map(l => s"${l.split('.').last}.scala" -> l).toMap ++
      Map("Loops.scala" -> "plans", "Probes.scala" -> "plans")

  val LocalProperty = "graftbench.layer"
}

/** Records spans around the harness's calls into graft's public
  * functions. Spans stay in memory; `spans` is read once at the end.
  * One client thread drives every call, so the stack needs no lock. */
final case class Span(id: Int, parent: Int, layer: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long)

final class SpanRecorder(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = sc.getLocalProperty(Layers.LocalProperty)
    sc.setLocalProperty(Layers.LocalProperty, layer)
    stack = id :: stack
    val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      spans += Span(id, parent, layer, t0, System.nanoTime(), m0,
        System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty(Layers.LocalProperty, outer)
    }
  }
}

/** Task-level counters per layer plus engine-wide totals. With
  * `perLayer` off it keeps only the bytes written that the untraced
  * end-to-end metrics need: one addition per task, nothing per job. */
final class LayerListener(perLayer: Boolean) extends SparkListener {
  final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
  val byLayer = mutable.Map[String, Acc]()
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var gcMs = 0L
  var worstStraggler = 1.0
  var outputBytes = 0L
  /** Every finished job: id, layer and start/end epoch-ms, for
    * driver-idle accounting and the written trace. */
  val jobs = mutable.ArrayBuffer[(Int, String, Long, Long)]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val stageLayer = mutable.Map[Int, String]()
  private val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def layerOf(job: SparkListenerJobStart): String = {
    val site = job.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      .getOrElse("")
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    Layers.byFile.getOrElse(file,
      Option(job.properties).flatMap(p =>
        Option(p.getProperty(Layers.LocalProperty))).getOrElse("unspanned"))
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    if (perLayer) {
      val layer = layerOf(job)
      byLayer.getOrElseUpdate(layer, new Acc).jobs += 1
      jobStart(job.jobId) = (layer, job.time)
      job.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, layer))
    }
  }

  override def onJobEnd(job: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(job.jobId).foreach { case (layer, start) =>
      jobs += ((job.jobId, layer, start, job.time))
    }
  }

  override def onStageCompleted(stage: SparkListenerStageCompleted)
      : Unit = synchronized {
    if (perLayer) {
      stages += 1
      stageDurations.remove(stage.stageInfo.stageId).foreach { d =>
        if (d.size >= 2) {
          val sorted = d.sorted
          val median = math.max(1L, sorted(sorted.size / 2))
          worstStraggler = math.max(worstStraggler, sorted.last.toDouble / median)
        }
      }
    }
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = synchronized {
    val m = task.taskMetrics
    if (m != null)
      outputBytes += m.outputMetrics.bytesWritten + m.shuffleWriteMetrics.bytesWritten
    if (perLayer) {
      tasks += 1
      if (!task.taskInfo.successful) failedTasks += 1
      stageDurations.getOrElseUpdate(task.stageId,
        mutable.ArrayBuffer[Long]()) += task.taskInfo.duration
      if (m != null) {
        gcMs += m.jvmGCTime
        val acc = byLayer.getOrElseUpdate(
          stageLayer.getOrElse(task.stageId, "unspanned"), new Acc)
        acc.taskMs += m.executorRunTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Folds spans and listener counters into the `<layer>.<metric>`
  * report, each value per traced iteration. */
object LayerReport {
  private val Mb = 1024.0 * 1024.0

  /** Length of `[s, e)` not covered by the sorted, merged intervals. */
  private def uncovered(s: Long, e: Long, merged: Seq[(Long, Long)]): Long =
    merged.foldLeft(e - s) { case (left, (a, b)) =>
      left - math.max(0L, math.min(e, b) - math.max(s, a))
    }

  private def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (s, e)) if s <= b => (a, math.max(b, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def apply(rec: SpanRecorder, l: LayerListener, iterations: Int)
      : Seq[(String, Double)] = {
    val n = math.max(1, iterations).toDouble
    val jobsBusy = merge(l.jobs.toSeq.map(j => (j._3, j._4)))
    val children = rec.spans.groupBy(_.parent)
    val calls = mutable.Map[String, Long]().withDefaultValue(0L)
    val selfNs = mutable.Map[String, Long]().withDefaultValue(0L)
    val idleMs = mutable.Map[String, Long]().withDefaultValue(0L)
    for (s <- rec.spans) {
      val kids = children.getOrElse(s.id, Nil)
      calls(s.layer) += 1
      selfNs(s.layer) += (s.endNs - s.startNs) - kids.map(k => k.endNs - k.startNs).sum
      // the span's own stretches (children cut out) minus job time
      val own = merge(kids.map(k => (k.startMs, k.endMs)).toSeq)
      val ownIdle = uncovered(s.startMs, s.endMs, jobsBusy) -
        own.map { case (a, b) => uncovered(a, b, jobsBusy) }.sum
      idleMs(s.layer) += math.max(0L, ownIdle)
    }
    val perLayer = Layers.all.flatMap { layer =>
      val acc = l.byLayer.getOrElse(layer, new l.Acc)
      val spanMetrics =
        if (!Layers.spanned.contains(layer)) Nil
        else Seq("calls" -> calls(layer) / n,
          "self_s" -> selfNs(layer) / 1e9 / n,
          "driver_idle_s" -> idleMs(layer) / 1e3 / n)
      (spanMetrics ++ Seq(
        "jobs" -> acc.jobs / n,
        "task_s" -> acc.taskMs / 1e3 / n,
        "shuffle_write_mb" -> acc.shuffleWrite / Mb / n,
        "shuffle_read_mb" -> acc.shuffleRead / Mb / n,
        "spill_mb" -> acc.spill / Mb / n)).map { case (k, v) => s"$layer.$k" -> v }
    }
    perLayer ++ Seq(
      "spark.stages" -> l.stages / n,
      "spark.tasks" -> l.tasks / n,
      "spark.failed_tasks" -> l.failedTasks / n,
      "spark.straggler_ratio" -> l.worstStraggler,
      "spark.gc_s" -> l.gcMs / 1e3 / n)
  }
}

/** The raw trace of a traced run: spans and jobs on one epoch-ms clock. */
object TraceFile {
  def apply(rec: SpanRecorder, l: LayerListener): Map[String, Any] = Map(
    "spans" -> rec.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "jobs" -> l.jobs.toSeq.map { case (id, layer, start, end) =>
      Map("id" -> id, "layer" -> layer, "start_ms" -> start, "end_ms" -> end)
    })
}
