package graft.e2ebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Spans and Spark-work attribution for the traced run.
  *
  * A span wraps one call from the benchmark into a layer (a module of
  * the engine). While a span is open the benchmark's thread carries a
  * job group naming it, so a SparkListener can assign every job, and
  * the tasks, shuffle, spill and GC of its stages, to the span's layer.
  * Jobs inside `Pipeline.writeDatasetTree` run on the tree's own lane
  * threads, which inherit the group; they are assigned by the source
  * file of their call site instead (the innermost `graft.core` /
  * `graft.io` frame of the stage's call stack).
  *
  * Spans stay in memory and are written out when the run ends. When
  * tracing is off every method is a pass-through.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  final class Span(val id: Int, val parent: Int, val layer: String,
                   val op: Int, val startNs: Long, val note: String) {
    var endNs: Long = startNs
  }

  /** Spark work assigned to one layer (or one op). */
  final class Work {
    var jobs = 0L; var tasks = 0L
    var runMs = 0.0; var gcMs = 0.0
    var shuffleBytes = 0.0; var spillBytes = 0.0
  }

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile var op: Int = SetupOp
  private val forced = mutable.ArrayBuffer.empty[DataFrame]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Places where the traced run's composition of a module call left
    * the program's own; they count as failed checks. */
  val planFailures = mutable.ArrayBuffer.empty[String]
  val laneSeconds = mutable.ArrayBuffer.empty[Map[String, Double]]

  val byLayer = mutable.HashMap.empty[String, Work]
  val byOp = mutable.HashMap.empty[Int, Work]
  /** per stage: task durations, for skew */
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    private val stageOwner = mutable.HashMap.empty[Int, (String, Int)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val span = if (group != null && group.startsWith(GroupPrefix))
        spanById(group.stripPrefix(GroupPrefix).toInt) else None
      // set-up and warm-up work is not per-op work
      span.filter(_.op >= 0).foreach { s =>
        val layer = if (s.layer == TreeLayer)
          e.stageInfos.headOption.flatMap(si => layerOfCallSite(si.details))
            .getOrElse(TreeLayer)
        else s.layer
        e.stageInfos.foreach(si => stageOwner(si.stageId) = (layer, s.op))
        Trace.this.synchronized {
          work(byLayer, layer).jobs += 1
          work(byOp, s.op).jobs += 1
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOwner.get(e.stageId).foreach { case (layer, o) =>
        val m = e.taskMetrics
        Trace.this.synchronized {
          Seq(work(byLayer, layer), work(byOp, o)).foreach { w =>
            w.tasks += 1
            if (m != null) {
              w.runMs += m.executorRunTime
              w.gcMs += m.jvmGCTime
              w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten
              w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
          if (o >= 0)
            stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
              e.taskInfo.duration
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  private def spanById(id: Int): Option[Span] = Trace.this.synchronized {
    if (id >= 0 && id < spans.length) Some(spans(id)) else None
  }

  private def work(m: mutable.HashMap[String, Work], k: String): Work =
    m.getOrElseUpdate(k, new Work)
  private def work(m: mutable.HashMap[Int, Work], k: Int): Work =
    m.getOrElseUpdate(k, new Work)

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.layer, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Time `f` as one call into `layer`; `note` (e.g. the request key)
    * goes into the span record. */
  def apply[T](layer: String, note: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val sp = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
          layer, op, System.nanoTime(), note)
        spans += sp; sp
      }
      stack ::= s
      setGroup(Some(s))
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }

  /** Force a lazy frame at a layer boundary (traced run only): pin it
    * and count it, so its work lands in the span that produced it; the
    * pin is dropped when the op ends. Returns the row count (-1 when
    * tracing is off). */
  def force(df: DataFrame): Long =
    if (!enabled) -1L
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      forced += df
      df.count()
    }

  /** Add to a named count. Counts made during set-up (op = SetupOp) are
    * kept apart under a "setup." prefix; warm-up counts (op = WarmOp)
    * are dropped. */
  def add(key: String, v: Double): Unit =
    if (enabled && op != WarmOp) synchronized {
      val k = if (op == SetupOp) "setup." + key else key
      counts(k) = counts.getOrElse(k, 0.0) + v
    }

  /** Release the pins `force` took for the op that just ended. */
  def endOp(): Unit = if (enabled) {
    forced.foreach(_.unpersist(blocking = true))
    forced.clear()
  }

  /** Forget the counts and Spark work recorded so far (after a
    * warm-up); set-up counts stay unless `setupToo`. Spans stay: warm-up
    * spans carry op = WarmOp and are left out of every figure. */
  def reset(setupToo: Boolean): Unit = if (enabled) {
    drain()
    synchronized {
      if (setupToo) counts.clear()
      laneSeconds.clear()
      byLayer.clear(); byOp.clear(); stageTasks.clear()
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.E2eBenchBus.drain(sc)

  /** Self time per layer in seconds, over the ops (`from` = 0) or over
    * the set-ups (`from` = SetupOp): each span's duration minus the part
    * its child spans cover (children run on the same thread, one after
    * another, so their durations add). */
  def selfSeconds(from: Int): Map[String, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.filter(s => if (from >= 0) s.op >= 0 else s.op == from).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  /** Median over stages with at least two tasks of max ÷ median task
    * duration. */
  def taskSkew: Double = {
    val ratios = stageTasks.valuesIterator.filter(_.length >= 2).map { d =>
      val s = d.sorted
      val med = s(s.length / 2).max(1L).toDouble
      s.last / med
    }.toVector.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.length / 2)
  }

  /** Spans as JSON lines. */
  def spansJson: String = spans.filter(_.op != WarmOp).map { s =>
    val p = if (s.parent >= 0) s.parent.toString else "null"
    val note = s.note.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"id":${s.id},"parent":$p,"op":${s.op},"layer":"${s.layer}","note":"$note",""" +
      s""""start_ms":${(s.startNs - spans.head.startNs) / 1e6},"dur_ms":${(s.endNs - s.startNs) / 1e6}}"""
  }.mkString("\n")

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Trace {
  val SetupOp: Int = -1
  val WarmOp: Int = -2
  val GroupPrefix = "e2ebench-span-"
  /** The span layer under which jobs are assigned by call site. */
  val TreeLayer = "pipeline"

  /** Layer names of the engine's modules. */
  private val ModuleLayer = Map(
    "Readers" -> "readers", "Interactions" -> "interactions",
    "Annotate" -> "annotate", "Intervals" -> "intervals",
    "GraphOps" -> "graphops", "LocalGraph" -> "graphops",
    "Chas" -> "chas", "LocalChain" -> "chas",
    "Search" -> "search", "Layout" -> "layout", "Serving" -> "serving",
    "CytoscapeJson" -> "cytoscapejson", "MetadataJson" -> "metadatajson",
    "Pipeline" -> "pipeline", "Metadata" -> "pipeline")

  private val Frame = """graft\.(?:core|io)\.(\w+?)\$?[.$]""".r

  /** Layer of the innermost engine frame of a long-form call site. */
  def layerOfCallSite(details: String): Option[String] =
    details.linesIterator.flatMap(l => Frame.findFirstMatchIn(l.trim))
      .map(_.group(1)).flatMap(ModuleLayer.get).nextOption()

  /** writeDatasetTree's lanes → the layer whose code each lane runs. */
  val LaneLayer = Map(
    "symmetrize" -> "graphops", "componentStats" -> "graphops",
    "diameter" -> "graphops", "transitivity" -> "graphops",
    "graphMetadata" -> "graphops", "featuresMetadata" -> "chas",
    "chromosomeDocs" -> "cytoscapejson", "nodesCache" -> "pipeline",
    "suggestions" -> "pipeline", "chromosomes" -> "pipeline")

  /** The tree's critical lane and the length of its path (seconds).
    * Every lane starts after the nodes cache; componentStats and
    * diameter wait for symmetrize, the documents for the chromosome
    * list. */
  def criticalLane(t: Map[String, Double]): (String, Double) = {
    def g(k: String) = t.getOrElse(k, 0.0)
    val paths = Seq(
      "componentStats" -> (g("symmetrize") + g("componentStats")),
      "diameter" -> (g("symmetrize") + g("diameter")),
      "transitivity" -> g("transitivity"),
      "graphMetadata" -> g("graphMetadata"),
      "suggestions" -> g("suggestions"),
      "chromosomeDocs" -> (g("chromosomes") + g("chromosomeDocs")),
      "featuresMetadata" -> g("featuresMetadata"))
    val (lane, s) = paths.maxBy(_._2)
    (lane, g("nodesCache") + s)
  }
}
