package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is 0 for a root span;
  * spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicInteger(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  def record(parent: Int, op: String, name: String, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    all.add(Span(id, parent, op, name, startNs, endNs))
    id
  }

  /** Times `f` as a span; `f` receives the span's id to parent its children. */
  def apply[A](parent: Int, op: String, name: String)(f: Int => A): A = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id)
    finally all.add(Span(id, parent, op, name, t0, System.nanoTime()))
  }

  def toSeq: Seq[Span] = all.asScala.toSeq.sortBy(_.id)

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children of the replay run on several threads
    * and may overlap). */
  def selfNs: Map[Int, Long] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson: Seq[Map[String, Any]] = {
    val self = selfNs
    val t0 = if (all.isEmpty) 0L else toSeq.map(_.startNs).min
    toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000,
      "self_us" -> self(s.id) / 1000))
  }
}

/** Task metrics summed over the stages of one job group. */
final class StageSums {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  /** per stage: task durations (ms), for the skew of the largest stage */
  val durations = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()

  def skew: Double = {
    val biggest = durations.values.asScala.toSeq.sortBy(-_.size).headOption
    biggest.filter(_.size > 1).map { ds =>
      val sorted = ds.asScala.map(_.longValue).sorted
      val med = sorted(sorted.size / 2)
      if (med <= 0) 1.0 else sorted.last.toDouble / med
    }.getOrElse(1.0)
  }
}

/** Aggregates task metrics per job group. The benchmark sets a distinct
  * job group around each public call it times, so every stage is
  * attributed to the layer whose call submitted it. */
final class StageListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, StageSums]()
  private val jobs = new ConcurrentHashMap[String, AtomicInteger]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "ungrouped")
    val s = sums.computeIfAbsent(g, _ => new StageSums)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.durations.computeIfAbsent(e.stageId, _ => new java.util.ArrayList[java.lang.Long]())
        .add(e.taskInfo.duration)
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      }
    }
  }

  /** Sums for `group` once every event posted so far has been delivered. */
  def group(sc: SparkContext, group: String): (Int, StageSums) = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    (Option(jobs.get(group)).map(_.get).getOrElse(0), sums.getOrDefault(group, new StageSums))
  }
}
