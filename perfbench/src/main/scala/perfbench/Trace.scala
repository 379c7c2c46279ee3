package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans are kept in memory and written once, when
  * the run ends; `parent` is the id of the span that caused this one
  * (-1 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startMs: Long, endMs: Long): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, startMs, endMs)
    id
  }
  def close(id: Int, endMs: Long): Unit = synchronized(buf(id) = buf(id).copy(endMs = endMs))
  def all: Seq[Span] = synchronized(buf.toSeq)
  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Engine counters for one job group (one query phase or one lookup). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** (submitted, completed, tasks, max task ms, median task ms) per stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long, Int, Long, Long)]

  def ++=(o: GroupStats): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    stageSpans ++= o.stageSpans
    this
  }
}

/** Listens on Spark's public buses and attributes what it hears to the
  * job group that was active when the work was submitted. The harness
  * tags every measured operation with its own job group and drains the
  * bus before it reads the counters, so nothing is attributed late.
  */
final class EngineTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** Planning events carry no job group; they go to the operation the
    * harness has open, which stays open until the bus is drained. */
  @volatile var planGroup: String = "none"

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def take(group: String): GroupStats = Option(groups.remove(group)).getOrElse(new GroupStats)

  /** Everything not yet taken, merged. */
  def takeAll(): GroupStats = {
    val all = new GroupStats
    groups.keySet.asScala.toSeq.foreach(g => all ++= take(g))
    all
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val s = stats(g)
    s.synchronized(s.jobs += 1)
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(g)
      s.synchronized {
        s.tasks += 1
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
      val ts = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      ts.synchronized(ts += m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.getOrDefault(info.stageId, "none")
    val times = Option(stageTaskMs.remove(info.stageId)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val s = stats(g)
    s.synchronized {
      s.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime)
        s.stageSpans += ((a, b, info.numTasks,
          if (times.isEmpty) 0L else times.last,
          if (times.isEmpty) 0L else times(times.size / 2)))
    }
  }

  private def addPlanning(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    val s = stats(planGroup)
    s.synchronized {
      s.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      s.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      s.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPlanning(qe)
}

/** Interval arithmetic for the scheduler-gap metrics. */
object Intervals {
  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Layers {
  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * traced run reports all of them; a layer the workload does not
    * exercise reads 0. */
  val All: Seq[(String, String)] =
    Seq("session.start_s" -> "s", "session.warmup_s" -> "s",
      "operators.build_s" -> "s", "operators.eager_jobs" -> "count",
      "operators.exec_s" -> "s", "operators.jobs" -> "count") ++
    Batch.Modules.map(m => s"operators.$m.wall_s" -> "s") ++
    Seq("plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
      "sched.stages" -> "count", "sched.tasks" -> "count", "sched.gap_s" -> "s",
      "sched.serial_stage_s" -> "s",
      "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
      "exec.core_util" -> "ratio", "exec.task_skew" -> "ratio",
      "shuffle.write_bytes" -> "B", "shuffle.records_written" -> "count",
      "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "B",
      "sources.input_bytes" -> "B", "sources.landed_bytes" -> "B") ++
    Batch.PairQueries.map { case (layer, q) => s"$layer.$q.wall_s" -> "s" } ++
    Seq("cdc.parse_s" -> "s", "cdc.parse_rows" -> "count",
      "store.merge_s" -> "s", "store.files_rewritten" -> "count", "store.write_amp" -> "ratio",
      "store.versions" -> "count", "store.files" -> "count",
      "store.files_per_lookup" -> "count", "store.lookup_jobs" -> "count",
      "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
      "stream.latest_offset_s" -> "s", "stream.get_batch_s" -> "s",
      "stream.query_planning_s" -> "s", "stream.add_batch_s" -> "s",
      "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
      "stream.trigger_wait_s" -> "s", "stream.backlog_files_max" -> "count",
      "gen.late_max_s" -> "s", "trace.work_s" -> "s")

  def complete(l: Layers): Seq[(String, (Double, String))] =
    All.map { case (n, u) => n -> (l.get(n), u) }
}

/** Named per-layer totals, accumulated over a run. */
final class Layers {
  private val v = mutable.LinkedHashMap.empty[String, (Double, String)]
  def add(name: String, x: Double, unit: String): Unit = {
    val cur = v.get(name).map(_._1).getOrElse(0.0)
    v(name) = (cur + x, unit)
  }
  def set(name: String, x: Double, unit: String): Unit = v(name) = (x, unit)
  def max(name: String, x: Double, unit: String): Unit =
    v(name) = (math.max(v.get(name).map(_._1).getOrElse(x), x), unit)
  def get(name: String): Double = v.get(name).map(_._1).getOrElse(0.0)
  def toMap: Map[String, (Double, String)] = v.toMap

  /** Fold one group's engine counters into the engine layers. `wallMs`
    * is the wall window [lo, hi) the group's work ran in. */
  def addEngine(s: GroupStats, lo: Long, hi: Long): Unit = {
    add("plan.analysis_s", s.analysisMs / 1e3, "s")
    add("plan.optimization_s", s.optimizationMs / 1e3, "s")
    add("plan.planning_s", s.planningMs / 1e3, "s")
    add("sched.stages", s.stages, "count")
    add("sched.tasks", s.tasks, "count")
    val running = Intervals.unionLength(s.stageSpans.map(x => (x._1, x._2)).toSeq, lo, hi)
    add("sched.gap_s", math.max(0L, (hi - lo) - running) / 1e3, "s")
    val serial = Intervals.unionLength(
      s.stageSpans.filter(_._3 == 1).map(x => (x._1, x._2)).toSeq, lo, hi)
    add("sched.serial_stage_s", serial / 1e3, "s")
    add("exec.task_s", s.taskMs / 1e3, "s")
    add("exec.cpu_s", s.cpuNs / 1e9, "s")
    add("exec.gc_s", s.gcMs / 1e3, "s")
    s.stageSpans.filter(x => x._3 >= 2 && x._5 > 0)
      .foreach(x => max("exec.task_skew", x._4.toDouble / x._5, "ratio"))
    add("shuffle.write_bytes", s.shuffleWriteBytes, "B")
    add("shuffle.records_written", s.shuffleRecords, "count")
    add("shuffle.fetch_wait_s", s.fetchWaitMs / 1e3, "s")
    add("spill.bytes", s.spillBytes, "B")
    add("sources.input_bytes", s.inputBytes, "B")
  }
}
