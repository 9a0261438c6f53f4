package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed unit of work (one trigger), in epoch
  * milliseconds so it lines up with the listener event times. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long) {
  def wallMs: Double = (endMs - startMs).toDouble
}

/** The benchmark's own tracing: a stage/job listener and a query-execution
  * listener, attached only in a traced run. Everything stays in memory
  * until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  val spans = new ConcurrentLinkedQueue[Span]()

  private val stageListener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(stageListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Per-unit means of the execution and planning layers over `units`:
    * jobs, stages, 1-task stages, tasks, executor CPU, CPU share of the
    * cores, shuffle and spill bytes, driver gap (wall not covered by any
    * stage), and the three planning phases. Keys are prefixed `prefix`. */
  def execLayers(units: Seq[Span], cores: Int, prefix: String = ""): Seq[(String, Double)] = {
    drain()
    val st = stages.asScala.toSeq
    val js = jobs.asScala.toSeq.map(_.longValue)
    val ps = plans.asScala.toSeq
    def in(t: Long, u: Span) = t >= u.startMs && t <= u.endMs
    val per = units.map { u =>
      val s = st.filter(x => in(x.submitMs, u))
      val cpuMs = s.map(_.cpuNs).sum / 1e6
      val covered = union(s.map(x => (math.max(x.submitMs, u.startMs), math.min(x.endMs, u.endMs))))
      val p = ps.filter(x => in(x.startMs, u))
      Map(
        "exec.jobs" -> js.count(in(_, u)).toDouble,
        "exec.stages" -> s.size.toDouble,
        "exec.single_task_stages" -> s.count(_.tasks == 1).toDouble,
        "exec.tasks" -> s.map(_.tasks).sum.toDouble,
        "exec.cpu_ms" -> cpuMs,
        "exec.cpu_util" -> (if (u.wallMs > 0) cpuMs / (u.wallMs * cores) else 0.0),
        "exec.shuffle_write_bytes" -> s.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> s.map(_.spill).sum.toDouble,
        "exec.driver_gap_ms" -> math.max(0.0, u.wallMs - covered),
        "planning.analysis_ms" -> p.map(_.analysis).sum.toDouble,
        "planning.optimization_ms" -> p.map(_.optimization).sum.toDouble,
        "planning.physical_ms" -> p.map(_.physical).sum.toDouble)
    }
    per.headOption.toSeq.flatMap(_.keys).sorted.map(k => (prefix + k, Bench.mean(per.map(_(k)))))
  }

  /** Per named group, the span from the first to the last stage whose
    * call site contains the group's pattern, in ms. */
  def fitLayers(groups: Seq[(String, String)]): Seq[(String, Double)] = {
    drain()
    val st = stages.asScala.toSeq
    groups.map { case (k, pat) =>
      val s = st.filter(_.name.contains(pat))
      k -> (if (s.isEmpty) 0.0 else (s.map(_.endMs).max - s.map(_.submitMs).min).toDouble)
    }
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }

  /** Write the spans as JSON lines. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(s"""{"name": "${s.name}", "parent": "${s.parent}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
    } finally w.close()
  }
}

object Tracer {
  private final case class Stage(name: String, submitMs: Long, endMs: Long, tasks: Int,
      cpuNs: Long, shuffleWrite: Long, spill: Long)
  private final case class Plan(startMs: Long, analysis: Long, optimization: Long,
      physical: Long)
}

object Progress {

  /** Triggers that read input, with their epoch-millisecond windows. */
  def triggers(ps: Seq[StreamingQueryProgress], name: String): Seq[(StreamingQueryProgress, Span)] =
    ps.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (p, Span(s"$name.batch${p.batchId}", name, start, start + dur(p, "triggerExecution")))
    }

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Per-trigger means of the source and micro-batch phases. */
  def layers(ps: Seq[StreamingQueryProgress], generated: Long): Seq[(String, Double)] = {
    def m(k: String) = Bench.mean(ps.map(dur(_, k).toDouble))
    Seq(
      "source.latest_offset_ms" -> m("latestOffset"),
      "source.get_batch_ms" -> m("getBatch"),
      "source.read_amplification" -> ps.map(_.numInputRows).sum.toDouble / generated,
      "stream.query_planning_ms" -> m("queryPlanning"),
      "stream.wal_commit_ms" -> m("walCommit"),
      "stream.commit_offsets_ms" -> m("commitOffsets"),
      "stream.add_batch_ms" -> m("addBatch"))
  }
}
