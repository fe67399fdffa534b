package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one run records, kept in memory and written once at exit.
  *
  * Always: one record per timed op (kind, name, start, end, ok). With
  * `trace` on, also spans around every public graft call the harness
  * makes, a job group per op, and what a `SparkListener` and a
  * `QueryExecutionListener` see. Raw records only: `perfbench/metrics.py`
  * reduces them, so the JVM does no bookkeeping inside the timed loop. */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  import Recorder._

  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  /** Wall-clock seconds since the epoch, at nanosecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val samples = ArrayBuffer.empty[Sample]
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
  private var openSpans = List.empty[Int]
  private var currentOp = -1

  if (trace) {
    spark.sparkContext.addSparkListener(new Listener)
    spark.listenerManager.register(new ExecListener)
  }

  /** Run one timed op. A throw is recorded as a failed op (never as a
    * fast one) and the loop goes on. Returns the op id. */
  /** How fast this host runs right now: a fixed CPU and memory loop that
    * no graft change can speed up, timed before every op. The host this
    * runs on changes speed by up to half over minutes; the reduction
    * scales the run's times by it (see `metrics.py`). */
  def calibrate(): Unit = sample("calib_s", calibrationLoop())

  private val calibData = Array.tabulate(1 << 20)(i => i * 0x9E3779B97F4A7C15L)
  @volatile private var calibSink = 0L
  private def calibrationLoop(): Double = {
    val t0 = now()
    val mask = calibData.length - 1
    var h = 0L
    var i = 0
    while (i < (1 << 21)) { h = h * 31 + calibData((i * 7919) & mask); i += 1 }
    calibSink = h
    now() - t0
  }
  (1 to 20).foreach(_ => calibrationLoop()) // compiled before the first op

  def op(kind: String, name: String)(body: => Unit): Int = {
    calibrate()
    val id = ops.size
    if (trace) spark.sparkContext.setJobGroup(s"op-$id", s"$kind $name")
    currentOp = id
    val t0 = now()
    val err = try { body; None } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $kind '$name' FAILED: $e")
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    ops += Op(id, kind, name, t0, now(), err)
    currentOp = -1
    if (trace) spark.sparkContext.clearJobGroup()
    id
  }

  /** A span around one call inside the current op; a no-op when not
    * tracing, so untraced runs time exactly the calls themselves. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = spans.size
      val parent = openSpans.headOption.getOrElse(-1)
      spans += Span(id, parent, currentOp, name, now(), Double.NaN)
      openSpans = id :: openSpans
      try body
      finally {
        openSpans = openSpans.tail
        spans(id) = spans(id).copy(end = now())
      }
    }

  /** A sample taken between ops. */
  def sample(name: String, value: Double): Unit =
    samples += Sample(name, ops.size - 1, value)

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      // the result stage is named after the job's call site, e.g.
      // "localCheckpoint at Dedup.scala:123"
      val callSite = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      jobs.add(Job(e.jobId, e.time / 1e3, Double.NaN, group, callSite,
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time / 1e3)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(Stage(i.stageId, i.numTasks,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()

  private final class ExecListener extends QueryExecutionListener {
    private def phase(qe: QueryExecution, n: String): (Double, Double) =
      qe.tracker.phases.get(n)
        .map(p => (p.startTimeMs / 1e3, (p.endTimeMs - p.startTimeMs) / 1e3))
        .getOrElse((Double.NaN, 0.0))
    private def add(qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
      val (at, plan) = phase(qe, "planning")
      execs.add(Exec(at, phase(qe, "analysis")._2,
        phase(qe, "optimization")._2, plan, ns / 1e9, ok))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe, ns, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(qe, 0L, ok = false)
  }

  /** Everything recorded, as one JSON document. */
  def toJson(meta: Map[String, Any]): String = {
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq.map(j =>
      j.copy(end = Option(jobEnds.get(j.id)).map(_.doubleValue).getOrElse(Double.NaN)))
    Json(Map(
      "meta" -> meta,
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "t0" -> o.t0, "t1" -> o.t1,
        "error" -> o.error.orNull)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "t0" -> s.start, "t1" -> s.end)),
      "samples" -> samples.map(s => Map("name" -> s.name,
        "after_op" -> s.afterOp, "value" -> s.value)),
      "jobs" -> js.map(j => Map("id" -> j.id, "t0" -> j.start, "t1" -> j.end,
        "group" -> j.group, "call_site" -> j.callSite, "stages" -> j.stageIds)),
      "stages" -> stages.asScala.toSeq.map(s => Map("id" -> s.id,
        "tasks" -> s.tasks, "run_s" -> s.runS, "cpu_s" -> s.cpuS,
        "gc_s" -> s.gcS, "input_bytes" -> s.inputBytes,
        "output_bytes" -> s.outputBytes, "shuffle_read_bytes" -> s.shuffleRead,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill)),
      "execs" -> execs.asScala.toSeq.map(e => Map("t" -> e.at,
        "analysis_s" -> e.analysisS, "optimization_s" -> e.optimizationS,
        "planning_s" -> e.planningS, "exec_s" -> e.execS, "ok" -> e.ok))))
  }
}

object Recorder {
  final case class Op(id: Int, kind: String, name: String, t0: Double,
                      t1: Double, error: Option[String])
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, end: Double)
  /** `afterOp`: the last op finished before the sample was taken. */
  final case class Sample(name: String, afterOp: Int, value: Double)
  final case class Job(id: Int, start: Double, end: Double, group: String,
                       callSite: String, stageIds: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runS: Double, cpuS: Double,
                         gcS: Double, inputBytes: Long, outputBytes: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)
  /** `at`: when planning started, the point the op window attributes by. */
  final case class Exec(at: Double, analysisS: Double, optimizationS: Double,
                        planningS: Double, execS: Double, ok: Boolean)
}

/** A minimal JSON writer for maps, sequences and scalars (NaN → null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
