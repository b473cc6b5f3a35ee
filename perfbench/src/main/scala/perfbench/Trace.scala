package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span of the trace. Times are epoch milliseconds; `op` is the id every
  * span of one op shares; `parent` is 0 for op spans. */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** What the harness knows about one executed op. */
final case class OpRec(id: Long, name: String, layer: String, round: Int, traced: Boolean,
    start: Double, end: Double, phases: Seq[(String, Double, Double)], ok: Boolean)

/** Stage-level task rollup, accumulated from task-end events. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  var inputRecords = 0L
}

/** The traced run's SparkListener. Registered from the benchmark only, it keeps
  * job, stage and SQL-execution records in memory; [[spans]] turns them plus
  * the harness's op records into a span tree at the end of the run. */
final class Tracer extends SparkListener {
  import Tracer.{Job, Sql, Stage}

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, Stage]()
  val aggs = mutable.HashMap[Int, StageAgg]()
  val sqls = mutable.LinkedHashMap[Long, Sql]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop(Ctx.OpKey).map(_.toLong).getOrElse(-1L),
      prop(Ctx.PhaseKey).getOrElse(""), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId, Option(i.details).getOrElse(""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls(s.executionId) = Sql(s.executionId, Option(s.details).getOrElse(""), s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(s.executionId).foreach(_.end = s.time)
    }
    case _ => ()
  }

  private var markers = 0

  /** Wait until the listener holds the events of every job that has ended.
    * The listener bus delivers events asynchronously but in order, so once
    * the end of a marker job submitted now has arrived, so have the events
    * of all jobs that ended before it. The marker belongs to no op, so no
    * rollup counts it. Jobs still running (none of an op's own, which end
    * before its action returns) stay out of the trace. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit = {
    markers += 1
    val marker = s"${Tracer.Marker}$markers"
    sc.setLocalProperty(Ctx.PhaseKey, marker)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Ctx.PhaseKey, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    def arrived = synchronized(jobs.values.exists(j => j.phase == marker && j.end >= 0))
    while (!arrived) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"listener events not delivered within $timeoutMs ms")
      Thread.sleep(10)
    }
  }

  /** A job's module: the first of its stages' modules that is not the
    * harness. */
  def jobModule(j: Job): String =
    j.stages.flatMap(stages.get).map(s => Tracer.module(s.details)).sortBy(_ == "harness")
      .headOption.getOrElse("harness")

  /** Span tree: op → phases → jobs → stages, plus SQL executions that ran
    * no job (DDL, catalog commands) under the phase that contains them. */
  def spans(ops: Seq[OpRec]): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer[Span]()
    var next = 1L
    def add(parent: Long, op: Long, name: String, layer: String, s: Double, e: Double): Long = {
      val id = next; next += 1
      out += Span(id, parent, op, name, layer, s, e); id
    }
    val byOp = jobs.values.groupBy(_.op)
    for (o <- ops if o.traced) {
      val root = add(0, o.id, o.name, "harness", o.start, o.end)
      val phaseIds = o.phases.map { case (n, s, e) => (n, s, e, add(root, o.id, n, Tracer.phaseLayer(n, o.layer), s, e)) }
      for (j <- byOp.getOrElse(o.id, Nil) if j.end >= 0) {
        val parent = phaseIds.find(_._1 == j.phase).orElse(phaseIds.find(p => p._2 <= j.start && j.start <= p._3))
          .map(_._4).getOrElse(root)
        val jid = add(parent, o.id, s"job ${j.id}", "spark." + jobModule(j), j.start.toDouble, j.end.toDouble)
        for (sid <- j.stages; st <- stages.get(sid) if st.completed > 0)
          add(jid, o.id, s"stage $sid", "spark." + Tracer.module(st.details), st.submitted.toDouble, st.completed.toDouble)
      }
      for (q <- sqls.values if q.end >= 0 && o.start <= q.start && q.start <= o.end &&
          !jobs.values.exists(j => j.op == o.id && q.start <= j.start && j.start <= q.end)) {
        val parent = phaseIds.find(p => p._2 <= q.start && q.start <= p._3).map(_._4).getOrElse(root)
        add(parent, o.id, s"sql ${q.id}", "spark." + Tracer.module(q.details), q.start.toDouble, q.end.toDouble)
      }
    }
    out.toSeq
  }
}

object Tracer {
  final case class Job(id: Int, op: Long, phase: String, start: Long, stages: Seq[Int]) {
    var end: Long = -1
  }
  final case class Stage(id: Int, details: String, submitted: Long, completed: Long)
  final case class Sql(id: Long, details: String, start: Long) { var end: Long = -1 }

  /** Phase tag prefix of [[Tracer.drain]]'s marker jobs. */
  val Marker = "perfbench.marker-"

  private val Frame = """graft\.([\w.$]+?)\$?\.([\w$]+)\(""".r

  /** Module that launched a stage or SQL execution: the first engine frame
    * of its call site (`graft.llm.Dedup$.x(Dedup.scala:9)` → `llm.Dedup`),
    * or "harness" when the benchmark itself ran the action. */
  def module(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case l if l.startsWith("graft.") => l
    }.flatMap(l => Frame.findFirstMatchIn(l)).map { m =>
      val parts = m.group(1).split('.').map(_.takeWhile(_ != '$'))
      if (parts.length == 1) "runtime." + parts(0) else parts.take(2).mkString(".")
    }.getOrElse("harness")

  /** Layer a phase's own (non-job) time belongs to. */
  def phaseLayer(phase: String, opLayer: String): String = phase match {
    case "build" => opLayer
    case "plan" => "plans"
    case "action" => "spark.driver"
    case p => opLayer + "." + p
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) { if (!curE.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(x => x._2 > x._1)
      s.layer -> math.max(0.0, s.ms - covered(c))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
