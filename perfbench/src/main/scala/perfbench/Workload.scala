package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** A benchmark workload: its set-up, its warm pass, the ops of each timed
  * round, and the per-layer numbers it derives from a traced run. */
trait Workload {
  def setup(): Unit = ()
  /** The whole panel, run once in set-up before any timing. */
  def warmup(): Seq[Op]
  def round(rng: Random): Seq[Op]
  def hasMore: Boolean = true
  /** Persist a warm op's result for the DuckDB oracle check. */
  def dump(op: Op, ctx: Ctx): Unit = ()
  /** Called after each traced op, with the op's phases and executed plan. */
  def observe(op: Op, ctx: Ctx): Unit = ()
  def layerMetrics(traced: Seq[OpRec], t: Tracer): Map[String, Double]
  /** Values run.py checks against the generator's ground truth. */
  def facts: Map[String, Any] = Map.empty
}

object Workload {

  def apply(name: String, spark: SparkSession, inputDir: String, work: File, seed: Long): Workload =
    name match {
      case "trip_medallion" => new TripMedallion(spark, inputDir, work)
      case "declared_queries" => new QueryPanel(spark, s"$inputDir/tables", work, Panels.declaredQueries)
      case "table_writes" => new TableWrites(spark, inputDir, work, seed)
    }

  /** A round never starts with the op that ran last: `graft.Bench` times
    * exactly such an immediate repeat, and its samples spread up to 2.3×. */
  def avoidRepeat(ops: Seq[Op], last: String, rng: Random): Seq[Op] =
    if (ops.size > 1 && ops.head.name == last) {
      val j = 1 + rng.nextInt(ops.size - 1)
      ops.updated(0, ops(j)).updated(j, ops.head)
    } else ops

  /** Every node of an executed plan, through AQE stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def phaseMs(r: OpRec, name: String): Double =
    r.phases.filter(_._1 == name).map(p => p._3 - p._2).sum
}

/** Shared per-layer numbers, derived the same way on every workload. Counts
  * and times are per traced op unless the name says otherwise. */
object Layers {
  def shared(recs: Seq[OpRec], spans: Seq[Span], t: Tracer, rounds: Seq[Map[String, Double]],
      cores: Int, gcS: Double): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val ids = traced.map(_.id).toSet
    val jobs = t.jobs.values.filter(j => ids(j.op) && j.end >= 0).toSeq
    val stageIds = jobs.flatMap(_.stages).distinct
    val aggs = stageIds.flatMap(t.aggs.get)
    val wall = traced.map(r => r.end - r.start).sum
    val phased = traced.map(r => r.phases.map(p => p._3 - p._2).sum).sum
    val self = Tracer.selfTime(spans)
    def selfOf(p: String => Boolean) = self.filter(kv => p(kv._1)).values.sum / n
    // traced rounds alternate with untraced ones of the same panel
    val overheadPct = {
      val (on, off) = rounds.partition(_("traced") == 1.0)
      def perOp(rs: Seq[Map[String, Double]]) = rs.map(_("ms")).sum / math.max(1.0, rs.map(_("ops")).sum)
      if (on.isEmpty || off.isEmpty) 0.0 else (perOp(on) / perOp(off) - 1) * 100
    }
    Map(
      "entry.build_ms" -> traced.map(Workload.phaseMs(_, "build")).sum / n,
      "entry.eager_jobs" -> jobs.count(_.phase == "build") / n,
      "plans.plan_ms" -> traced.map(Workload.phaseMs(_, "plan")).sum / n,
      "plans.plan_share" -> traced.map(Workload.phaseMs(_, "plan")).sum / math.max(1e-9, wall),
      "spark.action_ms" -> traced.map(Workload.phaseMs(_, "action")).sum / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stageIds.size / n,
      "spark.tasks" -> aggs.map(_.tasks).sum / n,
      "spark.slot_busy_ratio" -> aggs.map(_.runMs).sum / math.max(1e-9, cores * wall),
      "spark.task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_write_mb" -> aggs.map(_.shuffleWrite).sum / 1048576.0 / n,
      "spark.shuffle_read_mb" -> aggs.map(_.shuffleRead).sum / 1048576.0 / n,
      "spark.spill_mb" -> aggs.map(_.spill).sum / 1048576.0 / n,
      "spark.peak_exec_mem_mb" -> (if (aggs.isEmpty) 0.0 else aggs.map(_.peakMem).max / 1048576.0),
      "jvm.gc_s" -> gcS,
      "storage.retained_mb" -> (if (rounds.isEmpty) 0.0 else rounds.map(_("storage_mb")).max),
      "scratch.retained_mb" -> rounds.lastOption.map(_("scratch_mb")).getOrElse(0.0),
      "trace.overhead_pct" -> overheadPct,
      "trace.span_coverage" -> phased / math.max(1e-9, wall),
      "self.harness_ms" -> selfOf(_ == "harness"),
      "self.entry_ms" -> selfOf(l => !l.startsWith("spark.") && l != "plans" && l != "harness"),
      "self.plans_ms" -> selfOf(_ == "plans"),
      "self.spark_driver_ms" -> selfOf(_ == "spark.driver"),
      "self.spark_jobs_ms" -> selfOf(l => l.startsWith("spark.") && l != "spark.driver"))
  }
}
