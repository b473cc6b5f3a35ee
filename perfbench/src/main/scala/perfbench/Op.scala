package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed operation of a workload's panel. `run` drives the program
  * through its public entry points, marking phases on the [[Ctx]], and
  * returns what the correctness check needs. `layer` names the module the op
  * exercises (`queries.Core`, `llm.Dedup`, `etl`, `sources.write`, ...). */
final case class Op(name: String, layer: String, run: Ctx => Outcome)

/** What an op returns: its output row count and a check that runs after the
  * op's timer stops. The check yields the output's digest, compared against
  * the op's reference digest, and any problem the op itself detected. */
final case class Outcome(rows: Long, check: () => (String, Option[String]))

/** Per-op phase timer. Every phase also tags the Spark jobs it starts (local
  * properties travel with the job), so the traced run can hang job and stage
  * spans under the op and phase that caused them. The tags are cleared when
  * the phase ends, so jobs outside every phase (the harness's own checks)
  * belong to no op. */
final class Ctx(val spark: SparkSession, val opId: Long) {
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  /** The last DataFrame an action ran on, for plan-metric rollups. */
  var executed: Option[DataFrame] = None
  /** The last collected result, for the oracle dump. */
  var result: Option[(StructType, Array[Row])] = None

  def phase[T](name: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Ctx.OpKey, opId.toString)
    spark.sparkContext.setLocalProperty(Ctx.PhaseKey, name)
    val t0 = System.nanoTime()
    try body finally {
      phases += ((name, t0, System.nanoTime()))
      spark.sparkContext.setLocalProperty(Ctx.OpKey, null)
      spark.sparkContext.setLocalProperty(Ctx.PhaseKey, null)
    }
  }
}

object Ctx {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

/** Declared-query ops: build the DataFrame (the query function, including any
  * eager staging it does), force the physical plan, then run a full-result
  * action. */
object QueryOp {
  type Fn = (SparkSession, String) => DataFrame

  def apply(name: String, layer: String, fn: Fn, dir: String): Op =
    Op(name, layer, ctx => {
      val df = ctx.phase("build")(fn(ctx.spark, dir))
      ctx.phase("plan")(df.queryExecution.executedPlan)
      val rows = ctx.phase("action")(df.collect())
      ctx.executed = Some(df)
      ctx.result = Some((df.schema, rows))
      Outcome(rows.length, () => (Digest.rows(rows), None))
    })
}

/** Order-insensitive digest of a result: rows rendered canonically (doubles
  * to 12 significant digits, so run-to-run summation order cannot flip it),
  * sorted, hashed. Row order is checked separately by the DuckDB oracle. */
object Digest {
  def rows(rs: Array[Row]): String = strings(rs.iterator.map(render).toArray)

  def strings(ss: Array[String]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    ss.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString else "%.12g".format(d)
}
