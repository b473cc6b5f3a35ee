package graft.plans

import java.nio.file.Path

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BoundReference, Cast, EqualTo, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Manifest

/** TRANSPARENT MATERIALIZED-VIEW REWRITING (the Calcite/warehouse
  * `enable_query_rewrite` feature): a query whose analyzed plan EQUALS a
  * registered MV's definition is answered from the STORED result instead
  * of recomputing — `SELECT source, count(*) … GROUP BY source` over a
  * 100 TB table becomes a scan of a |groups|-row table.
  *
  * Beyond plan equality, the rule performs the classic AGGREGATE ROLLUP
  * rewrite — the feature's main production value: a query whose GROUP BY
  * keys are a SUBSET of the MV's keys and whose aggregates are
  * decomposable folds of the MV's (COUNT/SUM → SUM, MIN → MIN, MAX → MAX,
  * AVG from stored SUM+COUNT) over the SAME input re-aggregates the
  * |groups|-row MV instead of the source — a daily-grain MV answers the
  * monthly-grain query.
  *
  * Opt-in per MV via [[MvRewrite.register]] (the analyzed definition, the
  * MV's relation, its rollup decomposition, and its freshness lineage are
  * captured once). At plan time the rule:
  *
  *  1. checks FRESHNESS — every recorded source version must still be
  *     that table's CURRENT version (cached manifest stats; a stale MV is
  *     simply not substituted, correctness never depends on refresh
  *     discipline);
  *  2. compares `plan.canonicalized` against the definition's (exprIds
  *     and aliases normalized — textually different but semantically
  *     identical spellings match), falling back to the rollup match on
  *     the aggregate's INPUT subtree;
  *  3. substitutes a Project (exact) or re-aggregation (rollup) over the
  *     MV's relation that re-binds to the ORIGINAL plan's output exprIds,
  *     so parents resolve unchanged.
  *
  * Registered as a POST-HOC RESOLUTION rule: at the end of analysis both
  * the incoming plan and the stored definition are plain analyzed trees
  * (`DataSourceV2Relation`s, before scan pushdown manufactures per-query
  * scan instances that never compare equal), so canonicalized equality is
  * meaningful; the substituted MV scan then optimizes like any other. */
object MvRewrite extends Rule[LogicalPlan] {

  /** The MV definition's rollup decomposition, captured at registration:
    * the aggregate's INPUT subtree (canonicalized — rollup candidates
    * must read the same thing), the key outputs (canonical defining
    * expression → MV column) and the agg outputs ((kind, canonical agg
    * child) → MV column). Expressions are REBASED onto the input's output
    * ordinals before canonicalization, so two plans' expressions compare
    * even though their exprIds never match. */
  private case class Rollup(childCanon: LogicalPlan,
      keys: Map[Expression, String],
      aggs: Map[(String, Expression), String])

  /** One registered MV: its analyzed definition, the scan to substitute,
    * the rollup decomposition (when the defn is a decomposable aggregate)
    * and the freshness lineage (source dirs + versions the stored result
    * reflects — re-read per refresh via the MV's own props). */
  private case class Registered(mvTable: String, defn: LogicalPlan,
      relation: DataSourceV2Relation, mvDir: Path, rollup: Option[Rollup])

  private val registry = TrieMap.empty[String, Registered]

  /** Registration analyzes the MV's own definition query — with the rule
    * ACTIVE. Without a guard, re-registering a fresh MV (or registering a
    * second MV whose definition equals an existing one) would substitute a
    * registered MV into the stored defn itself, so future user queries no
    * longer canonically match. The flag makes apply() a no-op on this
    * thread while the defn is being captured. */
  private val registering = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Register `mvTable` (a `CREATE MATERIALIZED VIEW` product) for
    * transparent rewriting in this JVM's sessions. */
  def register(spark: SparkSession, mvTable: String): Unit = {
    val mvDir = graft.sources.ManifestTable.resolve(spark, mvTable, "MV REWRITE").dir
    val props = Manifest.read(mvDir).map(_.props).getOrElse(Map.empty)
    val query = props.get(MaterializedView.QueryProp)
      .map(MaterializedView.unb64).getOrElse(throw new IllegalArgumentException(
        s"MV REWRITE: $mvTable is not a materialized view"))
    registering.set(true)
    val (defn, rel) = try {
      val d = spark.sql(query).queryExecution.analyzed
      val r = spark.table(mvTable).queryExecution.analyzed.collectFirst {
        case r: DataSourceV2Relation => r
      }.getOrElse(throw new IllegalStateException(
        s"MV REWRITE: $mvTable did not analyze to a DSv2 relation"))
      (d, r)
    } finally registering.set(false)
    registry.put(mvTable, Registered(mvTable, defn, rel, mvDir, rollupOf(defn)))
  }

  /** Drop a registration (tests; or after DROP TABLE). */
  def unregister(mvTable: String): Unit = registry.remove(mvTable)

  /** The MV reflects its sources' CURRENT state: every recorded version ==
    * that source's newest snapshot (all reads hit the manifest cache).
    * Join MVs record several sources; ALL must be unchanged. */
  private def fresh(r: Registered): Boolean = {
    val props = Manifest.read(r.mvDir).map(_.props).getOrElse(Map.empty)
    val recorded = MaterializedView.recordedSources(props)
    recorded.nonEmpty && recorded.forall { case (d, v) =>
      Manifest.snapshotVersions(java.nio.file.Paths.get(d))
        .lastOption.getOrElse(0) == v
    }
  }

  private def matches(p: LogicalPlan, r: Registered,
      fresh: Registered => Boolean): Boolean =
    p.output.length == r.defn.output.length &&
      p.output.zip(r.defn.output).forall { case (a, b) => a.dataType == b.dataType } &&
      p.canonicalized == r.defn.canonicalized &&
      fresh(r)

  // ------------------------------------------------------------- rollup --

  /** Rebase `e` onto `child`'s output ordinals and canonicalize — the
    * exprId-free comparable form. None when `e` references anything
    * outside `child` (can't happen for analyzed aggregates, but stay
    * conservative). */
  private def rebase(e: Expression, child: LogicalPlan): Option[Expression] = {
    var ok = true
    val r = e.transform {
      case a: AttributeReference =>
        val i = child.output.indexWhere(_.exprId == a.exprId)
        if (i < 0) { ok = false; a }
        else BoundReference(i, a.dataType, a.nullable)
    }
    if (ok) Some(r.canonicalized) else None
  }

  private def stripSort(p: LogicalPlan): LogicalPlan = p match {
    case s: Sort => stripSort(s.child)
    case s: SubqueryAlias => stripSort(s.child)
    case other => other
  }

  /** Classify one unfiltered, non-distinct COMPLETE aggregate call. */
  private def aggKind(ae: AggregateExpression): Option[(String, Expression)] =
    ae match {
      case AggregateExpression(fn, Complete, false, None, _) => fn match {
        case c: Count if c.children.length == 1 => Some("count" -> c.children.head)
        case s: Sum => Some("sum" -> s.child)
        case m: Min => Some("min" -> m.child)
        case m: Max => Some("max" -> m.child)
        case _ => None
      }
      case _ => None
    }

  /** The MV definition's rollup decomposition, when it has one. */
  private def rollupOf(defn: LogicalPlan): Option[Rollup] =
    stripSort(defn) match {
      case Aggregate(_, aggExprs, child, _) =>
        val keys = Map.newBuilder[Expression, String]
        val aggs = Map.newBuilder[(String, Expression), String]
        val allOk = aggExprs.forall {
          case a: AttributeReference =>
            rebase(a, child).foreach(keys += _ -> a.name); true
          case al @ Alias(c, _) =>
            c.collect { case ae: AggregateExpression => ae } match {
              case Seq() if c.deterministic =>
                rebase(c, child).foreach(keys += _ -> al.name); true
              case Seq(ae) if c == ae =>
                (for {
                  (kind, arg) <- aggKind(ae)
                  rb <- rebase(arg, child)
                } yield aggs += (kind, rb) -> al.name).isDefined
              case _ => false
            }
          case _ => false
        }
        val built = aggs.result()
        if (allOk && built.nonEmpty)
          Some(Rollup(child.canonicalized, keys.result(), built))
        else None
      case _ => None
    }

  /** The rollup substitution: `p` is an Aggregate whose input subtree
    * canonically equals the MV's — optionally under a deterministic WHERE
    * over KEY expressions only (`WHERE year(ts) = 2024 GROUP BY month`
    * against a (year, month)-grain MV: a key-only predicate is constant
    * per fine-grain group, so filtering rows before aggregation equals
    * filtering MV rows before the re-fold) — whose every grouping
    * expression maps to a stored key column, and whose every aggregate
    * folds from a stored aggregate column. Returns the re-aggregation
    * over the (filtered) MV relation, output-bound to `p`'s exprIds. */
  private def rollupSubstitute(p: LogicalPlan, r: Registered,
      fresh: Registered => Boolean): Option[LogicalPlan] = {
    val info = r.rollup.getOrElse(return None)
    p match {
      case Aggregate(gq, aq, childQ0, _) if gq.nonEmpty =>
        val (childQ, pred) = childQ0 match {
          case org.apache.spark.sql.catalyst.plans.logical.Filter(c, ch)
            if c.deterministic => (ch, Some(c))
          case ch => (ch, None)
        }
        if (childQ.canonicalized != info.childCanon) return None
        val rel = r.relation.newInstance()
        def mvCol(name: String): Attribute =
          rel.output.find(_.name == name).getOrElse(
            throw new IllegalStateException(s"MV ${r.mvTable} lost column $name"))
        def keyCol(e: Expression): Option[Attribute] =
          rebase(e, childQ).flatMap(info.keys.get).map(mvCol)
        // the WHERE predicate re-bound onto MV columns: every maximal
        // subexpression matching a stored KEY swaps in its column; a bare
        // reference to any NON-key column aborts the rollup (the predicate
        // would not be constant per fine-grain group)
        def mapPred(e: Expression): Option[Expression] =
          keyCol(e) match {
            case Some(c) => Some(c)
            case None => e match {
              case _: AttributeReference => None
              case _ =>
                val kids = e.children.map(mapPred)
                if (kids.nonEmpty && kids.forall(_.isDefined))
                  Some(e.withNewChildren(kids.map(_.get)))
                else if (e.children.isEmpty) Some(e) // literal
                else None
            }
          }
        // fold of one stored aggregate column, cast back to the query's
        // type when re-folding widens (sum of sum-widened decimals) — a
        // value the fold overflows is one the full recompute overflows too
        def fold(kind: String, col: Attribute, to: org.apache.spark.sql.types.DataType)
          : Expression = {
          val f = kind match {
            case "sum" => Sum(col).toAggregateExpression()
            case "min" => Min(col).toAggregateExpression()
            case "max" => Max(col).toAggregateExpression()
          }
          if (f.dataType == to) f else Cast(f, to)
        }
        def aggOut(ae: AggregateExpression): Option[Expression] =
          aggKind(ae) match {
            case Some((kind, arg)) =>
              val rb = rebase(arg, childQ)
              val stored = rb.flatMap(a => info.aggs.get((kind, a)))
              (kind, stored) match {
                case ("count", Some(c)) => Some(fold("sum", mvCol(c), ae.dataType))
                case ("sum", Some(c)) => Some(fold("sum", mvCol(c), ae.dataType))
                case ("min", Some(c)) => Some(fold("min", mvCol(c), ae.dataType))
                case ("max", Some(c)) => Some(fold("max", mvCol(c), ae.dataType))
                case _ => None
              }
            case None => ae.aggregateFunction match {
              // AVG(x) from stored SUM(x) + COUNT(x) (or COUNT(*) when x
              // is non-nullable — then the two counts agree by definition).
              // Decimal averages carry their own precision arithmetic;
              // stay off them.
              case av: Average if ae.mode == Complete && !ae.isDistinct &&
                ae.filter.isEmpty && !av.child.dataType.isInstanceOf[DecimalType] =>
                for {
                  rb <- rebase(av.child, childQ)
                  sumCol <- info.aggs.get(("sum", rb))
                  cntCol <- info.aggs.get(("count", rb)).orElse(
                    if (!av.child.nullable)
                      info.aggs.get(("count", rebase(Literal(1), childQ).get))
                    else None)
                } yield {
                  val s = Cast(Sum(mvCol(sumCol)).toAggregateExpression(), DoubleType)
                  val n = Cast(Sum(mvCol(cntCol)).toAggregateExpression(), DoubleType)
                  val div = If(EqualTo(n, Literal(0.0d)),
                    Literal.create(null, DoubleType),
                    org.apache.spark.sql.catalyst.expressions.Divide(s, n))
                  if (ae.dataType == DoubleType) div else Cast(div, ae.dataType)
                }
              case _ => None
            }
          }
        val groups: Option[Seq[Attribute]] =
          traverseOpt(gq)(keyCol)
        val outs: Option[Seq[NamedExpression]] = traverseOpt(aq) {
          case a: AttributeReference =>
            keyCol(a).map(c => Alias(c, a.name)(exprId = a.exprId))
          case al @ Alias(c, name) =>
            c.collect { case ae: AggregateExpression => ae } match {
              case Seq() if c.deterministic =>
                keyCol(c).map(k => Alias(k, name)(exprId = al.exprId))
              case Seq(ae) if c == ae =>
                aggOut(ae).map(e => Alias(e, name)(exprId = al.exprId))
              case _ => None
            }
          case _ => None
        }
        val input: Option[LogicalPlan] = pred match {
          case None => Some(rel)
          case Some(c) => mapPred(c).map(
            org.apache.spark.sql.catalyst.plans.logical.Filter(_, rel))
        }
        for {
          g <- groups
          o <- outs
          in <- input
          if fresh(r) // structural match first; freshness I/O last
        } yield Aggregate(g, o, in) // Catalyst prunes the unused MV cols
      case _ => None
    }
  }

  /** Map every element or None — Option.traverse, spelled out. */
  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    val it = xs.iterator
    while (it.hasNext) f(it.next()) match {
      case Some(b) => out += b
      case None => return None
    }
    Some(out.result())
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty || registering.get()) return plan
    // freshness (a manifest stat read) memoized per apply() invocation —
    // a plan with many candidate subtrees checks each MV's version once
    val freshness = scala.collection.mutable.Map.empty[String, Boolean]
    val cachedFresh: Registered => Boolean =
      r => freshness.getOrElseUpdate(r.mvTable, fresh(r))
    plan.transformUp {
      case p if p.resolved =>
        registry.values.find(matches(p, _, cachedFresh)) match {
          case Some(r) =>
            logInfo(s"MV rewrite: answering a subtree from ${r.mvTable}")
            // re-bind the MV's columns to the ORIGINAL output exprIds so
            // every parent reference resolves unchanged; a fresh relation
            // instance keeps attribute ids unique across substitutions
            val rel = r.relation.newInstance()
            Project(p.output.zip(rel.output).map { case (orig, c) =>
              Alias(c, orig.name)(exprId = orig.exprId)
            }, rel)
          case None =>
            registry.values.iterator
              .flatMap(r => rollupSubstitute(p, r, cachedFresh).map(r -> _))
              .nextOption() match {
              case Some((r, rolled)) =>
                logInfo(s"MV rewrite: rolling up ${r.mvTable} for a subtree")
                rolled
              case None => p
            }
        }
    }
  }
}
