package graft.api

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{
  GlobalLimit, LeafNode, LocalLimit, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.DataType

import graft.functions.{RequestLiteral, RequestParam}

/** One endpoint text, parsed, analyzed, optimized and planned once; see
  * [[SqlApi]] for what is bound where.
  *
  * @param rows the endpoint's rows, analyzed with unbound
  *   [[RequestParam]]s */
private[graft] final class Prepared(spark: SparkSession, rows: DataFrame) {

  /** The [[Results]] JSON rendering over [[rows]], planned and prepared
    * for execution without adaptive execution. */
  private val rendered: SparkPlan = GraftBridge.prepareWithoutAdaptive(spark,
    Results.render(rows).queryExecution.sparkPlan)

  /** [[rows]] as planned, before the execution preparations: the plan of
    * [[PreparedRequest]]'s DataFrame path, planned on its first use. A
    * request's DataFrame plans onto a copy of it under the request's own
    * logical node, so no node may keep its link to this plan's logical
    * nodes (adaptive execution re-plans through those links). */
  private lazy val raw: SparkPlan = {
    val plan = rows.queryExecution.sparkPlan
    plan.foreach { p =>
      p.unsetTagValue(SparkPlan.LOGICAL_PLAN_TAG)
      p.unsetTagValue(SparkPlan.LOGICAL_PLAN_INHERITED_TAG)
    }
    plan
  }

  val output: Seq[Attribute] = rows.queryExecution.analyzed.output

  /** A DataFrame of the rows `values` select. */
  def request(values: Map[String, Any]): DataFrame =
    GraftBridge.ofRows(spark, PreparedRequest(this, values))

  private[api] def rawPlan(values: Map[String, Any]): SparkPlan =
    Prepared.bind(raw, values)

  /** The bound copy of [[rendered]] that [[jsonRows]] runs. */
  private[graft] def renderedPlan(values: Map[String, Any]): SparkPlan =
    Prepared.bind(rendered, values)

  /** The JSON rows `values` select: the bound copy of [[rendered]] runs
    * as one job, with no analysis, planning or SQL execution. */
  private[api] def jsonRows(values: Map[String, Any]): Seq[String] =
    GraftBridge.withSessionConf(spark) {
      renderedPlan(values).executeCollect()
        .map(_.getUTF8String(0).toString).toIndexedSeq
    }
}

private[api] object Prepared {

  /** Prepare `sql` for requests whose parameters have `types`; the
    * `limits` parameters are bound as literals (a LIMIT must be a
    * constant at analysis). */
  def apply(spark: SparkSession, sql: String, types: Map[String, DataType],
            limits: Map[String, Literal]): Prepared = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql).transformAllExpressions {
      case NamedParameter(n) => limits.getOrElse(n, RequestParam(n, types(n)))
    }
    new Prepared(spark, GraftBridge.ofRows(spark, plan))
  }

  /** A copy of `plan` with `values` bound: each subexpression that
    * depends on request parameters only (the time cutoff
    * `timestampadd(MINUTE, -:minutes, :asof)`, `:symbol`) becomes one
    * bound [[RequestParam]] carrying its value, or in the predicates of an
    * in-memory scan one [[RequestLiteral]], so that the scan prunes
    * cached batches on it. Only the nodes above a bound expression are
    * copied. */
  def bind(plan: SparkPlan, values: Map[String, Any]): SparkPlan =
    plan.transformUp { case p =>
      val asLiteral = p.isInstanceOf[InMemoryTableScanExec]
      p.mapExpressions(_.transformDown {
        case e if !e.isInstanceOf[NamedExpression] &&
            e.exists(_.isInstanceOf[RequestParam]) =>
          val closed = e.transform {
            case RequestParam(n, t, _) => Literal(values(n), t)
          }
          if (!closed.foldable) e
          else if (asLiteral) new RequestLiteral(closed.eval(), e.dataType)
          else RequestParam(e match {
            case RequestParam(n, _, _) => n
            case _ => e.sql
          }, e.dataType, closed.eval())
      })
    }

  /** The names of the parameters in `sql`, and of those in a LIMIT. */
  def parameters(sql: String): (Set[String], Set[String]) = {
    val plan = CatalystSqlParser.parsePlan(sql)
    def names(es: Seq[Expression]): Set[String] =
      es.flatMap(_.collect { case NamedParameter(n) => n }).toSet
    (names(plan.collect { case p => p.expressions }.flatten),
      names(plan.collect {
        case l: GlobalLimit => l.limitExpr
        case l: LocalLimit => l.limitExpr
      }))
  }
}

/** A request to a [[Prepared]] endpoint as a logical leaf:
  * [[PreparedRequestStrategy]] plans it onto the bound copy of the
  * prepared plan, and [[Results.toJsonRows]] runs its rendered plan
  * directly. */
private[graft] case class PreparedRequest(prepared: Prepared, values: Map[String, Any])
    extends LeafNode {
  override def output: Seq[Attribute] = prepared.output
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
}

/** Plans [[PreparedRequest]] onto its bound plan; installed by
  * [[SqlApi.registerViews]]. */
private[graft] object PreparedRequestStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: PreparedRequest => r.prepared.rawPlan(r.values) :: Nil
    case _ => Nil
  }
}
