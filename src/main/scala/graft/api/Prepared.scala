package graft.api

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{
  GlobalLimit, LeafNode, LocalLimit, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel

import graft.functions.{RequestParam, RequestSlot, SlotLiteral}

/** One endpoint text, parsed, analyzed, optimized, planned, compiled and
  * built into one RDD once; see [[SqlApi]] for what is bound where.
  *
  * @param rows the endpoint's rows, analyzed with [[RequestParam]]s */
private[graft] final class Prepared(spark: SparkSession, rows: DataFrame) {

  /** The subexpressions of request parameters only that [[plan]] reads
    * as [[RequestSlot]]s, by slot index. */
  private val slots = mutable.ArrayBuffer.empty[Expression]

  /** The [[Results]] JSON rendering over [[rows]], planned and prepared
    * for execution without adaptive execution, with each subexpression of
    * request parameters only a [[RequestSlot]], or in the predicates of
    * the in-memory scan a [[SlotLiteral]], so that the scan prunes cached
    * batches on it. */
  private[graft] val plan: SparkPlan = Prepared.mapParameterOnly(
    GraftBridge.prepareWithoutAdaptive(spark,
      Results.render(rows).queryExecution.sparkPlan)) { (e, inScan) =>
    val i = slots.indexWhere(_.semanticEquals(e)) match {
      case -1 => slots += e; slots.size - 1
      case i => i
    }
    val slot = RequestSlot(i, e.sql, e.dataType, e.nullable)
    if (inScan) new SlotLiteral(slot) else slot
  }

  /** [[plan]]'s RDD, built with `execute()` (a driver-side `executeCollect`
    * would evaluate slots outside any task). Each request runs it again:
    * a shuffle in it would serve its first run's output to every later
    * one, so the endpoint texts plan none. */
  private val rdd: RDD[InternalRow] = GraftBridge.withSessionConf(spark)(plan.execute())
  require(!Prepared.shuffles(rdd), s"a prepared endpoint plans a shuffle: $plan")

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

  /** [[raw]] with the slot values of `values` bound as plain literals:
    * each distinct value compiles its own classes (the DataFrame path;
    * [[jsonRows]] compiles none). */
  private[api] def rawPlan(values: Map[String, Any]): SparkPlan =
    Prepared.mapParameterOnly(raw)((e, _) => Literal(Prepared.value(e, values), e.dataType))

  /** The JSON rows `values` select: the slot values are evaluated once
    * here, sent to the tasks as this thread's local properties for one
    * job over [[rdd]], and the thread's own properties restored. No
    * analysis, planning, codegen or SQL execution. */
  private[api] def jsonRows(values: Map[String, Any]): Seq[String] = {
    val sc = spark.sparkContext
    val keys = slots.indices.map(RequestSlot.key)
    val previous = keys.map(sc.getLocalProperty)
    try {
      keys.zip(slots).foreach { case (k, e) =>
        sc.setLocalProperty(k, RequestSlot.encode(Prepared.value(e, values)))
      }
      GraftBridge.withSessionConf(spark)(sc.runJob(rdd, Prepared.json))
        .iterator.flatten.toIndexedSeq
    } finally keys.zip(previous).foreach { case (k, v) => sc.setLocalProperty(k, v) }
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

  /** `plan` with each maximal subexpression of request parameters only
    * (the time cutoff `timestampadd(MINUTE, -:minutes, :asof)`,
    * `:symbol`) replaced by `f(e, inScan)`, `inScan` when it is in the
    * predicates of an in-memory scan. Only the nodes above a replaced
    * expression are copied. */
  def mapParameterOnly(plan: SparkPlan)(f: (Expression, Boolean) => Expression): SparkPlan =
    plan.transformUp { case p =>
      val inScan = p.isInstanceOf[InMemoryTableScanExec]
      p.mapExpressions(_.transformDown {
        case e if !e.isInstanceOf[NamedExpression] &&
            e.exists(_.isInstanceOf[RequestParam]) &&
            e.transform { case r: RequestParam => Literal.default(r.dataType) }.foldable =>
          f(e, inScan)
      })
    }

  /** The value of `e`, of request parameters only, for `values`. */
  def value(e: Expression, values: Map[String, Any]): Any =
    e.transform { case RequestParam(n, t) => Literal(values(n), t) }.eval()

  private val json = (rows: Iterator[InternalRow]) =>
    rows.map(_.getUTF8String(0).toString).toArray

  /** Whether running `rdd` runs a shuffle, above any persisted RDD. */
  private def shuffles(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
    case _: org.apache.spark.ShuffleDependency[_, _, _] => true
    case d => d.rdd.getStorageLevel == StorageLevel.NONE && shuffles(d.rdd)
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
  * [[PreparedRequestStrategy]] plans it onto the prepared plan with the
  * request's values as literals, and [[Results.toJsonRows]] runs the
  * prepared RDD with them directly. */
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
