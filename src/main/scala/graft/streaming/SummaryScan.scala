package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count,
  DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LocalRelation,
  LogicalPlan, Project, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GroupSummaryAgg

/** Optimizer rule: answer `count()`, `sum(m)` and `avg(m)` by `g` over
  * a [[Sinks.readLatest]] frame from the version's summary sidecar
  * ([[Sinks.summary]]), instead of scanning the version — the reference
  * dashboard's three tiles become a scan of a few local rows.
  *
  * It matches exactly `Aggregate(g; items ⊆ {g, sum(m), count(1),
  * avg(m)})` over (a column-only `Project` over) `readLatest`'s
  * tombstone filter `NOT coalesce(deleted, false)` over a parquet
  * relation with one root path, no partition columns and no reader
  * options, where that path holds a readable summary of `(g, m)` and
  * `m` is a byte/short/int column. The shape is tested before the
  * filesystem is touched; any other shape, and a version without a
  * summary, keeps its plan. Only the aggregate is replaced: the
  * `readLatest` frame itself is unchanged.
  *
  * Exactness: the summary's sums are exact longs. Spark's `avg` over an
  * integral column adds in double, which is exact while every partial
  * sum stays below 2^53 — guaranteed for at most 2^22 int values per
  * group — so `avg` is answered only under that bound, as
  * `sum.toDouble / nonNull`, bit-identical to the scan.
  *
  * Fold: in the same bottom-up pass, every deterministic operator
  * stacked on a relation this rule served is evaluated on the driver
  * into one `LocalRelation`, so the whole read — a tile's `sort by`, a
  * checksum aggregate over it — plans to a `LocalTableScanExec` and
  * starts no Spark job. It folds `Project` and `Filter` (through
  * `ConvertToLocalRelation`), a `LocalLimit`/`GlobalLimit` of a literal,
  * a global `Sort` (`InterpretedOrdering`, stable) and an `Aggregate`
  * whose functions, normalized by `PhysicalAggregation`, are all
  * `Complete`, non-distinct, unfiltered `DeclarativeAggregate`s over
  * non-floating, binary-stable group keys (interpreted initial, update
  * and evaluate projections; a global aggregate over no rows gives its
  * one row). The fold stops, keeping the plan above the served
  * relation, at any other operator, a nondeterministic expression, a
  * subquery, an `ImperativeAggregate` (`percentile`, `make_list`,
  * [[GroupSummaryAgg]]), a distinct or filtered aggregate, or an
  * expression that throws while folding (its error surfaces at
  * execution, as without the rule).
  *
  * Scope: only relations served in this pass are folded, tracked by
  * identity — never a `LocalRelation` the query brought (a
  * `createDataFrame` or `datatable` frame has no size bound, and keeps
  * its jobs). */
case class SummaryScan(spark: SparkSession) extends Rule[LogicalPlan] {
  import SummaryScan._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val served = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean])
    def serve(r: Option[LocalRelation], or: LogicalPlan): LogicalPlan =
      r.map { l => served.add(l); l }.getOrElse(or)
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case p: UnaryNode if served.contains(p.child) => serve(fold(p, p.child.asInstanceOf[LocalRelation]), p)
      case a: Aggregate => serve(answer(a), a)
    }
  }

  /** `p` evaluated over the served rows of `r`, or None to keep `p`. */
  private def fold(p: UnaryNode, r: LocalRelation): Option[LocalRelation] =
    if (!p.expressions.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e))) None
    else try p match {
      case _: Project | _: Filter => Some(ConvertToLocalRelation(p)).collect { case l: LocalRelation => l }
      case GlobalLimit(IntegerLiteral(n), _) => Some(r.copy(data = r.data.take(n)))
      case LocalLimit(IntegerLiteral(n), _) => Some(r.copy(data = r.data.take(n)))
      case Sort(order, true, _, _) => Some(r.copy(data = r.data.sorted(new InterpretedOrdering(order, r.output))))
      case a: Aggregate => aggregate(a, r)
      case _ => None
    } catch { case NonFatal(_) => None }

  private def aggregate(a: Aggregate, r: LocalRelation): Option[LocalRelation] = a match {
    case PhysicalAggregation(keys, aggs, results, _) if keys.forall(k => bytesAreEquality(k.dataType)) &&
        aggs.forall(e => e.mode == Complete && !e.isDistinct && e.filter.isEmpty &&
          e.aggregateFunction.isInstanceOf[DeclarativeAggregate]) =>
      val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
      val buffer = fns.flatMap(_.aggBufferAttributes)
      val init = new InterpretedMutableProjection(fns.flatMap(_.initialValues))
      val update = new InterpretedMutableProjection(fns.flatMap(_.updateExpressions), buffer ++ r.output)
      val evaluate = new InterpretedMutableProjection(fns.map(_.evaluateExpression), buffer)
      val result = new InterpretedMutableProjection(results, keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      val key = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(keys, r.output))
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
      def group(k: UnsafeRow): InternalRow = groups.getOrElse(k, {
        val b = new GenericInternalRow(buffer.size)
        init.target(b)(InternalRow.empty)
        groups(k.copy()) = b
        b
      })
      if (keys.isEmpty) group(key(InternalRow.empty))
      r.data.foreach { row => val b = group(key(row)); update.target(b)(new JoinedRow(b, row)) }
      Some(LocalRelation(a.output, groups.iterator.map { case (k, b) =>
        result(new JoinedRow(k, evaluate(b))).copy() }.toSeq))
    case _ => None
  }

  /** A grouping key type whose `UnsafeRow` bytes are its equality: no
    * floating point (Spark normalizes those in a later batch) and no
    * non-binary collation. */
  private def bytesAreEquality(t: DataType): Boolean = UnsafeRowUtils.isBinaryStable(t) && (t match {
    case FloatType | DoubleType => false
    case ArrayType(e, _) => bytesAreEquality(e)
    case s: StructType => s.fields.forall(f => bytesAreEquality(f.dataType))
    case _ => true
  })

  private def item(g: Attribute, e: NamedExpression): Option[Item] = e match {
    case a: Attribute if a.semanticEquals(g) => Some(GroupKey)
    case Alias(AggregateExpression(fn, Complete, false, None, _), _) => fn match {
      case Count(Seq(l: Literal)) if l.value != null => Some(RowCount)
      case s: Sum if s.dataType == LongType => attr(s.child).map(MeasureSum)
      case v: Average if v.dataType == DoubleType => attr(v.child).map(MeasureAvg)
      case _ => None
    }
    case _ => None
  }

  private def attr(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case _ => None
  }

  private def answer(a: Aggregate): Option[LocalRelation] = for {
    g <- a.groupingExpressions match {
      case Seq(g: Attribute) if g.dataType == StringType => Some(g)
      case _ => None
    }
    (dir, tombstone) <- a.child match {
      case Project(cols, f: Filter) if cols.forall(_.isInstanceOf[Attribute]) => latestScan(f)
      case f: Filter => latestScan(f)
      case _ => None
    }
    if tombstone.name == Sinks.Tombstone
    items <- traverse(a.aggregateExpressions)(item(g, _))
    measures = items.collect { case MeasureSum(m) => m; case MeasureAvg(m) => m }.distinct
    if measures.size <= 1 && measures.forall(m =>
      Seq(ByteType, ShortType, IntegerType).contains(m.dataType))
    s <- Sinks.summary(spark, dir)
    if s.group == g.name && measures.forall(_.name == s.measure)
    rows <- traverse(s.groups.groups.asScala.toSeq) { case (k, acc) => row(items, k, acc) }
  } yield LocalRelation(a.output, rows)

  /** The version directory and tombstone column of a
    * [[Sinks.readLatest]] frame: its null-safe tombstone filter directly
    * over a plain parquet relation on one path. */
  private def latestScan(f: Filter): Option[(Path, Attribute)] = f match {
    case Filter(Not(Coalesce(Seq(t: Attribute, Literal(false, BooleanType)))),
        rel: LogicalRelation) if !rel.isStreaming => rel.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty &&
          fs.options.keySet.subsetOf(Set("path")) && fs.location.rootPaths.size == 1 =>
        Some((fs.location.rootPaths.head, t))
      case _ => None
    }
    case _ => None
  }

  private def row(items: Seq[Item], k: UTF8String, acc: Array[Long]): Option[InternalRow] = {
    val nonNull = acc(GroupSummaryAgg.NonNull)
    val sum = acc(GroupSummaryAgg.Sum)
    traverse(items) {
      case GroupKey => Some(k)
      case RowCount => Some(acc(GroupSummaryAgg.Rows))
      case MeasureSum(_) => Some(if (nonNull == 0) null else sum)
      case MeasureAvg(_) =>
        if (nonNull > ExactAvgRows) None
        else Some(if (nonNull == 0) null else sum.toDouble / nonNull)
    }.map(vs => InternalRow.fromSeq(vs))
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}

object SummaryScan {
  /** One output item of the aggregate. */
  private sealed trait Item
  private case object GroupKey extends Item
  private case object RowCount extends Item
  private final case class MeasureSum(m: Attribute) extends Item
  private final case class MeasureAvg(m: Attribute) extends Item

  /** Most non-null int values per group whose double partial sums are
    * all exact (2^53 / 2^31). */
  val ExactAvgRows: Long = 1L << 22
}
