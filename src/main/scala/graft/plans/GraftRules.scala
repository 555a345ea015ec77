package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Custom logical operator for a single-pass IIR filter (the
  * `lfilter` recurrence, zero initial state) over a (channel, t, v)
  * frame. Declaring the filter as a PLAN NODE instead of eagerly
  * lowering it to the typed kernel is what lets Catalyst SEE filter
  * composition: `FuseIirFilters` merges adjacent nodes by convolving
  * their transfer-function polynomials, and only then does
  * `LowerIirFilters` expand the survivor into the PerChannel
  * secondary-sort kernel — one shuffle + one sequential pass per
  * channel for an arbitrarily long filter cascade (SURVEY §4's
  * candidate rule, landed in r9).
  *
  * Zero-phase (`filtfilt`) filters deliberately do NOT get a node:
  * their edge padding depends on the individual filter's order, so
  * cascade fusion would change values, not just the plan.
  */
case class IirFilter(b: Seq[Double], a: Seq[Double], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  // the kernel consumes EVERY child column — without this,
  // ColumnPruning sees a node with no expressions, decides nothing is
  // referenced, and inserts an empty Project below (observed against
  // a cached child: the lowering's re-analysis then failed on the
  // missing channel column)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): IirFilter =
    copy(child = newChild)
}

object GraftRules {

  /** Polynomial (coefficient) convolution — the transfer function of
    * a cascade: H2(z)·H1(z) has b = b1⊛b2, a = a1⊛a2. Deterministic
    * accumulation order (ascending i, then j).
    */
  def convolve(x: Seq[Double], y: Seq[Double]): Seq[Double] = {
    val out = new Array[Double](x.length + y.length - 1)
    var i = 0
    while (i < x.length) {
      var j = 0
      while (j < y.length) { out(i + j) += x(i) * y(j); j += 1 }
      i += 1
    }
    out.toSeq
  }

  /** Fuse adjacent single-pass IIR filters: two sequential per-channel
    * kernel passes (each a shuffle-free scan over the sorted channel,
    * but a full extra pass over every sample) collapse into ONE pass
    * with the convolved coefficients. In exact arithmetic the cascade
    * and the fused filter are identical; in floats they differ at
    * recurrence-roundoff level, and the oracle replays the FUSED
    * coefficients so the correctness gate checks the plan that
    * actually runs.
    */
  object FuseIirFilters extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case IirFilter(b2, a2, IirFilter(b1, a1, child)) =>
        IirFilter(convolve(b1, b2), convolve(a1, a2), child)
    }
  }

  /** Expand surviving IirFilter nodes into the PerChannel
    * secondary-sort kernel: one shuffle, one sequential pass per
    * channel, so a channel must fit in one task, as for every other
    * PerChannel kernel. Runs AFTER FuseIirFilters in the same rule
    * batch, so a fused cascade lowers exactly once. The replacement
    * subtree's output attributes are re-aliased to the node's original
    * exprIds so parent operators stay resolved.
    *
    * There is no second lowering for channels above one task: no
    * workload comes near that size. A caller that wants the
    * chunk-parallel scan within a channel asks for
    * [[graft.ops.ParallelIIR.lfilterDistributed]] directly.
    */
  object LowerIirFilters extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ IirFilter(b, a, child) =>
        val (bArr, aArr) = (b.toArray, a.toArray)
        val childDf = GraftSqlBridge.dataFrame(SparkSession.active, child)
        val lowered = graft.ops.PerChannel.transformSamples(childDf) {
          (_, ts, vs) => (ts, graft.dsp.IIR.lfilter(bArr, aArr, vs))
        }
        val newPlan = GraftSqlBridge.logicalPlan(lowered)
        Project(f.output.zip(newPlan.output).map { case (orig, n) =>
          Alias(n, orig.name)(exprId = orig.exprId)
        }, newPlan)
    }
  }

  /** Derive scan-pushable time bounds from a filter over a SHIFTED
    * time axis: `between` after `timeshift` optimizes to conjuncts of
    * the form `(t + c) >= s` — an arithmetic predicate no file source
    * can push. This rule ADDS the conservative implied bound
    * `t >= (s − c) − 4ulp` (resp. `<=` + 4ulp): a plain attribute
    * comparison that FileSourceStrategy turns into a parquet
    * PushedFilter (row-group pruning) and the `.ide` scan turns into
    * block pruning — while the original exact predicate stays in
    * place, so values are bit-identical (the widened bound only
    * over-admits rows the exact filter then drops; the slack covers
    * the worst-case rounding of the `t + c` the filter evaluates).
    */
  object PushShiftedTimeBounds extends Rule[LogicalPlan] with PredicateHelper {
    private def loosen(v: Double, up: Boolean, mags: Seq[Double]): Double = {
      val m = (math.abs(v) +: mags.map(math.abs)).max
      val slack = 4 * math.ulp(m)
      if (up) v + slack else v - slack
    }

    private def derive(e: Expression): Option[Expression] = e match {
      case GreaterThanOrEqual(Add(t: AttributeReference, Literal(c: Double, DoubleType), _),
                              Literal(s: Double, DoubleType))
          if java.lang.Double.isFinite(c) && java.lang.Double.isFinite(s) =>
        Some(GreaterThanOrEqual(t, Literal(loosen(s - c, up = false, Seq(s, c)))))
      case GreaterThan(Add(t: AttributeReference, Literal(c: Double, DoubleType), _),
                       Literal(s: Double, DoubleType))
          if java.lang.Double.isFinite(c) && java.lang.Double.isFinite(s) =>
        Some(GreaterThan(t, Literal(loosen(s - c, up = false, Seq(s, c)))))
      case LessThanOrEqual(Add(t: AttributeReference, Literal(c: Double, DoubleType), _),
                           Literal(s: Double, DoubleType))
          if java.lang.Double.isFinite(c) && java.lang.Double.isFinite(s) =>
        Some(LessThanOrEqual(t, Literal(loosen(s - c, up = true, Seq(s, c)))))
      case LessThan(Add(t: AttributeReference, Literal(c: Double, DoubleType), _),
                    Literal(s: Double, DoubleType))
          if java.lang.Double.isFinite(c) && java.lang.Double.isFinite(s) =>
        Some(LessThan(t, Literal(loosen(s - c, up = true, Seq(s, c)))))
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ Filter(cond, child) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val derived = conjuncts.flatMap(derive)
          .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
        if (derived.isEmpty) f
        else Filter(derived.foldLeft(cond)(And), child)
    }
  }

  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(PushShiftedTimeBounds, FuseIirFilters, LowerIirFilters)

  /** Idempotently install the graft optimizer rules on a session.
    * `experimental.extraOptimizations` runs as the optimizer's final
    * batch — late enough that predicate pushdown has already rewritten
    * `between∘timeshift` into the `(t + c) >= s` shape the bounds rule
    * matches, and FileSourceStrategy (physical planning) still picks
    * the added conjunct up for PushedFilters afterwards.
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(r => cur.exists(_ eq r))
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
