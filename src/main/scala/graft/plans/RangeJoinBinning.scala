package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Plan-embedded trigger for [[RangeJoinBinning]]: a no-op marker
  * carrying the bin width, attached to the INTERVAL side of a join via
  * [[RangeJoinBinning.withBinWidth]]. Unlike the session conf (which
  * can't scope to one lazily-executed query on a shared session), the
  * marker travels WITH the plan, so a library query can opt into the
  * rewrite without leaking the setting to every other join on the
  * session. A hint-triggered join may also carry ordinary equi keys
  * (the common production shape: per-key point-in-window); the bin
  * equality then joins the key list and the range stays a residual.
  * The rule strips every marker it sees, matched or not.
  */
case class RangeBinHint(width: Long, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): RangeBinHint =
    copy(child = newChild)
}

/** Optimizer rule: rewrite a pure point-in-interval join into a
  * binned equi-join.
  *
  * A join whose ONLY cross-side predicates are range bounds —
  *
  *   events.join(intervals, $"ts" >= $"lo" && $"ts" <= $"hi")
  *
  * — has no equi-key, so Spark plans a nested-loop join: every
  * point×interval pair is tested, O(|P|·|I|), and one side must fit
  * in memory. The standard fix (the hand-written q47/q83 shape) is
  * binning: chop the domain into width-W bins, explode each interval
  * to the bins it overlaps, tag each point with its bin, equi-join on
  * the bin, and re-check the exact bounds as a residual. Cost drops to
  * O(|P| + Σ interval_width/W) shuffled rows — a plan that scales out
  * instead of up. This rule performs that rewrite automatically:
  *
  *  - trigger: session conf `spark.graft.rangejoin.bin` set to a
  *    positive bin width (in the unit of the join columns); unset/0
  *    disables the rule. The width is a physical-layout decision
  *    (interval span vs point density), deliberately a conf, not an
  *    estimate — the same contract as AQE's advisory sizes.
  *  - match: INNER join, no usable equi-predicate (those already
  *    shuffle fine), and a conjunction containing `x ≥/> lo` and
  *    `x ≤/< hi` where x is integral and references one side only,
  *    lo/hi the other side only.
  *  - soundness: truncating division is monotone, so x ∈ [lo, hi]
  *    implies bin(x) ∈ [bin(lo), bin(hi)]; the interval side emits
  *    every bin in that range exactly once, so each qualifying pair
  *    meets on EXACTLY one bin (no dedup needed) and the residual
  *    original condition drops non-qualifying bin cohabitants.
  *    Strict bounds only widen the exploded range — still sound.
  *  - idempotence: the rewritten join HAS an equi-predicate (bin =
  *    bin), so the rule never matches its own output.
  */
object RangeJoinBinning extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.rangejoin.bin"

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType => true
    case _ => false
  }

  /** (point, lo, hi, pointOnLeft) for the first usable range pattern. */
  private def rangePattern(conjuncts: Seq[Expression],
                           left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    def sideOf(e: Expression): Option[Boolean] = {
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(left.outputSet)) Some(true)
      else if (refs.subsetOf(right.outputSet)) Some(false)
      else None
    }
    // normalize every comparison to (smaller, larger)
    val lowerBounds = conjuncts.collect {
      case GreaterThanOrEqual(a, b) => (b, a) // b <= a
      case LessThanOrEqual(a, b) => (a, b)
      case GreaterThan(a, b) => (b, a)
      case LessThan(a, b) => (a, b)
    }
    // a point expr x bounded below by lo (other side) and above by hi
    // (other side): (lo, x) and (x, hi)
    val candidates = for {
      (lo, x1) <- lowerBounds
      (x2, hi) <- lowerBounds
      if x1.semanticEquals(x2) && integral(x1)
      xSide <- sideOf(x1)
      loSide <- sideOf(lo)
      hiSide <- sideOf(hi)
      if loSide != xSide && hiSide != xSide
    } yield (x1, lo, hi, xSide)
    candidates.headOption
  }

  private def hasEquiKey(conjuncts: Seq[Expression],
                         left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet) && a.references.nonEmpty &&
          b.references.nonEmpty) ||
        (a.references.subsetOf(right.outputSet) &&
          b.references.subsetOf(left.outputSet) && a.references.nonEmpty &&
          b.references.nonEmpty)
      case _ => false
    }

  private def binOf(e: Expression, w: Long): Expression =
    IntegralDivide(Cast(e, LongType), Literal(w))

  /** Attach a [[RangeBinHint]] to the INTERVAL side of an upcoming
    * join and make sure the rule is installed on the frame's session
    * (idempotently — works on sessions built without the extension
    * config). The hint scopes to the nearest enclosing inner join of
    * the wrapped frame.
    */
  def withBinWidth(df: DataFrame, width: Long): DataFrame = {
    require(width > 0, s"bin width must be positive, got $width")
    val spark = df.sparkSession
    spark.experimental.extraOptimizations =
      (spark.experimental.extraOptimizations :+ RangeJoinBinning).distinct
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      RangeBinHint(width, org.apache.spark.sql.GraftPlanBridge.analyzed(df)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // lazy: only a candidate join without a hint reads the conf
    lazy val confWidth = {
      val raw = conf.getConfString(ConfKey, "0")
      raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$ConfKey must be an integer bin width, got '$raw'"))
    }
    def hintOf(p: LogicalPlan): Option[Long] =
      p.collectFirst { case RangeBinHint(w, _) => w }
    val rewritten = plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && {
            val cj = splitConjuncts(cond)
            val hinted = hintOf(left).orElse(hintOf(right))
            val width = hinted.getOrElse(confWidth)
            // conf trigger keeps the original no-equi-key scope (those
            // joins already shuffle fine without help); an explicit
            // hint is the author declaring the range is the scale
            // hazard even alongside equi keys
            width > 0L && (hinted.isDefined || !hasEquiKey(cj, left, right)) &&
              rangePattern(cj, left, right).isDefined
          } =>
        val width = hintOf(left).orElse(hintOf(right)).getOrElse(confWidth)
        val Some((x, lo, hi, pointOnLeft)) =
          rangePattern(splitConjuncts(cond), left, right)
        // strip markers from BOTH children here, not only in the final
        // global pass: transformDown descends into the rewritten join,
        // and a still-present hint would re-fire the rewrite forever
        // (the bin-equality idempotence guard only protects the conf
        // path)
        def strip(p: LogicalPlan): LogicalPlan =
          p.transformUp { case RangeBinHint(_, c) => c }
        val (pointPlan, intervalPlan) =
          if (pointOnLeft) (strip(left), strip(right))
          else (strip(right), strip(left))
        // interval side: explode sequence(bin(lo), bin(hi)). Sequence
        // is TimeZoneAware — an optimizer-injected instance must carry
        // the session zone itself (ResolveTimeZone ran long ago).
        // Inverted/dirty intervals (lo > hi) match NOTHING in the
        // original nested-loop plan, but would make Sequence throw
        // "Illegal sequence boundaries" here — drop them up front.
        // (NULL bounds fall out the same way: the <= filter is
        // null-rejecting, matching the original predicate's behavior.)
        // Intervals wider than ~128M bins would still exceed Spark's
        // max array length: the conf width is a layout decision and
        // must be sized to the data's interval span (PLANS.md).
        val loBin = binOf(lo, width)
        val hiBin = binOf(hi, width)
        val cleaned = Filter(LessThanOrEqual(loBin, hiBin), intervalPlan)
        val seq = Sequence(loBin, hiBin,
          Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
        val gen = Explode(seq)
        val binI = AttributeReference("__graft_bin_i", LongType,
          nullable = false)()
        val generated = Generate(gen, unrequiredChildIndex = Nil,
          outer = false, qualifier = None,
          generatorOutput = Seq(binI), child = cleaned)
        // point side: project bin(x) alongside
        val binP = Alias(binOf(x, width), "__graft_bin_p")()
        val projected = Project(pointPlan.output :+ binP, pointPlan)
        val (newLeft, newRight) =
          if (pointOnLeft) (projected, generated) else (generated, projected)
        val newCond = And(EqualTo(binP.toAttribute, binI), cond)
        Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
    }
    // strip every marker — matched joins carry it inside their rewritten
    // interval subtree, unmatched frames must not reach physical
    // planning with an unknown node
    rewritten.transformUp { case RangeBinHint(_, child) => child }
  }
}
