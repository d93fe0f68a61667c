package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** The banded tolerance join, decided once for its two entry points,
  * `BandedRangeJoinRule` (Catalyst) and `Graft.bandedToleranceJoin`
  * (DataFrames): both sides are cut into width-d bins, each left row is
  * copied to its bins -1, 0 and +1, and the join is EQUI on (keys...,
  * bin) with `|r - l| <= d` as a residual INSIDE the join condition.
  * Lossless: intervals of width >= d put two points within d into the
  * same or adjacent intervals. This is the bucket-then-residual
  * candidate generation of approximate geospatial joins (ICDE 2018) and
  * the range-join binning of Databricks SQL and Flink interval joins,
  * for the engine's tolerance matches (SURVEY.md §2.4: time
  * ±TIME_DELTA, depth ±DEPTH_DELTA).
  *
  * Bins are computed in the OPERANDS' OWN type, so bin and residual
  * never disagree: integral operands with integral division (a
  * double-cast bin misplaces values beyond 2^53 and drops rows),
  * float/double in double (their residual evaluates in double),
  * timestamps on exact epoch micros. DecimalType has no bin (a double
  * bin could misplace high-precision values).
  */
object Band {

  /** The one reserved name of the bin column, on both sides. */
  val BinCol = "_graft_bin"

  /** Bin function in the operand's own type space (None = unsupported
    * type). Integral/timestamp bins use truncating integral division:
    * its intervals all have width >= ceil(d) (the one around zero is
    * wider), which keeps the ±1 expansion lossless. */
  def binFn(t: DataType, d: Double): Option[Expression => Expression] = {
    val w = Literal(math.max(math.ceil(d).toLong, 1L))
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(x => new IntegralDivide(Cast(x, LongType), w))
      case DoubleType | FloatType => Some(x => Floor(Divide(Cast(x, DoubleType), Literal(d))))
      case TimestampType => Some(x => new IntegralDivide(UnixMicros(x), w)) // d in micros
      case TimestampNTZType =>
        // fixed UTC zone, NOT the session zone: NTZ residuals evaluate in
        // wall-clock space, and a DST-observing session zone folds an
        // hour at fall-back — two rows within tolerance straddling the
        // transition would land >1 bin apart and be silently dropped.
        Some(x => new IntegralDivide(UnixMicros(Cast(x, TimestampType, Some("UTC"))), w))
      case _ => None
    }
  }

  /** `|r - l| <= d` for numeric operands of type `t`, with d in that
    * type when integral: an integral difference is within d exactly when
    * it is within floor(d), and no double cast rounds it. */
  def residual(t: DataType, l: Expression, r: Expression, d: Double): Expression =
    LessThanOrEqual(Abs(Subtract(r, l)), t match {
      case ByteType | ShortType | IntegerType | LongType => Literal(math.floor(d).toLong)
      case _ => Literal(d)
    })

  /** The ±1 expansion of a left row's bin. */
  def expand(bin: Expression): Generator =
    Explode(CreateArray(Seq(Subtract(bin, Literal(1L)), bin, Add(bin, Literal(1L)))))

  /** Whether `g` is an [[expand]] of a bin. */
  def isExpansion(g: Generator): Boolean = g match {
    case Explode(CreateArray(Seq(
        Subtract(b1, Literal(1L, LongType), _), b2, Add(b3, Literal(1L, LongType), _)), _)) =>
      (b2 match {
        case Floor(Divide(_, _: Literal, _)) => true
        case d: IntegralDivide => d.right.isInstanceOf[Literal]
        case _ => false
      }) && b1.semanticEquals(b2) && b3.semanticEquals(b2)
    case _ => false
  }

  /** The join condition: the caller's conjuncts (residual included) AND
    * bin equality. Keeping the residual in the condition is what makes a
    * LEFT join null-extend an unmatched band row instead of dropping it,
    * and keeps the rule's join away from predicate pushdown. */
  def condition(conjuncts: Seq[Expression], lBin: Expression, rBin: Expression): Expression =
    (conjuncts :+ EqualTo(lBin, rBin)).reduce(And)
}

/** Optimizer rule: rewrite tolerance range joins into the [[Band]] join.
  *
  * A join whose condition contains `abs(l - r) <= d` (l from the left
  * side, r from the right, d a positive literal) would plan as a
  * cartesian/nested-loop product, or — with extra equi keys — as an
  * equi-join whose per-key candidate set is the key's WHOLE range. The
  * rule bands it from that natural predicate, which stays the residual
  * (so null semantics are preserved); `Graft.bandedToleranceJoin` builds
  * the same join from DataFrame columns.
  *
  * Enable with `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Scope guards: inner joins; operands of one type [[Band.binFn]] bins;
  * `d > 0`; fires once (guarded by a STRUCTURAL check for a band
  * Generate feeding the join, whoever built it — a user column that
  * merely shares the bin name cannot disable it). Supported value
  * domain: `l - r` must not overflow long for integral operands with
  * ANSI off (a wrapped subtraction satisfies the residual but lands in
  * distant bins).
  */
object BandedRangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Positive tolerance literal: plain numerics for numeric operands,
    * day-time intervals (micros) for timestamp operands. */
  private def tolLit(e: Expression): Option[Double] = e match {
    case Literal(v: Number, _: NumericType) if v.doubleValue() > 0 => Some(v.doubleValue())
    case Literal(v: Long, _: DayTimeIntervalType) if v > 0 => Some(v.toDouble)
    case _ => None
  }

  /** Matches abs(a - b) <= d / d >= abs(a - b) with a, b single-sided.
    * Timestamp subtraction analyzes to SubtractTimestamps with an
    * interval result, so both operand shapes are matched. */
  private def toleranceConjunct(
      c: Expression, left: LogicalPlan, right: LogicalPlan): Option[(Expression, Expression, Double)] = {
    def sides(a: Expression, b: Expression): Option[(Expression, Expression)] =
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some((a, b))
      else if (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
        Some((b, a))
      else None
    def operands(abs: Expression): Option[(Expression, Expression)] = abs match {
      case Abs(Subtract(a, b, _), _)          => Some((a, b))
      case Abs(SubtractTimestamps(a, b, _, _), _) => Some((a, b))
      case _                                  => None
    }
    val bound = c match {
      case LessThanOrEqual(absE, d)    => Some((absE, d))
      case GreaterThanOrEqual(d, absE) => Some((absE, d))
      case _                           => None
    }
    for ((absE, d) <- bound; dd <- tolLit(d); (a, b) <- operands(absE); (l, r) <- sides(a, b))
      yield (l, r, dd)
  }

  /** Attributes produced by a band Generate anywhere under `plan`. A
    * join whose condition references one was already banded — the
    * STRUCTURAL form of the guard, so a user column named like the
    * generated attribute cannot suppress the rule, and other rules
    * renaming attributes cannot re-trigger it. The guard matters because
    * `injectOptimizerRule` places user rules in FIXED-POINT batches that
    * also run predicate pushdown — without it, the rule and
    * PushDownPredicates ping-pong (each iteration re-banding the same
    * join) until max-iterations, stacking Generates. */
  private def bandGeneratedAttrs(plan: LogicalPlan): AttributeSet = AttributeSet(
    plan.collect { case g: Generate if Band.isExpansion(g.generator) => g.generatorOutput }
      .flatten)

  private def alreadyBanded(j: Join): Boolean =
    j.condition.exists(_.references.intersect(bandGeneratedAttrs(j.left)).nonEmpty)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) if !alreadyBanded(j) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val banded = for {
        (l, r, d) <- conjuncts.iterator.flatMap(toleranceConjunct(_, left, right)).nextOption()
        if l.dataType == r.dataType
        bin <- Band.binFn(l.dataType, d)
      } yield {
        val binAttr = AttributeReference(Band.BinCol, LongType, nullable = true)()
        val gen = Generate(Band.expand(bin(l)), unrequiredChildIndex = Nil, outer = false,
          qualifier = None, generatorOutput = Seq(binAttr), child = left)
        val rBin = Alias(bin(r), Band.BinCol)()
        val newCond = Band.condition(conjuncts, binAttr, rBin.toAttribute)
        Project(j.output, Join(gen, Project(right.output :+ rBin, right), Inner, Some(newCond), hint))
      }
      banded.getOrElse(j)
  }
}

/** `spark.sql.extensions` entry point installing the engine's rules. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => BandedRangeJoinRule)
}
