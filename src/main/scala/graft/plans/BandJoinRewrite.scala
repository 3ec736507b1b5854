package graft.plans

import org.apache.spark.sql.{DataFrame, GraftDataFrames}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, Generate, HintInfo, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rule: rewrite band joins from the nested loop Spark plans
  * for a non-equi join into a bucketed equi join. A band join is an
  * inner join whose conjunct list holds, in any position and either
  * comparison orientation, the overlap pair
  *
  *   sa <= eb AND sb <= ea      ([sa, ea] from one side, [sb, eb] from the other)
  *
  * over numeric expressions. Both sides explode into the fixed-width
  * buckets their spans cover and join on bucket equality, with the
  * whole original condition as the residual:
  *
  *   a ⋈[cond] b
  *     ⇒ Union(Project(Join(buckets(a), buckets(b), bkt = bkt AND pin AND cond)),
  *             Project(Join(a outside, b, cond)),
  *             Project(Join(a inside, b outside, cond)))
  *
  * A side whose start and end are one expression is a POINT: it takes
  * its one bucket through a Project and is not exploded, so the
  * point-in-interval join `p BETWEEN lo AND hi` is the degenerate case
  * of the same match. Other conjuncts (a key equality, a filter) ride
  * along in the residual, where Catalyst folds equalities into the hash
  * keys.
  *
  * Multiplicity: two intervals that overlap can share many buckets, so
  * the bucketed join keeps a pair only in its CANONICAL bucket, the one
  * holding greatest(sa, sb). That instant lies in both spans exactly
  * when they overlap, so each pair matches once, duplicates in the
  * inputs included, with no dedup. A point has one bucket, so with a
  * point side the pin is implied and left out.
  *
  * Fallback: a row whose span covers more than [[MaxBucketsPerRow]]
  * buckets, or whose span is reversed (s > e; the matcher cannot know
  * the bounds are well formed, and a reversed row can still satisfy
  * the condition), is OUTSIDE and skips the bucketed join. Each
  * interval side gets a plain-join branch that keeps its outside rows
  * (and the inside rows of the interval side before it), so the
  * branches partition the pair space and the rewrite is an identity on
  * results. Every guard filters one side, so a fallback join compares
  * only the outlier rows of one side with the other side, never all
  * pairs. A point side has no branch. Null bounds fail the condition in every branch.
  *
  * Re-application guards: the bucketed join's condition refers to
  * `__graft_`-prefixed attributes, and the rule skips such joins. A
  * fallback join's condition is the band condition itself, so the rule
  * tags it and skips tagged joins.
  *
  * Registered through GraftExtensions (`spark.sql.extensions`) or
  * `spark.experimental.extraOptimizations`; turned off per session with
  * `spark.sql.optimizer.excludedRules=graft.plans.BandJoinRewrite`.
  * Bucket width comes from `spark.graft.bandJoin.bucketWidth` (default
  * 10000.0; pick about the typical span). operators.RangeJoin and
  * operators.IntervalJoin call [[bucketed]] at their own width.
  */
object BandJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** A span over more buckets than this takes the nested-loop branch,
    * so no row explodes without bound whatever the width. */
  val MaxBucketsPerRow = 10000L

  /** Marks a fallback join, whose condition is the band condition
    * itself. Catalyst carries a node's tags through its rewrites of
    * that node. */
  private val Fallback = TreeNodeTag[Unit]("graft.bandJoin.fallback")

  def apply(plan: LogicalPlan): LogicalPlan = {
    val width = SQLConf.get.getConfString("spark.graft.bandJoin.bucketWidth", "10000.0").toDouble
    plan.transform { case j: Join if j.getTagValue(Fallback).isEmpty => rewrite(j, width).getOrElse(j) }
  }

  /** `naive`, a band join such as `a.join(b, a.s <= b.e && b.s <= a.e)`,
    * rewritten at bucket `width`. */
  private[graft] def bucketed(naive: DataFrame, width: Double): DataFrame = {
    val plan = naive.queryExecution.analyzed
    val rewritten = Some(plan).collect { case j: Join => j }.flatMap(rewrite(_, width))
    GraftDataFrames.ofRows(naive.sparkSession, rewritten.getOrElse(
      throw new IllegalArgumentException(s"not a numeric band join: $plan")))
  }

  private def rewrite(join: Join, width: Double): Option[LogicalPlan] = join match {
    case Join(l, r, Inner, Some(cond), hint) => band(cond, l, r).map { case (sa, ea, sb, eb) =>
      val w = Literal(width, DoubleType)
      def bucketOf(e: Expression): Expression = Floor(Divide(Cast(e, DoubleType), w))
      def outside(s: Expression, e: Expression): Expression = {
        val span = Subtract(bucketOf(e), bucketOf(s))
        Or(GreaterThan(span, Literal(MaxBucketsPerRow)), LessThan(span, Literal(0L)))
      }
      def isPoint(s: Expression, e: Expression) = s.semanticEquals(e)
      def buckets(side: LogicalPlan, s: Expression, e: Expression, name: String)
          : (LogicalPlan, Attribute) =
        if (isPoint(s, e)) {
          val b = Alias(bucketOf(s), name)()
          (Project(side.output :+ b, side), b.toAttribute)
        } else {
          val b = AttributeReference(name, LongType, nullable = false)()
          // Sequence is TimeZoneAwareExpression: without a timezone stamp
          // it reports unresolved and fails plan validation (optimizer
          // rules run after the analyzer; nothing re-resolves for us)
          val seq = new Sequence(bucketOf(s), bucketOf(e), Literal(1L))
            .withTimeZone(SQLConf.get.sessionLocalTimeZone)
          (Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(b),
            child = Filter(Not(outside(s, e)), side)), b)
        }
      val (la, aBkt) = buckets(l, sa, ea, "__graft_a_bkt")
      val (rb, bBkt) = buckets(r, sb, eb, "__graft_b_bkt")
      // sa and sb may carry different numeric types, and Greatest needs
      // same-typed children: compare as doubles, as bucketOf does
      val pin =
        if (isPoint(sa, ea) || isPoint(sb, eb)) Nil
        else Seq(EqualTo(aBkt, bucketOf(Greatest(Seq(Cast(sa, DoubleType), Cast(sb, DoubleType))))))
      val bucketJoin = Project(join.output, Join(la, rb, Inner,
        Some((EqualTo(aBkt, bBkt) +: pin :+ cond).reduceRight(And)), hint))
      // The outlier side of a fallback join is broadcast: it holds the
      // few rows a sane width leaves outside, and when it is empty AQE
      // drops the branch before the other side is read or shuffled.
      val outliers = Some(HintInfo(strategy = Some(BROADCAST)))
      def fallback(fl: LogicalPlan, fr: LogicalPlan, hint: JoinHint): LogicalPlan = {
        val j = Join(fl, fr, Inner, Some(cond), hint)
        j.setTagValue(Fallback, ())
        Project(join.output, j)
      }
      // a outside × b, then a inside × b outside: the branches partition
      // the pairs the bucketed join leaves out, and each guard filters
      // one side only
      val aIsInterval = !isPoint(sa, ea)
      val fallbacks =
        (if (aIsInterval) Seq(fallback(Filter(outside(sa, ea), l), r, JoinHint(outliers, None)))
         else Nil) ++
        (if (isPoint(sb, eb)) Nil
         else Seq(fallback(if (aIsInterval) Filter(Not(outside(sa, ea)), l) else l,
           Filter(outside(sb, eb), r), JoinHint(None, outliers))))
      if (fallbacks.isEmpty) bucketJoin else Union(bucketJoin +: fallbacks)
    }
    case _ => None
  }

  /** (sa, ea, sb, eb) of the first overlap pair in `cond`, with [sa, ea]
    * from `l` and [sb, eb] from `r`. */
  private def band(cond: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Expression, Expression)] = {
    val conjs = splitConjunctivePredicates(cond)
    def refsIn(e: Expression, side: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(side.outputSet)
    // `x <= y` with x from `from` and y from `to`
    def le(c: Expression, from: LogicalPlan, to: LogicalPlan): Option[(Expression, Expression)] =
      c match {
        case LessThanOrEqual(x, y) if refsIn(x, from) && refsIn(y, to) => Some((x, y))
        case GreaterThanOrEqual(y, x) if refsIn(x, from) && refsIn(y, to) => Some((x, y))
        case _ => None
      }
    if (cond.references.exists(_.name.startsWith("__graft_"))) None
    else (for {
      c1 <- conjs.iterator; c2 <- conjs.iterator if c1 ne c2
      (sa, eb) <- le(c1, l, r).iterator; (sb, ea) <- le(c2, r, l).iterator
      if Seq(sa, ea, sb, eb).forall(_.dataType.isInstanceOf[NumericType])
    } yield (sa, ea, sb, eb)).nextOption()
  }
}
