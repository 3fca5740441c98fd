package graft.plans

import graft.functions.VectorDistance
import graft.operators.Similarity
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, In, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData

/** ANN probe rewrite — the optimizer half of the IVF index (SURVEY §4.3
  * item 3): when a query is
  *
  *   ORDER BY vector_l2sq(embedding, <literal query vector>) LIMIT k
  *
  * over a collection that carries a `cell_id` column (written by
  * `Similarity.withCellId`) whose centroids are registered in
  * [[AnnCatalog]], inject `WHERE cell_id IN (<nprobe nearest cells>)`
  * below the sort. The top-k machinery (TakeOrderedAndProject) is
  * untouched — the rewrite only shrinks the scanned fraction to
  * ~nprobe/ncells, which is the difference between scanning 100 TB and
  * scanning a few TB. Results become approximate in exactly the IVF sense
  * (documented, opt-in via registration).
  *
  * Probe-cell selection runs at optimization time on the driver —
  * centroids are ncells x dim floats.
  *
  * Registration is PER SparkSession (weak-keyed, so a dropped session
  * cannot pin its centroids) and meant to be scoped: use
  * [[AnnProbe.withProbe]], which registers the rule + centroids and
  * removes both in a finally block, so no later query in the session can
  * be silently rewritten to an approximate scan and concurrent sessions
  * never see each other's centroids.
  */
object AnnCatalog {
  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (Array[(Int, Array[Float])], Int)]())

  /** Register a session's IVF centroids (+ nprobe). */
  def register(spark: SparkSession, cents: Array[(Int, Array[Float])], nprobe: Int): Unit =
    bySession.put(spark, (cents, nprobe))

  def clear(spark: SparkSession): Unit = bySession.remove(spark)

  def get(spark: SparkSession): Option[(Array[(Int, Array[Float])], Int)] =
    Option(bySession.get(spark))
}

object AnnProbe {
  // one lock object per session (weak-keyed like AnnCatalog): concurrent
  // withProbe scopes on the SAME session would otherwise race on the
  // catalog registration + extraOptimizations mutation. synchronized is
  // JVM-reentrant, so same-thread nesting still works (and restores the
  // outer scope's centroids, see below); different threads serialize.
  private val locks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Object]())
  private def lockFor(spark: SparkSession): Object =
    locks.computeIfAbsent(spark, _ => new Object)

  /** Run `body` with the probe rule + centroids registered for `spark`,
    * and deterministically unregister both afterwards. Any DataFrame that
    * should be rewritten must be EXECUTED inside `body` — the optimizer
    * runs at action time, not definition time.
    */
  def withProbe[T](spark: SparkSession, cents: Array[(Int, Array[Float])],
                   nprobe: Int)(body: => T): T = lockFor(spark).synchronized {
    val hadRule = spark.experimental.extraOptimizations.contains(AnnProbeRule)
    if (!hadRule)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AnnProbeRule
    // reentrancy: a nested scope restores the OUTER scope's centroids on
    // exit instead of clearing them (and never removes a rule it did not
    // add — hadRule is true inside a nested scope)
    val prev = AnnCatalog.get(spark)
    AnnCatalog.register(spark, cents, nprobe)
    try body
    finally {
      prev match {
        case Some((c, n)) => AnnCatalog.register(spark, c, n)
        case None => AnnCatalog.clear(spark)
      }
      if (!hadRule)
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations.filterNot(_ == AnnProbeRule)
    }
  }
}

object AnnProbeRule extends Rule[LogicalPlan] {

  private def literalVec(e: Expression): Option[Array[Float]] = e match {
    case Literal(a: ArrayData, t) if t.sql.startsWith("ARRAY<FLOAT>") => Some(a.toFloatArray())
    case _ => None
  }

  private def cellAttr(plan: LogicalPlan): Option[Attribute] =
    plan.output.find(_.name == "cell_id")

  /** Resolve the query vector behind the sort key: either the distance
    * expression inline in the SortOrder, or an attribute whose alias in
    * the child Project is the distance expression (the
    * `withColumn("distance", ...).orderBy("distance")` shape).
    */
  private def queryVecOf(key: Expression, child: LogicalPlan): Option[Array[Float]] =
    key match {
      case VectorDistance(_, qv, "l2sq") => literalVec(qv)
      case a: Attribute => child match {
        case p: Project => p.projectList.collectFirst {
          case al @ Alias(VectorDistance(_, qv, "l2sq"), _) if al.exprId == a.exprId => literalVec(qv)
        }.flatten
        case _ => None
      }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    SparkSession.getActiveSession.flatMap(AnnCatalog.get) match {
      case None => plan
      case Some((cents, nprobe)) =>
        // one probe-filter construction for every matched shape: the
        // FIRST sort key must be the ascending literal-vector distance;
        // trailing keys (a deterministic id tiebreak) ride along
        // untouched — requiring a single-key sort would force callers
        // to choose between the rewrite and tie determinism
        def probeFilter(key: Expression, child: LogicalPlan): Option[Filter] =
          if (cellAttr(child).isEmpty || alreadyProbed(child)) None
          else queryVecOf(key, child).map { qv =>
            Filter(In(cellAttr(child).get,
              Similarity.probeCells(qv, cents, nprobe).map(c => Literal(c))), child)
          }
        plan.transformUp {
          case g @ GlobalLimit(_, l @ LocalLimit(_,
              s @ Sort(SortOrder(key, Ascending, _, _) +: _, true, child, _)))
              if probeFilter(key, child).isDefined =>
            g.copy(child = l.copy(child = s.copy(child = probeFilter(key, child).get)))
          // the `.orderBy(dist).limit(k).select(cols)` shape: column
          // pruning pushes the SELECT between the limit and the sort, so
          // the limit's child is Project(Sort(...)) — without this case
          // the most natural user spelling silently runs UNREWRITTEN
          // (exact full scan; right answer, none of the probe speedup)
          case g @ GlobalLimit(_, l @ LocalLimit(_, p @ Project(_,
              s @ Sort(SortOrder(key, Ascending, _, _) +: _, true, child, _))))
              if probeFilter(key, child).isDefined =>
            g.copy(child = l.copy(child = p.copy(
              child = s.copy(child = probeFilter(key, child).get))))
        }
    }

  // idempotence under the fixed-point batch: don't re-inject when ANY
  // filter in the subtree already probes cell_id (pushdown may have moved
  // the injected filter below a Project by the next iteration)
  private def alreadyProbed(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(cond, _) => cond.exists {
      case In(a: Attribute, _) => a.name == "cell_id"
      case _ => false
    }
    case _ => false
  }
}

/** `SparkSession.builder().withExtensions(new GraftExtensions)` — injects
  * the ANN probe rewrite as an optimizer rule (inert unless the session
  * has centroids registered in [[AnnCatalog]]) and the SQL function
  * surface of [[graft.functions.GraftFunctions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => AnnProbeRule)
    graft.functions.GraftFunctions.all.foreach { case (n, b) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(n),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", n),
        b))
    }
  }
}
