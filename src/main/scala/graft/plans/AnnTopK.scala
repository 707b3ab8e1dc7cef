package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.GraftPlans
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Logical "k nearest neighbours by cosine" operator: the DECLARED intent,
  * with the physical route — exact broadcast top-k, IVF cell probe, or
  * sign-LSH Hamming candidates — chosen at plan time by session conf, not
  * by the query author. This is the whole-operator seam
  * `GraftExtensions`' scaladoc reserves: the query says WHAT (top-k
  * neighbours of these ids), the session says HOW (`spark.graft.ann.mode`
  * = `exact` | `ivf` | `lsh`), the same way `spark.sql.autoBroadcastJoinThreshold`
  * moves a join between broadcast and shuffle without touching the query.
  *
  * `exact` (the default) is result-identical to [[graft.vector.Vectors.topK]];
  * the approximate modes trade recall (bounded by AnnRecallSpec) for the
  * sub-linear scan the 100 TB corpus requires. Because the approximate
  * routes return DIFFERENT rows, the mode is an explicit operator-level
  * opt-in — a rule that silently rewrote the exact plan would change
  * results behind a correctness contract, which is why this is a new
  * logical node and NOT a rewrite matched onto q62's exact plan.
  *
  * Output schema (all routes): (q_id BIGINT, vec_id BIGINT, cos_r DOUBLE,
  * rn INT), `rn` = 1..k rank within each query id.
  */
case class AnnTopK(queryIds: Seq[Int], k: Int, child: LogicalPlan)
    extends UnaryNode {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("q_id", LongType)(),
    AttributeReference("vec_id", LongType)(),
    AttributeReference("cos_r", DoubleType)(),
    AttributeReference("rn", IntegerType)())
  override protected def withNewChildInternal(newChild: LogicalPlan): AnnTopK =
    copy(child = newChild)
}

/** Analysis-time macro expansion of [[AnnTopK]] (injected via
  * `GraftExtensions.injectResolutionRule`): substitutes the conf-selected
  * route's logical plan, with a pinning [[Project]] so the node's declared
  * attribute ids survive — operators already referencing the node's output
  * keep resolving against the expansion.
  *
  * The expansion builds the route through the public `Vectors` API on a
  * DataFrame re-wrapped around the child plan. For `ivf`, set
  * `spark.graft.ann.dir` to the corpus dir to probe the ingest-staged
  * index (`VectorIndex.ivf` — the deployment shape: no training, no
  * persist at declaration); without it the rule falls back to live
  * training, which runs a bounded-sample k-means during analysis of the
  * declaring query over annIvf's materialized norm projection, whose
  * blocks are freed once the expanded plan is dropped.
  */
case class ExpandAnnTopK(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case n: AnnTopK if n.childrenResolved =>
      val emb = GraftPlans.ofRows(spark, n.child)
      val route = spark.conf.get("spark.graft.ann.mode", "exact") match {
        case "exact" => graft.vector.Vectors.topK(emb, n.queryIds, n.k)
        case "ivf" =>
          // with spark.graft.ann.dir naming the corpus dir, probe the
          // ingest-staged index (VectorIndex.ivf: centroids + cell
          // labels) — no training, no persist at declaration; without
          // it, fall back to live training (annIvf's documented
          // analysis-time cost + caller-cleanup contract)
          spark.conf.getOption("spark.graft.ann.dir") match {
            case Some(dir) => graft.vector.Vectors.annIvfStaged(
              emb, n.queryIds, n.k,
              coarse = graft.vector.VectorIndex.ivf(spark, dir))
            case None => graft.vector.Vectors.annIvf(emb, n.queryIds, n.k)
          }
        case "lsh"   => graft.vector.Vectors.annLsh(emb, n.queryIds, n.k)
        case other => throw new IllegalArgumentException(
          s"spark.graft.ann.mode must be exact|ivf|lsh, got '$other'")
      }
      val expanded = route.queryExecution.analyzed
      Project(expanded.output.zip(n.output).map { case (from, to) =>
        Alias(from, to.name)(exprId = to.exprId)
      }, expanded)
  }
}

object AnnTopK {
  /** Declare the logical operator over an embeddings frame
    * (`vec_id` + `embedding` columns, the q62 family's input contract). */
  def apply(emb: DataFrame, queryIds: Seq[Int], k: Int): DataFrame =
    GraftPlans.ofRows(emb.sparkSession,
      AnnTopK(queryIds, k, emb.queryExecution.analyzed))
}
