package graft.tools
import graft.SparkEntry
import org.apache.spark.sql.SparkSession
/** Physical-plan anti-pattern audit over every declared query.  The
  * audit runs as a failing test (PlanAuditSpec): an unbounded join
  * introduced into any declared query turns CI red instead of waiting
  * for a plan review; `Dev explain` dumps one query's plan. */
object Plans {

  /** Queries whose AQE-off physical plan legitimately contains a
    * BroadcastNestedLoopJoin — every one a BOUNDED broadcast side by
    * construction.  Anything new claiming a slot here needs the same
    * justification written next to its name. */
  val bnljAllowlist: Map[String, String] = Map(
    "x6_ann_topk" -> "broadcast query set (8 rows)",
    "x111_hard_negatives" -> "broadcast anchor set (8 rows)",
    "x40_rp_ann" -> "broadcast query set (8 rows)",
    "x17_ann_ivf" -> "nlist-row centroid codebook",
    "x107_filtered_ann" ->
      "nlist-row centroid codebook (x17 shape, pre-filtered corpus)",
    "x23_source_mix" -> "single-row corpus total",
    "x26_stratified_sample" -> "single-row per-stratum target table",
    "x28_curation_pipeline" -> "single-row corpus total (via x23 shape)",
    "x38_source_divergence" -> "single-row global token total",
    "x43_dataset_card" -> "single-row totals in the component queries",
    "x44_tfidf_keywords" -> "single-row doc-count for the IDF term",
    "x39_curriculum_rank" -> "#partitions-row triangular offset join",
    "x49_pmi_collocations" -> "single-row bigram total for the PMI term",
    "x56_mixture_weights" -> "single-row weight-sum normalizer",
    "x57_curriculum_deciles" -> "single-row corpus count for the decile cut",
    "x59_budget_select" -> "#partitions-row triangular offset join (globalCumSum)",
    "x98_session_occupancy" -> "#partitions-row triangular offset join (globalCumSum)",
    "x67_silent_keys" -> "single-row latest-window bound",
    "x68_source_concentration" -> "single-row corpus token total",
    "st10_embedding_ingest_gate" -> "nlist-row centroid codebook (ivfGate probe)",
    "x124_semantic_decontam" ->
      "nlist-row centroid codebook (x17 shape, bench-side probes)",
    "x79_shard_assign" -> "#partitions-row triangular offset join (globalRank)",
    "x83_dsir_weights" -> "single-row token-total normalizers",
    "x85_quantization_audit" -> "single-row packed min/max span arrays",
    "x84_interleaved_order" -> "#partitions-row triangular offset joins (globalRank x2)",
    "st23_redirect_frontier" ->
      ("single-host collapsed rule table: the lattice's literal host " +
        "constant-folds the equi-join key into the join CONDITION, " +
        "degenerating BHJ to BNLJ over a 1-row broadcast (production " +
        "rule tables carry data-derived hosts and plan BHJ — st21/st22)"))
  // x100/x101/st14 are deliberately absent: the NearestCellExpr kernel
  // keeps the whole clustering family join-free — map-only assignment
  // against a task-serialized codebook, k-row aggregates.

  /** Sweep every declared query's physical plan for anti-pattern nodes.
    * Returns name → hits, where a hit is "CartesianProduct",
    * "BroadcastNestedLoopJoin", or "ERROR <class>" if the plan could
    * not be built.  AQE is forced OFF for the sweep (AdaptiveSparkPlanExec
    * hides children from string-walks, and the literal plan is what the
    * allowlist reasons about) and restored after. */
  def audit(spark: SparkSession, d: String): Map[String, Seq[String]] = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      SparkEntry.queries.map { case (name, fn) =>
        val hits =
          try {
            val text = fn(spark, d).queryExecution.executedPlan.toString
            Seq("CartesianProduct", "BroadcastNestedLoopJoin")
              .filter(text.contains)
          } catch {
            case e: Throwable => Seq(s"ERROR ${e.getClass.getName}")
          }
        name -> hits
      }.filter(_._2.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }
}
