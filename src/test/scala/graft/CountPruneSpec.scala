package graft

/** Bench-honesty sweep (round-12 finding, generalized): the bench
  * metric is `.count()`, and Catalyst legitimately optimizes pure-
  * cardinality consumers — unique-keyed outer joins drop their
  * non-driving side, Distinct-over-left-keys drops the right side
  * entirely. When the dropped subtree IS the operator's kernel, the
  * benchmark times a hollowed plan (q_stream_simhash_dedup was read
  * at 0.25 s where the kernel costs 16.5 s at x10 — fixed by making
  * the stateful output the only doc_id source).
  *
  * This spec runs the leaf-survival sweep over EVERY graded query: a
  * scan leaf present in the query's own optimized plan must survive
  * its count() plan, except for the adjudicated allowlist below. A new
  * query that hollows under count() fails here before it ships a
  * flattering bench row.
  */
class CountPruneSpec extends SparkSpec {

  /** Adjudicated exceptions — each one is a case where the count-plan
    * prune does NOT hide the operator's cost:
    *  - q_sim_mmr, q_text_bpe_train: the pruned leaf is a driver-built
    *    LocalRelation (greedy MMR picks; learned merges) whose cost is
    *    paid at DataFrame CONSTRUCTION (bounded driver loops) — the
    *    bench stopwatch starts before construction, so the work is
    *    still inside the timed window.
    *  - q_source_dsv2, q_source_dsv2_agg: count answered from DSv2
    *    metadata IS the graded feature (COMPLETE aggregate pushdown);
    *    the verify path materializes real rows.
    *  - q_join_left, q_ts_resample, q_sql_recursive: a unique-keyed
    *    outer-join value side is skipped for a pure-cardinality
    *    consumer — Catalyst working as designed; the joins' value
    *    semantics are hash-verified by the oracle on materialized
    *    parquet, and the join FAMILY's bench cost is carried by the
    *    non-prunable rows (inner/full/semi/anti). These rows' count
    *    numbers have had this shape since round 1, so round-over-round
    *    comparisons are like-for-like.
    */
  private val adjudicated = Set(
    "q_sim_mmr", "q_text_bpe_train",
    "q_source_dsv2", "q_source_dsv2_agg",
    "q_join_left", "q_ts_resample", "q_sql_recursive")

  test("no graded query loses a plan leaf under count() outside the adjudicated set") {
    val dir = "/root/testdata/sf0.001"
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (PlanLeaves.prunedUnderCount(fn(spark, dir)).nonEmpty
          && !adjudicated.contains(name)) offenders += name
      spark.catalog.clearCache()
      api.ResultCache.clear()
    }
    assert(offenders.isEmpty,
      s"queries hollowed under count() without adjudication: $offenders")
  }
}
