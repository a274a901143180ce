package graft.api

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * clustering primitive a training-data pipeline uses for SemDeDup-style
  * corpus partitioning and for IVF coarse quantizer training, exposed
  * as a first-class operator.
  *
  * Engine-exact by construction (the property that lets the DuckDB
  * oracle replay it hash-identically): every vector is quantized to
  * integer-valued doubles (`floor(x * scale)`) before any arithmetic,
  * so squared distances, centroid sums, and inertia are EXACT integer
  * arithmetic carried in doubles (products ≤ dim·scale² ≈ 6.4e7 per
  * element at dim 64, sums far below 2^53) — no accumulation-order or
  * libm drift anywhere. Centroid updates re-quantize with
  * `floor(sum / n)` (one IEEE division of exact operands, identical in
  * any engine). Ties in the nearest-centroid argmin break to the
  * smaller cluster id via struct ordering.
  *
  * 100 TB shape (the reason this is Lloyd's and not a fancier variant):
  * each round is one map pass (k codegen'd [[graft.plans.DoubleArrayDot]]
  * products per row against BROADCAST centroid literals — k·dim doubles
  * of plan state, never a join) plus one k-row aggregate (dim separate
  * codegen'd double sums with map-side partial merge, so the exchange
  * carries one dim-wide partial per (cluster, task) and the whole pass
  * stays primitive — no boxed per-row arrays). Driver
  * traffic is the k×dim centroid model per round — the same bounded
  * model-only `collect()` contract as the IVF codebooks
  * (api.Similarity). Rows shuffle exactly once per recompute, keyed by
  * cluster id (k ≪ partitions; the aggregate is the tiny side).
  */
object Clustering {

  /** Assign every row to its nearest of k centroids after `rounds`
    * Lloyd assignment passes (centroids recomputed between passes;
    * `rounds` = 1 is plain nearest-neighbor to the seed centroids).
    * Seeds are the vectors of the k smallest ids (deterministic,
    * portable); cluster id = rank of the seed in id order (0-based).
    *
    * Returns (idCol, cluster, dist): dist is the EXACT squared L2
    * distance in the quantized integer space to the final round's
    * centroid.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, rounds: Int, scale: Double = 1000.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    // plan-keyed handle memo (round-15, the clusterPairs idiom): the
    // fit is a driver-side loop (seed collect + one centroid collect
    // per round + the checkpoint materialization) that plan caching
    // cannot deduplicate — a repeat call re-ran all 7 jobs. The memo
    // returns the checkpointed assignment handle; its blocks are tiny
    // (three narrow columns) and ContextCleaner-tracked. Validity
    // probes block liveness (round-15 ADVICE): localCheckpoint blocks
    // do not survive executor loss and have no lineage to recompute
    // through, so a lost block must invalidate the entry and rebuild —
    // the probe is a driver-side block-manager lookup, zero jobs.
    ResultCache.memo[DataFrame]("kmeansAssign", df, idCol, vecCol, k, rounds, scale)(
        d => org.apache.spark.sql.GraftExpressionBridge.localCheckpointAlive(d)) {
      // quantize + self-dot in ONE codegen'd pass per row — the HOF
      // transform lambda this replaces was interpreted (64 closure calls
      // per row) and dominated the 1M-vector assignment pass
      val vecs = df
        .select(col(idCol).as("__id"),
          org.apache.spark.sql.GraftExpressionBridge.column(
            graft.plans.DoubleArrayQuantizeFloor(
              org.apache.spark.sql.GraftExpressionBridge.expression(col(vecCol)),
              scale)).as("__q"))
        .withColumn("__xx", VectorFunctions.dotFast(col("__q"), col("__q")))
        .cache()

      // Seed centroids: the k smallest ids, labeled by rank in id order.
      var centroids: Array[(Int, Array[Double])] =
        vecs.orderBy(col("__id")).limit(k).collect().zipWithIndex.map {
          case (r, i) => (i, r.getSeq[Double](1).toArray)
        }

      var assigned: DataFrame = null
      for (round <- 1 to rounds) {
        // dist²(x, c) = |x|² − 2·x·c + |c|²; |c|² folds to a literal.
        val cands = array(centroids.toSeq.map { case (cl, c) =>
          val cc = c.map(v => v * v).sum
          struct(
            (col("__xx")
              - lit(2.0) * VectorFunctions.dotFast(col("__q"), typedLit(c.toSeq))
              + lit(cc)).as("d"),
            lit(cl).as("c"))
        }: _*)
        assigned = vecs
          .withColumn("__best", array_min(cands))
          .select(col("__id"), col("__q"),
            col("__best").getField("c").as("cluster"),
            col("__best").getField("d").as("dist"))
        if (round < rounds) {
          // element-wise centroid sums as dim SEPARATE codegen'd double
          // aggregates (whole-stage, primitive) — the typed Aggregator
          // alternative deserializes a boxed Seq[Double] per row (64M
          // boxes per pass at 1M×64), measured as a GC storm at x100
          val dim = centroids.head._2.length
          val sums = (0 until dim).map(i =>
            sum(element_at(col("__q"), i + 1)).as(s"s$i")) :+ count(lit(1)).as("n")
          centroids = assigned
            .groupBy(col("cluster"))
            .agg(sums.head, sums.tail: _*)
            .collect()
            .map { r =>
              val n = r.getLong(dim + 1).toDouble
              (r.getInt(0), Array.tabulate(dim)(i => math.floor(r.getDouble(i + 1) / n)))
            }
            .sortBy(_._1)
        }
      }
      // Release the quantized-corpus cache before returning (review
      // finding: the handle is internal, so a long-lived session calling
      // this repeatedly would otherwise pin ~raw-data-sized executor
      // storage per call with no way to free it). The final assignment —
      // three narrow columns, no vectors — is materialized eagerly via
      // localCheckpoint first so the last pass still reads the cache;
      // checkpoint blocks are reference-tracked by the ContextCleaner
      // and self-release when the result goes out of scope, unlike
      // CacheManager entries. (Same durability trade as the
      // pointer-jumping loop in api.Dedup: a localCheckpoint does not
      // survive executor loss; acceptable for a result this small.)
      val out = assigned
        .select(col("__id").as(idCol), col("cluster"), col("dist"))
        .localCheckpoint()
      vecs.unpersist(false)
      out
    }
  }
}
