package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable deduplication operators over any corpus DataFrame — the
  * public library surface (the harness queries in graft.ops delegate
  * here with the testdata's column names). All operators are pure
  * DataFrame plans: each stage shuffles on a well-distributed key
  * (normalized text, shingle, band, chunk), never O(pairs) except on
  * verified candidates.
  *
  * Determinism: outputs are keyed by the input's id column and sorted;
  * hash functions are xxhash64-derived (stable across runs/JVMs).
  */
object Dedup {

  /** Spread a narrow-partition input across the session's shuffle
    * parallelism before per-row-heavy stages (shingling, hashing, the
    * 64-column vote/min aggregates): a small corpus arrives as ONE
    * parquet split, and everything before the first groupBy shuffle
    * then runs single-threaded — measured 8.5 s vs ~1.5 s for cold
    * simhash at sf0.1. No-op when the source already has enough splits
    * (a 100 TB table would), so no redundant corpus shuffle at scale.
    * Shared with the multimodal codec kernels (graft.ops.Multimodal),
    * which are per-row-heavy in exactly the same way.
    *
    * The split-count probe reads the LOGICAL plan's file index (total
    * bytes / maxPartitionBytes — the same arithmetic Spark's file-scan
    * planner applies), NOT `df.rdd.getNumPartitions`: the RDD probe
    * forced physical-plan + RDD-DAG construction of the whole upstream
    * plan once per call outside Catalyst. A plan with no file relation
    * (local/test relations, views over joins) conservatively
    * repartitions — for the per-row-heavy stages this guards, a
    * bounded extra exchange is always cheaper than an accidental
    * single-threaded stage. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val target = conf.numShufflePartitions
    // ALL leaf nodes count — collectLeaves(), not a partial collect: a
    // partial match silently SKIPS leaves it doesn't name (DSv2
    // relations, InMemoryRelation, LocalRelation), and a union/join of
    // a large file relation with such a leaf would then skip the
    // repartition while those rows sit in few partitions. Every leaf
    // that is not a file-index relation POISONS the proof (counts 0)
    // rather than being invisible or outvoted: its rows may sit in one
    // partition, which is exactly the single-threaded-heavy-stage
    // pathology spread guards against.
    val leaves = df.queryExecution.optimizedPlan.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            // bytes/maxPartitionBytes is only the split count for
            // SPLITABLE files — one big gzip JSONL/CSV is a 1-partition
            // scan no matter its size, so non-splittable paths are
            // counted one split per FILE (what the scan planner does)
            val paths = fs.location.inputFiles
            val splitable = paths.nonEmpty && paths.forall(p =>
              fs.fileFormat.isSplitable(spark, fs.options, new org.apache.hadoop.fs.Path(p)))
            if (splitable)
              math.max(1L, fs.location.sizeInBytes / math.max(1L, conf.filesMaxPartitionBytes))
            else paths.length.toLong
          case _ => 0L // non-file relation (e.g. JDBC): unknown narrowness
        }
      case _ => 0L // DSv2 / cached / local / other leaf: unknown narrowness
    }
    // only a plan whose EVERY leaf is a file index, together proving
    // enough splits, skips the spread
    if (leaves.nonEmpty && leaves.forall(_ > 0L) && leaves.sum >= target) df
    else df.repartition(target)
  }

  /** Word n-gram shingle sets (distinct) per row — one codegen'd pass
    * ([[graft.plans.WordShingles]]: the same UTF8String.split the
    * built-in `split(text, ' ')` evaluates, sliding concatWs windows,
    * first-occurrence distinct; < n tokens or null text → empty
    * array). Replaces the interpreted HOF lambda formulation, whose
    * two round-8-measured costs were ~7-8 s per forced pass at x10
    * AND — the worse one — knocking any Generate/filter stage that
    * inlined it out of whole-stage codegen entirely (40.1 s vs 0.64 s
    * for the same explode; BASELINE.md round-8). ExpressionSpec pins
    * bit-equality against the lambda formulation over the full real
    * documents table. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1)
    df.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.GraftExpressionBridge.column(
        graft.plans.WordShingles(
          org.apache.spark.sql.GraftExpressionBridge.expression(col(textCol)), n))
        .as("shingles"))
  }

  /** Exact dedup after normalization: groups rows whose normalized key
    * matches; emits (canonical id = min id, member count).
    *
    * Groups by a 128-bit DIGEST of the key, not the key itself: dedup
    * keys are near-unique by definition, so map-side combine cannot
    * shrink the exchange and the groupBy shuffles every row's full
    * normalized key — ~the corpus itself (the normalized text here).
    * Digesting first narrows the exchange to two longs + the id. The
    * digest is two independently-seeded xxhash64 passes (md5 measured
    * 1.8× slower END-TO-END here — ~10 cycles/byte interpreted-call
    * overhead vs xxhash64's codegen'd ~1), making a spurious merge a
    * ~2^-128-per-pair event — the same exactness budget the
    * cross-corpus path already accepts for its verify join, and far
    * below any real cluster's bit-flip rate. */
  def exact(df: DataFrame, idCol: String, normKey: Column): DataFrame =
    // spread: the normalization is the heaviest per-row stage in the
    // query and runs BEFORE the first exchange — on a raw scan it
    // inherits the file split count (3 splits at x10 = 3 of 32 cores;
    // measured 14.5 s vs 4.9 s spread, compiled key). No-op when the
    // source already has enough splits.
    spread(df)
      .withColumn("__norm", struct(xxhash64(normKey), xxhash64(lit(7), normKey)))
      .groupBy(col("__norm"))
      .agg(min(col(idCol)).as("canonical_doc"), count(lit(1)).as("n_members"))
      .select(col("canonical_doc"), col("n_members"))
      .orderBy(col("canonical_doc"))

  /** Cross-corpus exact dedup — "which docs in the NEW corpus already
    * exist in the REFERENCE corpus" (dedupe a fresh crawl against the
    * training set you already have), with a PARTITIONED bloom-filter
    * prune ahead of the exact verification:
    *
    *  1. The reference key space is bucketed by hash; ONE grouped
    *     aggregate job builds an independent bloom filter per bucket —
    *     a (bucket, filter_bytes) RELATION that is cached distributed,
    *     never collected. The driver holds no filter bytes at any
    *     point (the round-4 verdict's one driver-side growth term: a
    *     single-blob filter over a 10^10-key reference at 1% fpp is
    *     ~12 GB, past any driver/broadcast budget).
    *  2. The new corpus equi-joins its bucket to the filter relation
    *     (sort-merge, never broadcast — the MERGE hint keeps AQE from
    *     collecting the filters to the driver) and probes with
    *     [[graft.plans.BloomMightContainKeyed]], a codegen'd
    *     might_contain over the joined filter COLUMN with a per-bucket
    *     deserialization cache. Rows the bloom rejects are GENUINELY
    *     absent from the reference (no false negatives within a
    *     bucket), so they skip the exact join entirely.
    *  3. Only bloom-positive rows (true dups + ~fpp of the corpus)
    *     enter the exact semi-join that resolves false positives.
    *
    * The result is EXACT; the bloom only decides who pays the shuffle.
    * At dedup-realistic dup rates the join input drops from |new| to
    * ~|dups| + fpp·|new| — the difference between shuffling the crawl
    * and shuffling the answer. The bucket count auto-scales so every
    * per-bucket filter stays UNDER Spark's runtime-bloom clamps
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/
    * `maxNumBits`, defaults 4M items / 2^26 bits ≈ 8 MB) with 25%
    * headroom for bucket-occupancy variance — so no session conf is
    * touched (the single-blob form had to raise the clamps around its
    * build, a session-global override), each filter gets its full
    * computed bit budget, and memory per build task and per probe task
    * is bounded by one bucket's filter regardless of reference size.
    *
    * Returns the new corpus annotated: (idCol, is_dup). Deterministic
    * and fully oracle-checkable — the bloom affects only WORK, never
    * output (PropertySpec proves it at fpp = 0.5 and B = 16/64).
    *
    * The build side is the SAME catalyst aggregate Spark's runtime
    * bloom-join injects (BloomFilterAggregate over xxhash64), grouped
    * by bucket; the probe is this library's keyed variant of
    * `BloomFilterMightContain` (Spark's requires a CONSTANT filter —
    * exactly the driver-resident model the partitioning removes). No
    * UDF boundary anywhere.
    *
    * CACHING CONTRACT: the filter relation is cached and memoized per
    * [[ResultCache.planKey]] of the normalized reference keys (files
    * + normalization plan; a repeat call over the same reference runs
    * no build and no count job) — same session-lifetime,
    * clearCache-on-refresh contract as [[minhashLsh]]. */
  /** Bucket sizing for [[crossCorpus]]: (nBuckets, itemsPerBucket,
    * bitsPerBucket). Total bits follow the optimal bloom sizing
    * n · ln(1/fpp) / ln²2; the bucket count keeps every bucket's
    * expected items/bits UNDER Spark's runtime-bloom clamps
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `maxNumBits`, defaults 4M items / 2^26 bits) with 1.25× headroom
    * for hash-occupancy variance, and floors at 16 so the partitioned
    * shape (and its test) is always the shape that runs. Factored out
    * so BoundsPinSpec can sweep reference sizes across magnitudes and
    * fail if any configuration would exceed the clamps — the bound is
    * a doc claim the aggregate itself only enforces at analysis time
    * inside a running query. */
  private[graft] def bloomBucketPlan(nRef: Long, fpp: Double,
      buckets: Int): (Long, Long, Long) = {
    val totalBits = math.max(64L,
      (nRef * math.log(1.0 / fpp) / (math.log(2) * math.log(2))).toLong)
    val nBuckets: Long =
      if (buckets > 0) buckets.toLong
      else Seq(16L, 1L + (1.25 * nRef).toLong / 4000000L,
        1L + (1.25 * totalBits).toLong / 67108864L).max
    val itemsPerBucket = math.max(8L, (1.25 * nRef / nBuckets).toLong + 1L)
    val bitsPerBucket = math.max(64L, (1.25 * totalBits / nBuckets).toLong + 1L)
    (nBuckets, itemsPerBucket, bitsPerBucket)
  }

  def crossCorpus(newDf: DataFrame, refDf: DataFrame, idCol: String,
      normKey: Column, fpp: Double = 0.01, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(fpp > 0.0 && fpp < 1.0, s"fpp=$fpp out of range")
    // spread both corpus sides: normalization is the heaviest per-row
    // stage and runs pre-exchange (the Dedup.exact split-count note)
    val refKeys = spread(refDf).select(normKey.as("__k"))
    // Memo key + bloom sizing WITHOUT a per-call scan (a normalization
    // pass per call cost ~9 s at 500k refs, round-8): planKey ties the
    // key to the reference's files and to the normalization expression
    // and filters, and the row count the sizing needs is itself
    // memoized against that key — one count job on a miss, none on a
    // hit.
    val nRef: Long = math.max(1L, ResultCache.memo[java.lang.Long](
      "crossCorpusRefCount", refKeys)(_ => true)(refDf.count()))
    val (nBuckets, itemsPerBucket, bitsPerBucket) = bloomBucketPlan(nRef, fpp, buckets)
    def keyHash = new XxHash64(Seq(GraftExpressionBridge.eagerExpression(col("__k"))))
    // bucket id: an independent hash seed from the filter's key hash —
    // pmod handles xxhash64's full (negative-inclusive) range
    def bucketOf = pmod(xxhash64(lit("__graft_bucket"), col("__k")), lit(nBuckets))
    val filters = ResultCache.memo("crossCorpusBloomParts", refKeys, fpp, nBuckets)(
      ResultCache.isCached) {
      // bucket AND key hash computed MAP-SIDE so the build exchange
      // carries (long, long) rows, not the ~200-byte normalized-text
      // keys (round-8 width cut, same family as q_dedup_exact/spans).
      // BloomFilterAggregate inserts the evaluated LONG child directly
      // (putLong) — aggregating the precomputed seed-42 xxhash64 column
      // yields bit-identical filter contents to hashing post-shuffle.
      val f = refKeys
        .select(bucketOf.as("__b"), xxhash64(col("__k")).as("__h"))
        .groupBy(col("__b"))
        .agg(GraftExpressionBridge.column(
          new BloomFilterAggregate(
            GraftExpressionBridge.eagerExpression(col("__h")),
            Literal(itemsPerBucket),
            Literal(bitsPerBucket)).toAggregateExpression()).as("__bf"))
        .cache()
      f.count() // materialize the cache so the memoized handle is warm
      f
    }
    val keyed = spread(newDf).select(col(idCol), normKey.as("__k"))
    // LEFT join: a probe row whose bucket holds no reference keys (or
    // whose key is null — null buckets never equi-match) gets a null
    // filter, and the null-safe probe answers "not present". MERGE
    // hint: a broadcast of the filter relation would collect every
    // bucket to the driver — the exact bound this form removes; the
    // sort-merge join also clusters each task's rows by bucket, so the
    // probe's per-bucket deserialization cache hits on every row but
    // the first of a bucket.
    val probe = GraftExpressionBridge.column(graft.plans.BloomMightContainKeyed(
      GraftExpressionBridge.eagerExpression(col("__b")),
      GraftExpressionBridge.eagerExpression(col("__bf")),
      keyHash))
    val maybe = keyed.withColumn("__b", bucketOf)
      .join(filters.hint("merge"), Seq("__b"), "left")
      .filter(coalesce(probe, lit(false)))
      .select(col(idCol), col("__k"))
    // exact resolution of the bloom's false positives: left-semi on the
    // reference keys, inputs already reduced to the maybe set. The semi
    // join runs on a 128-bit two-seed xxhash64 digest of the key, not
    // the key text: the reference-side distinct+join exchange narrows
    // from ~200-byte normalized strings to 16 bytes (the q_dedup_exact
    // digest argument — a spurious confirm needs a 128-bit collision,
    // ~1e-24 at 1e8 keys, and the string-keyed DuckDB oracle re-proves
    // collision-freedom on the graded corpus every run)
    // isNotNull on BOTH sides is load-bearing: xxhash64(null) evaluates
    // to the SEED, not null, so null keys would digest-equal each other
    // — the string join's null-never-matches semantics must be
    // reproduced explicitly (caught by PropertySpec's null-text rows)
    val dig = (c: Column) => struct(xxhash64(c), xxhash64(lit(7), c))
    val confirmed = maybe.filter(col("__k").isNotNull)
      .withColumn("__d", dig(col("__k")))
      .join(refKeys.filter(col("__k").isNotNull)
          .select(dig(col("__k")).as("__d")).distinct(),
        Seq("__d"), "left_semi")
      .select(col(idCol).as("__dup_id"))
    keyed
      .join(confirmed, col(idCol) === col("__dup_id"), "left")
      .select(col(idCol), col("__dup_id").isNotNull.as("is_dup"))
  }

  /** Exact n-gram Jaccard pairs ≥ threshold via a df-capped
    * inverted-index join. The inverted join's cost is Σ df(shingle)² —
    * ONE high-frequency shingle (boilerplate, stopword runs) makes a
    * single key quadratic at 100 TB — so shingles with df > maxDf are
    * excluded from CANDIDATE GENERATION (standard ppjoin-style
    * frequency pruning). Verification then computes Jaccard over the
    * FULL shingle sets, so every emitted pair's score is exact; the
    * only pairs lost are those whose shared shingles are ALL above the
    * cap — i.e. pairs that overlap exclusively in corpus boilerplate.
    * maxDf = Int.MaxValue recovers the uncapped exact baseline.
    *
    * CACHING CONTRACT: caches its shingle relation for the session
    * lifetime — same contract and rationale as [[minhashLsh]]. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxDf: Int = Int.MaxValue): DataFrame =
    jaccardPairs(shingles(spread(df), idCol, textCol, n), threshold, maxDf)

  /** The MULTI-doc grouped posting relation — (sh, ds = list of doc
    * ids holding sh) for shingles held by ≥ 2 docs. One corpus-sized
    * exchange, then the df = 1 tail — measured 47.3M of 48M groups at
    * x10 — is dropped BEFORE any caching or downstream work: df = 1
    * shingles can join no pair, and their per-doc counts are
    * recoverable as sz − (over-cap count), both available from this
    * tiny (~1.5% of groups) relation. The df cap is a size() filter
    * on the grouped row at the use sites (pair lists ≤ maxDf ⇒
    * expansion ≤ C(maxDf, 2) per shingle — bounded, never corpus²;
    * over-cap lists feed the oc counts). */
  /** Bounded collect_list when a cap is in force; plain collect_list
    * when the caller explicitly accepted unbounded occupancy
    * (cap == Int.MaxValue — every group's list must then be complete
    * because every group's pairs are expanded). */
  private def boundedList(child: Column, cap: Int): Column =
    if (cap == Int.MaxValue) collect_list(child)
    else graft.plans.BoundedCollectList.agg(child, cap)

  /** 128-bit shingle digest (two independently-seeded xxhash64 passes,
    * computed map-side inside the explode's codegen span) — the
    * posting exchange's key. The raw 3-gram strings average ~20–25
    * bytes plus UTF8String overhead and cost string comparisons in
    * every sort/merge; the digest pair is 16 fixed bytes. Exactness
    * budget: a spurious digest merge is a ~2^-128-per-pair event —
    * the SAME budget [[exact]] documents and accepts — and here a
    * merge can only create a candidate pair the full-array verify
    * rejects, merge two postings lists (more candidates, same
    * verify), or push a merged df over the cap (losing those pairs
    * from candidate generation, the one lossy direction — at 2^-128,
    * below any cluster's bit-flip rate, and zero at every tested
    * scale by the oracle). */
  private def shDigest(sh: Column): Column =
    struct(xxhash64(sh).as("h1"), xxhash64(lit("__graft_sh2"), sh).as("h2"))

  private def multiPostings(shingled: DataFrame, maxDf: Int): DataFrame = {
    val g = shingled
      .select(col("doc_id"), explode(col("shingles")).as("sh0"))
      .select(col("doc_id"), shDigest(col("sh0")).as("sh"))
      .groupBy(col("sh"))
    // capped: BOUNDED lists (memory contract in BoundedCollectList's
    // scaladoc) + the true df as a count column — kept groups
    // (df ≤ maxDf) have complete lists by construction. Uncapped:
    // every group's pairs are expanded, so lists must be complete —
    // plain collect_list (the caller accepted unbounded occupancy).
    g.agg(boundedList(col("doc_id"), maxDf).as("ds"), count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
  }

  /** All in-bucket pairs (a_id < b_id) of a grouped bucket→doc-list
    * relation — the round-8 replacement for bucket-key self-joins
    * (shared by [[jaccardPairs]] and [[minhashLsh]]): the self-join's
    * two sides each rebuilt the bucket exchange (ReuseExchange does
    * not fire across the a/b subtrees), where this shape pays ONE
    * exchange and expands pairs on the collapsed ≥2-doc stream.
    * Pair order compares VALUES (y > x), so the output is independent
    * of collect_list's partition-dependent ordering. One row per
    * (bucket, pair) — callers dedup or count as needed. */
  private def inBucketPairs(grouped: DataFrame, listCol: String): DataFrame =
    grouped.filter(size(col(listCol)) >= 2)
      .select(explode(expr(
        s"""flatten(transform($listCol, x ->
           |  transform(filter($listCol, y -> y > x), y -> struct(x AS a_id, y AS b_id))))""".stripMargin))
        .as("p"))
      .select(col("p.a_id"), col("p.b_id"))

  /** Per-pair shared-capped-shingle counts from a [[multiPostings]]
    * relation (df cap applied here). Returns (a_id, b_id, cnt_c ≥ 1). */
  private def pairIntersections(multi: DataFrame, maxDf: Int): DataFrame =
    inBucketPairs(
      if (maxDf == Int.MaxValue) multi else multi.filter(col("__df") <= maxDf),
      "ds")
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("cnt_c"))

  /** Candidate pairs sharing ≥1 shingle with df ≤ maxDf (exposed to
    * tests so the df² bound is assertable). */
  private[graft] def jaccardCandidates(shingled: DataFrame, maxDf: Int): DataFrame =
    pairIntersections(multiPostings(shingled, maxDf), maxDf).select(col("a_id"), col("b_id"))

  /** Jaccard over precomputed (doc_id, shingles): df-capped candidate
    * counts, a LOSSLESS upper-bound prune, then exact verification of
    * the survivors only.
    *
    * The shared-shingle count splits as n_inter = cnt_c (shared capped
    * shingles, exact from [[pairIntersections]] over the
    * [[cappedPostings]] relation) + shared over-cap
    * shingles ≤ min(oc_a, oc_b) where oc_d = |d's shingles with df >
    * maxDf|. Jaccard is increasing in n_inter, so
    *   J ≤ (cnt_c + m) / (|A| + |B| − cnt_c − m),  m = min(oc_a, oc_b)
    * and pairs whose bound falls below the threshold are dropped with
    * zero false negatives. On a near-dup corpus the survivors are the
    * handful of true pairs, so the per-pair array_intersect verify —
    * which measured ~20x the cost of everything else when applied to
    * ALL candidates — runs on a vanishing fraction. The bound keeps a
    * 1e-6 slack so the oracle's round(j, 6) ≥ thr comparison can never
    * disagree at the boundary.
    *
    * CACHING CONTRACT: caches up to THREE relations for the session
    * lifetime — the shingle relation (feeds ~7 plan branches; its exact
    * statistics keep the df/size/verify joins broadcast-shaped,
    * measured 5x slower without), the MULTI-doc grouped posting relation (feeds
    * both self-join sides AND the per-doc capped counts; capped path
    * only), and the per-doc stats relation (size + over-cap count,
    * joined per pair side; capped path only — uncapped it is derived
    * from the shingle cache uncached). Same clearCache guidance as
    * [[minhashLsh]]. */
  private[graft] def jaccardPairs(shingled0: DataFrame, thr: Double, maxDf: Int): DataFrame = {
    // handle memo + IMR-leaf — same round-15 rationale as [[minhashLsh]]
    ResultCache.memoLeaf("jaccardPairs", shingled0, thr, maxDf) {
      // DISK_ONLY, not .cache(): the shingle relation is CORPUS-sized
      // fat arrays, and a MEMORY_AND_DISK in-memory leg fills unified
      // storage to its protected floor and starves the posting/pair
      // aggregates it feeds — the identical wall dedupSpans hit in the
      // round-10 local-cluster rehearsal (exit 52). Round-11 measured it
      // here: x100 under 2×5 g executors died UNABLE_TO_ACQUIRE_MEMORY →
      // heap OOM in the posting aggregate with .cache(), runs clean
      // DISK_ONLY (numbers in BASELINE.md). The disk leg is the scalable
      // leg; warm repeats are plan-cache hits on the final pair relation
      // anyway.
      val shingled = graft.api.Persists.diskOnly(shingled0)
      val sizes = shingled.select(col("doc_id"), size(col("shingles")).as("sz"))
      // The MULTI-doc grouped posting relation is built ONCE and cached:
      // it feeds the in-bucket pair expansion AND the per-doc over-cap
      // counts below. Three round-8 measurements shaped it: grouped
      // (sh → doc list) rather than exploded rows collapses the df cap
      // into a size() filter and the old posting self-join's two
      // corpus-sized exchanges into one aggregate exchange (see
      // inBucketPairs); dropping the df = 1 tail BEFORE the cache
      // matters more than either — 47.3M of 48M groups at x10 were
      // single-doc, and caching them cost 22.8 s for rows no consumer
      // needs as rows (their only use, per-doc capped counts, is
      // recoverable as sz − oc).
      val multi = multiPostings(shingled, maxDf).cache()
      // ONE per-doc stats relation (size + over-cap count) joined per
      // pair side, not four separate joins: each broadcast build is its
      // own Spark job, and on a contended driver jobs ≈ cost. The
      // over-cap count oc_d comes DIRECTLY from the over-cap groups of
      // the tiny multi relation (shingle sets are distinct per doc, so
      // |d's shingles with df > maxDf| is one explode + count over
      // lists longer than maxDf). Uncapped, oc = 0 by construction —
      // a constant-0 column, no join. The capped-path stats stay cached:
      // each pair side otherwise re-executes the join build as its own
      // broadcast job.
      val docStats =
        if (maxDf == Int.MaxValue) sizes.withColumn("oc", lit(0L))
        else {
          // over-cap MEMBERSHIP cannot come from the bounded lists (they
          // are truncated for exactly these groups) — it is a semi-join
          // of the posting stream against the over-cap KEY set, which is
          // bounded by construction (|bad| ≤ postings/maxDf) and
          // broadcastable at any corpus size. When no group is over-cap
          // the empty broadcast side lets AQE collapse the join (and the
          // posting re-derivation above it) to an empty relation.
          val badKeys = multi.filter(col("__df") > maxDf).select(col("sh"))
          val ocCnt = shingled
            .select(col("doc_id"), explode(col("shingles")).as("sh0"))
            .select(col("doc_id"), shDigest(col("sh0")).as("sh"))
            .join(broadcast(badKeys), Seq("sh"), "left_semi")
            .groupBy(col("doc_id")).agg(count(lit(1)).as("__oc"))
          sizes.join(ocCnt, Seq("doc_id"), "left")
            .select(col("doc_id"), col("sz"),
              coalesce(col("__oc"), lit(0L)).as("oc"))
            .cache()
        }
      val bounded = pairIntersections(multi, maxDf)
        .join(docStats.select(col("doc_id").as("a_id"), col("sz").as("sz_a"),
          col("oc").as("oc_a")), "a_id")
        .join(docStats.select(col("doc_id").as("b_id"), col("sz").as("sz_b"),
          col("oc").as("oc_b")), "b_id")
        .withColumn("m", least(col("oc_a"), col("oc_b")))
        .filter((col("cnt_c") + col("m")).cast("double")
          / (col("sz_a") + col("sz_b") - col("cnt_c") - col("m")) >= thr - 1e-6)
      // no broadcast hint on the survivors: their count is data-dependent
      // (a duplicate-heavy corpus legitimately has many true pairs), so
      // the join strategy is left to the optimizer — AQE's runtime stats
      // broadcast them when small and shuffle them when not
      bounded.select(col("a_id"), col("b_id"))
        .join(shingled.select(col("doc_id").as("a_id"), col("shingles").as("sh_a")), "a_id")
        .join(shingled.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), "b_id")
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", round(
          col("n_inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")), 6))
        .filter(col("jaccard") >= thr)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
        // the FINAL pair relation is cached too: a repeat call builds the
        // identical canonical plan, so CacheManager serves the whole
        // query from this (near-dup-pair-sized, evictable) entry — the
        // steady-state run collapses to one cache-scan job instead of
        // replaying the verify joins (8 jobs measured at sf0.1)
        .cache()
    }
  }

  // The candidate-side occupancy cap that used to live in a dedicated
  // capBuckets anti-join is now a size() filter on the grouped bucket
  // row at each banding call site (§18.22). The RATIONALE is
  // unchanged and worth keeping here: a bucket (band key / chunk key)
  // holding k docs yields k·(k−1)/2 candidate pairs, so ONE
  // corpus-wide boilerplate clique makes banding O(clique²) at any
  // corpus size — the first x10 scale rehearsal measured exactly this
  // (a synthetic corpus with an unrealistically dense shingle universe
  // spilled 79 GB in the band self-join before filling the disk).
  // Buckets over the cap are excluded from CANDIDATE GENERATION — the
  // same ppjoin-style philosophy as ngramJaccard's shingle df cap: a
  // pair is lost only if EVERY bucket it shares is over-occupied,
  // i.e. its similarity is carried entirely by band minima it shares
  // with >cap other docs (boilerplate cliques, which exact-verify
  // O(clique²) anyway and belong to exact/clusterPairs treatment).
  // The default cap (1024) is far above any real band occupancy on a
  // near-dup corpus; Int.MaxValue recovers uncapped banding.

  /** MinHash + banded LSH near-dup pairs with exact-Jaccard verification
    * of candidates: output is exact for thresholds where banding recall
    * ≈ 1 (miss prob (1-J^rows)^bands), work is O(docs + candidates).
    *
    * numHashes = bands × rowsPerBand; hash family = independent 32-bit
    * halves of xxhash64(shingle, seed) — true min-wise hashes (an
    * h1+i·h2 family measurably loses recall). Signatures are flat
    * codegen'd min() columns (whole-stage codegen; ~4× over an
    * array-UDAF formulation). Band buckets over maxBandOccupancy are
    * dropped from candidate generation (the occupancy-cap note above [[inBucketPairs]] — the
    * O(clique²) guard a 100 TB corpus needs).
    *
    * CACHING CONTRACT: each call persists its signature relation
    * (MEMORY_AND_DISK; bounded per-doc records) and caches its
    * candidate-pair and candidate-shingle relations (pair-mass-sized)
    * and — because the returned plan is lazy — cannot unpersist them;
    * the entries (evictable) live until spark.catalog.clearCache() or
    * session end. Long-lived sessions making many calls should clear
    * the cache between batches. All three are load-bearing: the
    * signature persist because count-then-prune reads the band
    * relation twice, the candidate caches for exact size statistics
    * (broadcast verification joins) and to keep the band pipeline
    * from replaying. The corpus-wide SHINGLE cache of rounds 2–8 is
    * deliberately gone — it was the x100 single-node memory wall
    * (inline note). */
  /** MinHash signatures over a shingled relation: (doc_id, sig) with
    * sig an array of numHashes 32-bit min-hashes. Extracted from
    * [[minhashLsh]] so ChunkOccupancySpec can measure UNCAPPED band
    * occupancy with the exact production key derivation. */
  private[graft] def minhashSignatures(shingled: DataFrame, numHashes: Int): DataFrame =
    // one per-row codegen'd pass (graft.plans.MinhashSignature) — no
    // explode, no 64-column min exchange; bit-identical signatures to
    // the old explode → xxhash64(sh, lit(i)) → min-groupBy plan (the
    // expression's scaladoc carries the measured x10 decomposition).
    // The shingle-less-doc exclusion (they produced no exploded rows,
    // hence no signature row) filters on size(shingles) BELOW the
    // projection, never on the signature itself: a filter on the
    // computed column gets pushed under the project by substitution
    // and the signature expression is then evaluated once per USE —
    // measured 6× the honest cost on the simhash twin (BASELINE.md
    // round-8 "signature re-evaluation" note).
    shingled.filter(size(col("shingles")) >= 1)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftExpressionBridge.column(
          graft.plans.MinhashSignature(
            org.apache.spark.sql.GraftExpressionBridge.expression(col("shingles")),
            numHashes)).as("sig"))

  /** The UNCAPPED band-bucket relation (doc_id, band_idx, band_key)
    * [[minhashLsh]] groups for candidate generation — exposed for the
    * occupancy-margin pin. */
  private[graft] def minhashBandBuckets(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"hash(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .toDF("doc_id", "band_idx", "band_key")

  def minhashLsh(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      bands: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.8,
      maxBandOccupancy: Int = 1024): DataFrame = {
    // HANDLE memo + IMR-leaf (round-15): the steady-state contract was
    // already "a repeat call plan-matches the final cached pair
    // relation" — but the repeat call still paid the driver-side
    // REBUILD + re-analysis of the whole band pipeline (measured as
    // ~1-1.5 s of the keep-best/cluster warm runs with executors
    // idle). The memo returns the same relation without rebuilding the
    // plan; validity follows the cache entry exactly as before
    // (clearCache ⇒ fresh build). Key = the sketchEmb idiom: session +
    // parameters + the INPUT plan's canonical semantic hash.
    ResultCache.memoLeaf("minhashLsh", df, idCol, textCol, n, bands, rowsPerBand, threshold,
        maxBandOccupancy) {
      val numHashes = bands * rowsPerBand
      // NO corpus-wide shingle cache (round-9 x100 finding): caching the
      // shingled corpus — the round-8 design — was the FIRST memory wall
      // at x100/8g, before any aggregate ran: ~8.5 GB of shingle strings
      // over 32 partitions means 32 concurrent tasks each BUILD a
      // ~270 MB columnar block before eviction can help (a phase bisection
      // pinned the OOM to the cache-materialization stage alone; BASELINE.md
      // "Round-9: q_dedup_minhash past the x100 single-node memory
      // ceiling"). The corpus pass now computes shingles inline exactly
      // once — inside the signature projection — and only the CANDIDATE
      // docs (a pair-mass-sized set, below) are ever re-shingled for
      // verification.
      val spreadDocs = spread(df)
      // persisted DISK_ONLY: the band relation is consumed TWICE by
      // count-then-prune candidate generation (occupancy counts, then
      // the pruned list aggregate), and the signature pass —
      // numHashes×|shingles| xxhashes per doc — is the expensive stage
      // to recompute. 10M docs × (id + 64 ints) ≈ 2.7 GB raw — bounded
      // per-doc records independent of document length, unlike the
      // shingle arrays. DISK_ONLY, not MEMORY_AND_DISK, deliberately
      // (x100/8g measurement): in-memory persisted batches pin unified
      // storage up to the protected fraction, and the 160M-row band
      // count aggregate right after then fails UNABLE_TO_ACQUIRE_MEMORY
      // — the persist starved the very aggregate it feeds. Disk
      // read-back of the compressed columnar batches is seconds; at
      // sf0.1 the relation is a few KB either way.
      val sigs = minhashSignatures(
          shingles(spreadDocs, idCol, textCol, n), numHashes)
        .transform(graft.api.Persists.diskOnly)
      // Candidate generation is ONE grouped aggregate over the band
      // relation, not a bucket-key self-join (round-8 restructure,
      // measured at x10): the self-join's two sides each rebuilt the
      // 16M-row band exchange (ReuseExchange does NOT fire across the
      // a/b subtrees) and capBuckets' occupancy aggregate added a third
      // — ~21 s for 16k candidates. Grouping once to doc LISTS per
      // bucket carries the same 16M rows through ONE exchange, the
      // occupancy cap becomes a size() filter on the grouped row (same
      // drop-over-cap semantics as capBuckets), and in-bucket pair
      // expansion runs on the collapsed stream (buckets with ≥ 2 docs —
      // thousands, not millions). Pairs compare VALUES (y > x), so the
      // result is independent of collect_list's partition-dependent
      // order: same (a < b) pair set as the join, measured 21.4 →
      // 11.1 s end-to-end with identical candidate counts.
      // BOUNDED list + true count (graft.plans.BoundedCollectList): a
      // degenerate band key must never materialize its full membership
      // as one buffer row — the occupancy filter reads the COUNT column
      // (exact even when the list is truncated at cap+1), and kept
      // buckets' lists are complete by construction (occ ≤ cap).
      // COUNT-THEN-PRUNE (round-9, the x100 memory-ceiling fix): the
      // list aggregate above used to run over the FULL band stream —
      // |docs|×bands rows, nearly all singleton buckets — so at x100
      // (160M rows) every partition held millions of object list
      // buffers and the ObjectHashAggregate's sort-based spill was the
      // only survival path (8g/32g heap: OOM-or-crawl; BASELINE.md
      // round-8 x100 notes). Restructured: (1) a fixed-width COUNT
      // aggregate over the band stream — codegen'd HashAggregate,
      // 8-byte buffers, spills cheaply, no objects; (2) keep only keys
      // with 2 ≤ occ ≤ cap (singletons produce no pairs; over-cap
      // buckets were already dropped — same pair set by construction);
      // (3) semi-join the band stream against the surviving keys
      // (AQE broadcasts the key set when it is small — the common
      // case — and falls back to a shuffled hash join when a dup-heavy
      // corpus makes it large, so nothing here assumes a small
      // qualifying set); (4) the object list aggregate now sees ONLY
      // qualifying-bucket rows — bounded by the candidate-pair mass,
      // not the corpus. Per-executor object-buffer count is bounded by
      // design, not by cluster width.
      val bandRel = minhashBandBuckets(sigs, bands, rowsPerBand)
      val liveKeys = bandRel
        .groupBy(col("band_idx"), col("band_key"))
        .agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") >= 2 && col("__occ") <= maxBandOccupancy)
        .select(col("band_idx"), col("band_key"))
      val cand = inBucketPairs(
        bandRel
          .join(liveKeys, Seq("band_idx", "band_key"), "left_semi")
          .groupBy(col("band_idx"), col("band_key"))
          .agg(boundedList(col("doc_id"), maxBandOccupancy).as("ds"),
            count(lit(1)).as("__occ"))
          .filter(col("__occ") <= maxBandOccupancy),
        "ds")
        .distinct()
        // cached: cand feeds the candidate-id set AND the verification
        // join below — without it the whole band pipeline would replay.
        // Size = candidate-pair mass (thousands at rehearsal scales).
        .cache()
      // Re-shingle ONLY the candidate docs for verification: semi-join
      // the raw docs against the candidate-id set (AQE broadcasts it
      // when small — the common case — and falls back to a shuffled
      // hash join on a dup-heavy corpus), then compute their shingle
      // arrays. The cached result is pair-mass-sized, so its exact size
      // statistics still drive the verification joins to broadcast —
      // the round-2 lesson that motivated the old corpus-wide cache,
      // kept at a bounded footprint.
      val candIds = cand
        .select(explode(array(col("a_id"), col("b_id"))).as("__cand_id"))
        .distinct()
      // raw df, NOT spreadDocs: spread is a full corpus-text shuffle,
      // load-bearing only where heavy per-row compute precedes the
      // first exchange (the signature pass). Here the scan just feeds a
      // semi-join hash probe; only the few survivors pay the shingle
      // compute (measured x10: spread on this branch cost ~7 s of pure
      // re-shuffle).
      val candShingled = shingles(
          df.join(candIds, col(idCol) === col("__cand_id"), "left_semi"),
          idCol, textCol, n)
        .cache()
      cand
        .join(candShingled.select(col("doc_id").as("a_id"), col("shingles").as("sh_a")), "a_id")
        .join(candShingled.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), "b_id")
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", round(
          col("n_inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
        // final pair relation cached — same steady-state rationale as
        // [[jaccardPairs]]: a repeat call plan-matches this entry and
        // skips the candidate + verify replay entirely
        .cache()
    }
  }

  /** Collapse near-dup PAIRS into clusters (connected components): a
    * real training-data dedup keeps ONE doc per transitive group
    * (A~B, B~C ⇒ {A,B,C} share one canonical), not one per pair.
    *
    * Algorithm: iterative min-id label propagation with pointer
    * jumping — each round a node adopts min(own label, neighbors'
    * labels, label OF its label), so label chains collapse doubly fast
    * and rounds needed is O(log diameter), not diameter.
    *
    * Engineered for JOB COUNT, not just shuffle count: on an iterative
    * driver loop each job is a fixed-latency round-trip that no
    * executor count shrinks — at sf0.1 it is the entire cost of the
    * query, and on a contended machine it multiplies (the r2 driver run
    * billed the old 2-jobs-per-round formulation 26.9 s vs 4.7 s
    * quiet). One job per round: the neighbor-min join AND the
    * label-of-label jump both read the PREVIOUS round's cached labels
    * (pointer jumping, not path halving — same O(log d) bound), and the
    * convergence count IS the job that materializes the next cache
    * (nothing is eagerly checkpointed first). Lineage is truncated by
    * the per-round InMemoryRelation; the previous round's cache is
    * dropped once its successor is materialized. Fixpoint is detected
    * with a one-scalar-per-round driver count (like kmeansFit's bounded
    * model traffic; maxIters caps pathological graphs). Per round: one
    * edge⋈label join + groupBy + one label self-join — all shuffles on
    * well-distributed node ids.
    *
    * The fixpoint (min id of each component) is iteration-order
    * independent, so the output is deterministic and oracle-checkable
    * via recursive SQL. Emits (doc_id, canonical_doc) for every doc
    * appearing in ≥1 pair, sorted. */
  def clusterPairs(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame =
    clusterPairsRounds(pairs, aCol, bCol, maxIters)._1

  /** [[clusterPairs]] plus the number of propagation rounds actually
    * run — exposed so the convergence-bound property test can assert
    * the O(log diameter) round count the job-count engineering relies
    * on.
    *
    * MEMOIZED per [[ResultCache.planKey]] of the pair list: a repeat
    * call over the same pairs plan (a warm bench run, a retried batch,
    * a pipeline stage re-evaluated downstream) returns the already-
    * cached label relation with no preamble job — no cache,
    * localCheckpoint or loop round re-runs. A memo hit whose cached
    * labels were since dropped (clearCache) recomputes fresh — see
    * ResultCache's validity contract. Assumes the pairs plan is
    * deterministic (the sketchEmb/minhashLsh memo idiom; the pair
    * generators here are deterministic by construction).
    *
    * THREAD SAFETY: this method temporarily overrides a session-global
    * SQL conf (adaptive.enabled) around its multi-job loop window,
    * restored in a finally. A concurrent query on the SAME session
    * during that window observes the overridden value. Run this
    * operator single-threaded per session (the harness does), or give
    * concurrent callers their own `spark.newSession()`.
    * ([[Dedup.crossCorpus]] used to share this caveat via the runtime
    * bloom clamps; its partitioned form no longer touches any conf.) */
  private[graft] def clusterPairsRounds(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): (DataFrame, Int) = {
    // the entry also holds the cached-generation handle the validity
    // probe must watch
    val (res, rounds, _) = ResultCache.memo[(DataFrame, Int, DataFrame)](
        "clusterPlan", pairs, aCol, bCol, maxIters)(r => ResultCache.isCached(r._3)) {
      // fwd is CACHED before the symmetrize union: both union branches
      // reference the full upstream pair-generation plan, and un-cached
      // each branch re-executes that plan's AQE stages as separate jobs
      // (measured on q_dedup_semantic: 34 jobs/run un-cached vs 21
      // cached — job count is the contention-sensitivity metric)
      val fwd = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .cache()
      // AQE is DISABLED for the checkpoint + loop window: every input is
      // a cached relation with exact size statistics, so static planning
      // already picks the right (broadcast) joins — while AQE materializes
      // each round's (and the pair-generation plan's) exchanges as
      // separate stage jobs (~5 driver round-trips per round, ~13 extra
      // jobs for the lazy fwd/edges materialization, both measured on
      // q_dedup_semantic). Each job is a fixed-latency round-trip on a
      // contended driver, so this window is exactly where job count
      // matters. This library's own pair generators are skew-bounded by
      // construction (bucket occupancy caps, shingle df caps), so static
      // planning of that stage is safe; a caller with an unbounded pair
      // plan that needs AQE's skew handling should materialize (cache +
      // count) its pairs before calling. The conf is restored in the
      // finally; single-threaded session use is the assumption the
      // bench/verify harnesses already make.
      val spark = pairs.sparkSession
      val aqePrev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        // LINEAGE TRUNCATION first (round-8, measured): every loop
        // round's plan would otherwise embed the caller's whole
        // pair-generation tree, and for a wide
        // plan the DRIVER-side analysis/optimization of that tree per
        // reference dwarfs the executed jobs (q_dedup_semantic's 14-level
        // sketch plan spent ~33 s of a 37 s cluster call in planning;
        // jobs totaled 4.6 s). localCheckpoint materializes the cached
        // edge list into a LogicalRDD leaf in ONE pass, after which the
        // rounds plan over a leaf-sized tree.
        // Trade: a localCheckpoint does not survive executor loss (the
        // query fails rather than recomputes) — the standard iterative-
        // loop trade; the next call simply recomputes fresh.
        val fwdT = fwd.localCheckpoint()
        // gen is the HANDLE the final round's cache was registered under
        // (the memo's validity must probe that exact plan — a projection
        // of it reports StorageLevel.NONE), so the public column shape is
        // derived from it
        val (gen, rounds) = propagateLabels(fwdT, maxIters)
        (gen.select(col("id").as("doc_id"), col("comp").as("canonical_doc"))
          .orderBy(col("doc_id")), rounds, gen)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqePrev)
        // fwd's cache is deliberately NOT unpersisted: a memo miss over
        // the same pairs (another maxIters or column pair, or labels
        // evicted while fwd survived) checkpoints from the in-memory pair
        // list instead of re-materializing the caller's whole
        // pair-generation plan. Same session-lifetime contract, same
        // few-MB evictable cost, and same clearCache() guidance as
        // [[minhashLsh]]'s shingle cache.
        ()
      }
    }
    (res, rounds)
  }

  /** The propagation loop of [[clusterPairsRounds]] — runs on a memo
    * miss; returns the final round's CACHED generation (the handle its
    * cache entry is registered under, columns ⊇ (id, comp)) plus the
    * round count. */
  private def propagateLabels(fwd: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val edges = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    // init already IS the first propagation round: comp = min(self, all
    // neighbors) from one groupBy — same shuffle a distinct-node init
    // would pay, one fewer loop round
    // cachedGen is the HANDLE the cache entry was registered under —
    // unpersist must be called on that object (a projection of it has a
    // different canonicalized plan and unpersisting it is a silent
    // no-op), so the loop threads the cached Dataset and the projected
    // view separately
    var cachedGen = edges.groupBy(col("src")).agg(min(col("dst")).as("nbr_min"))
      .select(col("src").as("id"), least(col("src"), col("nbr_min")).as("comp"))
      .cache()
    var labels = cachedGen
    var changed = 1L
    var iter = 0
    def runLoop(): Unit = while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_min"))
      // pointer jump from the SAME generation (labels are node ids, so
      // label-of-label is a self-join of the cached label table) — using
      // labels_t rather than the half-built step keeps the whole round
      // one declarative plan over one cached input
      val jump = labels.select(col("id").as("jk"), col("comp").as("jcomp"))
      val next = labels.as("l")
        .join(nbrMin, col("l.id") === col("src"), "left")
        .join(jump, col("l.comp") === col("jk"), "left")
        .select(col("l.id").as("id"),
          least(col("l.comp"),
            coalesce(col("nbr_min"), col("l.comp")),
            coalesce(col("jcomp"), col("l.comp"))).as("comp"),
          col("l.comp").as("prev"))
        .cache()
      // the ONE job of the round: builds next's cache as it counts
      changed = next.filter(col("comp") =!= col("prev")).count()
      cachedGen.unpersist() // successor is materialized — safe to drop
      cachedGen = next
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    // the caller holds the AQE-off window open around this whole loop
    // (see clusterPairsRounds) — every round here runs statically
    // planned over cached inputs
    try {
      runLoop()
      // fail LOUDLY rather than return non-canonical labels: a silent
      // partial result would keep/drop the wrong documents downstream
      // and be indistinguishable from a correct one
      require(changed == 0,
        s"clusterPairs did not converge in $maxIters rounds ($changed labels still moving); " +
          "raise maxIters — with pointer jumping, rounds needed is ~log2(component diameter)")
    } catch {
      // the result never materializes on this path, so its cache entry
      // must not outlive the failure (a long-lived session would
      // otherwise accumulate one leaked InMemoryRelation per failed
      // call; unpersist on a never-materialized handle is a no-op)
      case e: Throwable => cachedGen.unpersist(); throw e
    } finally {
      edges.unpersist()
      ()
    }
    (cachedGen, iter)
  }

  /** Deterministic odd 30-bit plane constants (a_j, b_j) for the simhash
    * bit family — splitmix64-derived, embedded as literals in BOTH the
    * Spark plan and the DuckDB oracle so the two engines vote
    * identically. Bit j of a shingle's contribution is
    * ((h1·a_j + h2·b_j) >> 15) & 1 — multiply-shift mixing; with
    * h1,h2 < 2^32 and 30-bit planes every product stays < 2^62 and the
    * sum < 2^63 (ANSI-safe, exact in any 64-bit engine). */
  private[graft] val simhashPlanes: IndexedSeq[(Long, Long)] =
    (0 until 64).map(j =>
      ((Similarity.splitmix64(j.toLong) & 0x3FFFFFFFL) | 1L,
        (Similarity.splitmix64(j + 4096L) & 0x3FFFFFFFL) | 1L))

  /** 64-bit majority-vote SimHash signatures: (doc_id, sig) with sig
    * the signature PACKED into one long (bit j = majority vote of
    * plane j). Used by [[simhash]] (banding path); the ground-truth
    * recall check over planted pairs (pairwise hamming on these same
    * deterministic signatures, independent of banding) is recorded in
    * BASELINE.md ("Round-8 simhash closure"). Cached: feeds chunking
    * and the banding self-join; see [[minhashLsh]]'s caching note. */
  private[graft] def simhashSignatures(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // handle memo + IMR-leaf (round-15): consumers (banding, the
    // ladder, chunk-bucket builders) re-analyzed the shingle+signature
    // tree per call
    ResultCache.memoLeaf("simhashSigs", df, idCol, textCol, n) {
      // one per-row codegen'd pass (graft.plans.SimhashSignature): no
      // shingle explode, no 64-column vote exchange — the signature is
      // computed where the doc's shingle array already lives, packed
      // into one long (bit j = plane j majority) so downstream hamming
      // stays a codegen'd bit_count(a ^ b) on 16-byte rows. The md5
      // plane family and the vote arithmetic are bit-identical to the
      // old explode → md5/conv → 64-column vote groupBy (pinned in
      // ExpressionSpec). The shingle-less-doc exclusion (< n tokens ⟺
      // empty shingle set ⟺ no exploded rows in the old plan) is a
      // CHEAP text-side pre-filter, deliberately NOT an isNotNull on
      // the signature column: a filter on the computed column is pushed
      // under the project by substitution and the signature (with the
      // inlined shingle lambda) is then re-evaluated per use — measured
      // 5.8 → 35.1 s at x10 (BASELINE.md round-8).
      shingles(
        spread(df.filter(size(split(col(textCol), " ")) >= n)),
        idCol, textCol, n)
        .select(col("doc_id"),
          org.apache.spark.sql.GraftExpressionBridge.column(
            graft.plans.SimhashSignature(
              org.apache.spark.sql.GraftExpressionBridge.expression(col("shingles"))))
            .as("sig"))
        .cache()
    }
  }

  /** SimHash near-dup pairs: 64-bit majority-vote signature over shingle
    * hashes, chunk banding (pigeonhole: hamming ≤ chunks-1 guaranteed
    * caught), exact hamming filter. Approximate (unlike minhashLsh) —
    * tune maxHamming to the corpus.
    *
    * Hash family is PORTABLE by construction (chosen over xxhash64,
    * which no other engine can evaluate): per-shingle MD5, with two
    * 8-hex-char windows parsed as 32-bit ints (h1, h2), then 64
    * multiply-shift bit planes ([[simhashPlanes]]). MD5 and the hex
    * parse are bit-identical in any engine, so a DuckDB oracle replays
    * signatures, banding AND hamming verification exactly. Perf note:
    * md5/conv are codegen'd per-row scalars — an earlier polynomial
    * char-fold formulation (interpreted HOF over every character) was
    * measured 100x slower on the pre-shuffle single-partition stage.
    * Chunk buckets over maxChunkOccupancy are dropped from candidate
    * generation (occupancy-cap note above [[inBucketPairs]]; the simhash oracle replays
    * banding UNCAPPED, so the equivalence holds exactly on corpora
    * where no bucket exceeds the cap — ChunkOccupancySpec asserts the
    * graded testdata's max occupancy stays far below the 1024 default,
    * so cap-induced Spark/oracle divergence fails a test loudly before
    * it flips an oracle row).
    *
    * CHUNK CONFIG AND SCALE: the chunk key space is 2^(64/chunks), so
    * the discriminating power of banding is set by maxHamming. The
    * DEFAULT is maxHamming = 3 → 4 chunks × 16 bits (65,536 keys per
    * chunk) — the published web-scale configuration (Manku, Jain &
    * Sarma, WWW'07 use f=64, k=3 for 8B documents): bucket occupancy
    * stays near-uniform into the 10⁷-doc range. The wider tolerance
    * maxHamming = 7 → 8-bit chunks (256 keys) is still accepted for
    * SMALL corpora, but past ~10⁵ docs every 8-bit bucket
    * birthday-collides into thousands of members and banding stops
    * discriminating (measured in the round-6 x10 rehearsal: 87 s cold
    * at 100k docs, then the occupancy cap drops every bucket at 1M —
    * recall silently gone). If you need hamming > 3 tolerance at
    * scale, use [[minhashLsh]] — its 32-bit band keys have no such
    * floor.
    *
    * CACHING CONTRACT: caches its signature relation for the session
    * lifetime (lazily-returned plan can't unpersist) — same contract and
    * rationale as [[minhashLsh]]. */
  def simhash(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      maxHamming: Int = 3, maxChunkOccupancy: Int = 1024): DataFrame = {
    // handle memo + IMR-leaf — same round-15 rationale as [[minhashLsh]]
    ResultCache.memoLeaf("simhashPairs", df, idCol, textCol, n, maxHamming,
        maxChunkOccupancy) {
      val sigs = simhashSignatures(df, idCol, textCol, n)
      // Candidate generation is one grouped aggregate over the chunk
      // relation (the §18.22 shape — a chunk-key self-join pays its
      // bucket exchange once per side because ReuseExchange does not
      // fire across the a/b subtrees, plus a third for the occupancy
      // cap). The doc LIST per chunk bucket carries (doc_id, sig)
      // structs, so hamming is evaluated inline during in-bucket pair
      // expansion — still no join-back of the signature relation — and
      // the occupancy cap is a size() filter on the grouped row (same
      // drop-over-cap semantics as the old capBuckets anti-join). The
      // hamming filter runs inside the expansion, BEFORE the pair-dedup
      // distinct, so the distinct exchange sees only matching pairs
      // (duplicates arise per shared chunk; hamming is a function of
      // the pair, so duplicates pass or fail together — filter-then-
      // distinct is exact). Pairs compare doc-id VALUES (y > x), so the
      // result is independent of collect_list's partition order.
      // bounded list + true count — same memory contract as minhashLsh's
      // candidate aggregate (see BoundedCollectList)
      simhashChunkBuckets(sigs, maxHamming)
        .groupBy(col("chunk_idx"), col("chunk_key"))
        .agg(boundedList(struct(col("doc_id"), col("sig")), maxChunkOccupancy).as("ds"),
          count(lit(1)).as("__occ"))
        .filter(col("__occ") >= 2 && col("__occ") <= maxChunkOccupancy)
        .select(explode(expr(
          s"""flatten(transform(ds, x ->
             |  transform(filter(ds, y -> y.doc_id > x.doc_id), y -> struct(
             |    x.doc_id AS a_id, y.doc_id AS b_id,
             |    bit_count(x.sig ^ y.sig) AS hamming))))""".stripMargin))
          .as("p"))
        .select(col("p.a_id"), col("p.b_id"), col("p.hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
        // final pair relation cached — same steady-state rationale as
        // [[jaccardPairs]]
        .cache()
    }
  }

  /** The UNCAPPED chunk-bucket relation (doc_id, sig, chunk_idx,
    * chunk_key) [[simhash]] groups for candidate generation — exposed for the
    * occupancy-margin pin (ChunkOccupancySpec). Chunk c's key is the
    * chunkBits-wide field at bit position c·chunkBits of the packed
    * signature — the SAME plane partition as the old bits-array slice
    * derivation (chunk c ⊇ planes c·chunkBits … c·chunkBits+chunkBits−1),
    * so bucket contents are identical under a per-chunk bijective key
    * remap and the uncapped DuckDB banding replay still groups the
    * same document sets. */
  /** EXACT hamming ≤ maxHamming pair discovery with occupancy-capped
    * RECURSIVE mask refinement — the [[simhash]] candidate generator's
    * scale successor for corpora whose chunk buckets run hot. The
    * flat 4×16 banding's in-bucket expansion is O(occupancy²); at 30M
    * paragraph signatures (avg occupancy ≈ 460 per 16-bit key) that
    * quadratic term dominated a measured 1358 s cold run. This
    * generator keeps expansion occupancy-bounded:
    *
    *   - IDENTICAL signatures collapse first: one representative per
    *     distinct signature hunts pairs; its group re-attaches through
    *     hamming-0 STAR edges. Components are preserved exactly (an
    *     external doc within hamming ≤ h of one member is within ≤ h
    *     of all — same signature), and the exact-duplicate occupancy
    *     class — the worst one — never reaches the expansion.
    *   - A 3-level MASK LADDER refines hot buckets, with
    *     parts = maxHamming + 1 masks per level. PIGEONHOLE
    *     COMPLETENESS, level by level: at every level the masks
    *     PARTITION (a subset of) the bits left free by the cumulative
    *     key; a pair within hamming ≤ h has ≤ h flipped bits total, so
    *     among any h + 1 disjoint mask parts at least one is flip-free
    *     and the pair shares that part's bucket. Bits a level leaves
    *     uncovered (free.size mod parts, spread across the first masks
    *     so at most the last differs by one) only weaken
    *     DISCRIMINATION, never recall — a flip there consumes budget
    *     without dirtying any mask. At the default h = 3 the levels are
    *     the four 16-bit chunk masks, then four 12-bit masks of the
    *     clean chunk's 48-bit complement, then four 9-bit masks of the
    *     remaining 36 (no remainder anywhere). A bucket over `occT`
    *     descends; every mask is a driver-computed literal and a
    *     bucket key is just (path, sig & cumulative-mask) — no
    *     variable shifts, no bit compaction. Duplicates across paths
    *     collapse in the final distinct. Pairs are verified by the
    *     same codegen'd bit_count(xor) before the distinct.
    *
    * Returns a COMPONENT-EQUIVALENT pair set (star edges replace the
    * all-pairs clique of each identical-signature group), so consume
    * it for clustering — not for pair reporting. Level-2 buckets
    * beyond `finalCap` (members sharing most signature bits — random
    * collisions make this vanishingly rare; only adversarial input
    * reaches it) fall under the same documented drop contract as
    * [[simhash]]'s maxChunkOccupancy. */
  private[graft] def simhashPairsRefined(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, occT: Int = 256,
      finalCap: Int = 65536, maxHamming: Int = 3): DataFrame =
    // the signature cache deliberately STAYS for the session (same
    // contract as simhash()): a repeat call's ladder memo keys on the
    // signature leaf and its consumers read it. The r14 ADVICE leak
    // finding is answered by the build releasing its PER-LEVEL
    // intermediates (the 16 GB class) once the pair relation
    // materializes; the signature relation is the bounded,
    // load-bearing remainder.
    simhashPairsFromSigs(simhashSignatures(df, idCol, textCol, n),
      occT, finalCap, maxHamming)

  /** The mask-ladder core of [[simhashPairsRefined]] over a raw
    * (doc_id, sig) relation — factored out so the completeness pin can
    * feed engineered signature sets (hot buckets, exact-dup cliques,
    * ≤ h-flip families) and force full descent with a tiny occT.
    * `startLevelOverride` (tests only) pins the entry level; the
    * START-LEVEL INVARIANCE property — every level's mask set is
    * pigeonhole-complete ON ITS OWN, see below — is what the
    * ChunkOccupancySpec cross-level equivalence pin asserts.
    *
    * SHUFFLE SHAPE (round-15, from the x100 phase profile that
    * attributed 290 of 402 cold seconds here): each level is now ONE
    * hash/sort aggregation of its frontier — groupBy (path, key) with
    * a cap-bounded member list plus the true count — instead of a
    * window-occupancy sort whose output had to be persisted (16 GB at
    * the 460M-row level-1 frontier) because the expand and descend
    * legs forked it. Only the occ ≥ 2 slice is persisted (collision
    * buckets — ~1 GB where the frontier is 16; the occ = 1 mass never
    * leaves the aggregation), expand reads the complete ≤ cap lists
    * from it, and DESCENT re-derives hot-bucket membership by
    * regenerating the frontier from the cached reps (a map-only
    * explode — no shuffle) and semi-joining the hot (path, key) set,
    * which is broadcast when small. A level with no hot bucket ends
    * the loop — the common case everywhere but adversarial input.
    *
    * START LEVEL: banding at level ℓ is complete WITHOUT the levels
    * above it — the ≤ h flips dirty at most h of the h+1 level-0
    * parts, so some part m₀* is clean; within m₀*'s subtree the same
    * flips dirty at most h of its h+1 child masks, so some (m₀*, m₁*)
    * cumulative mask is clean, and so on — hence a pair within
    * hamming ≤ h shares a bucket at EVERY level, and the ladder may
    * START at the deepest level whose expected occupancy
    * (|reps| / 2^bits) stays under occT. At 30M signatures that skips
    * level 0 entirely (every 16-bit bucket is hot at avg occupancy
    * ~440 — its whole pass existed to learn "descend everything").
    *
    * The final pair relation is materialized EAGERLY (it is
    * `.cache()`d anyway — the session-steady-state contract all
    * downstream consumers rely on), after which every per-level
    * intermediate is unpersisted: a warm repeat call plan-matches the
    * final cached union and never re-materializes the intermediates,
    * so nothing accumulates across queries in a long-lived session
    * (the r14 ADVICE leak finding). */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, occT: Int = 256,
      finalCap: Int = 65536, maxHamming: Int = 3,
      startLevelOverride: Int = -1): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming must be in [1, 15], got $maxHamming")
    // MEMOIZED on planKey(sigs) + parameters (the clusterPairs
    // pattern): the build below runs driver-side jobs (reps count for
    // start-level sizing, per-level hot-bucket counts, the eager result
    // materialization), so unlike a pure-lazy operator a repeat call
    // would re-execute the whole ladder even though its final union
    // plan-matches the pair cache — measured as warm ≈ cold (331 vs
    // 390 s) at x100 before this memo. A repeat call runs no job here.
    // Validity = the result's cache entry is still live; on full
    // eviction the memo recomputes fresh, on partial eviction consumers
    // recompute those partitions through the (unpersisted) intermediate
    // lineage — slow but exact. IMR-leaf handle (round-15): consumers
    // (clusterPairs' edge cache + the reconstruction joins) otherwise
    // re-analyze the ladder's multi-level union tree on every call —
    // driver time, executors idle.
    ResultCache.memoLeaf("simhashLadder", sigs, occT, finalCap, maxHamming,
        startLevelOverride) {
      val spark = sigs.sparkSession
      import spark.implicits._
      val parts = maxHamming + 1
      val ephemeral = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = {
        ephemeral += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df
      }
      // reps feeds the star branch and every frontier (re)generation —
      // persisted so the groupBy over the (cached) signature relation
      // runs once; the count below materializes it AND sizes the start
      // level
      val reps = keep(
        sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id")))
      val nReps = reps.count()
      val star = sigs
        .join(reps.select(col("sig"), col("doc_id").as("a_id")), Seq("sig"))
        .filter(col("doc_id") =!= col("a_id"))
        .select(col("a_id"), col("doc_id").as("b_id"),
          lit(0).cast("int").as("hamming"))
      // driver-side mask ladder, parts masks per level: at the default
      // h = 3 that is 4 × 16-bit, then per node 4 × 12-bit over its
      // complement, then 4 × 9-bit — 84 literal masks total. Remainder
      // bits (free.size mod parts) go one each to the leading masks.
      def split(cum: Long, parts: Int): Seq[Long] = {
        val free = (63 to 0 by -1).filter(b => (cum & (1L << b)) == 0L)
        val base = free.size / parts
        val rem = free.size % parts
        val offs = (0 until parts).map(p => base * p + math.min(p, rem))
        (0 until parts).map(p =>
          free.slice(offs(p), offs(p) + base + (if (p < rem) 1 else 0))
            .foldLeft(0L)((m, b) => m | (1L << b)))
      }
      var nextId = 0
      def nid(): Int = { nextId += 1; nextId - 1 }
      // nodes per level carry their CUMULATIVE mask (the bucket key is
      // sig & cumMask); edges carry the child's own mask for descent
      val l0 = split(0L, parts).map(m => (nid(), m))
      val l1 = for ((p0, m0) <- l0; m1 <- split(m0, parts))
        yield (p0, nid(), m0 | m1)
      val l2 = for ((_, p1, c1) <- l1; m2 <- split(c1, parts))
        yield (p1, nid(), c1 | m2)
      val nodesAt: IndexedSeq[Seq[(Int, Long)]] = IndexedSeq(
        l0, l1.map { case (_, id, cum) => (id, cum) },
        l2.map { case (_, id, cum) => (id, cum) })
      val edges = (l1 ++ l2).map { case (parent, id, cum) => (parent, id, cum) }
      // child_cum is the child's cumulative mask: since parentKey =
      // sig & parentCum and childCum ⊇ parentCum, the child key is just
      // sig & childCum — no need to OR the parent key through the join
      val childrenDf = edges.toDF("path", "child_path", "child_cum")
      def frontierFrom(nodes: Seq[(Int, Long)]): DataFrame =
        reps.select(col("doc_id"), col("sig"),
            explode(array(nodes.map { case (p, m) =>
              struct(lit(p).as("path"), lit(m).as("mask")) }: _*)).as("node"))
          .select(col("doc_id"), col("sig"), col("node.path").as("path"),
            col("sig").bitwiseAND(col("node.mask")).as("key"))
      def expandDs(agged: DataFrame): DataFrame =
        agged
          .select(explode(expr(
            """flatten(transform(ds, x ->
              |  transform(filter(ds, y -> y.doc_id > x.doc_id), y -> struct(
              |    x.doc_id AS a_id, y.doc_id AS b_id,
              |    bit_count(x.sig ^ y.sig) AS hamming))))""".stripMargin)).as("p"))
          .select(col("p.a_id"), col("p.b_id"), col("p.hamming"))
          .filter(col("hamming") <= maxHamming)
      val startLevel =
        if (startLevelOverride >= 0) math.min(startLevelOverride, 2)
        else (0 to 2).find { lvl =>
          val minBits = nodesAt(lvl).map(n => java.lang.Long.bitCount(n._2)).min
          nReps.toDouble / math.pow(2.0, math.min(minBits, 62).toDouble) <= occT
        }.getOrElse(2)
      var mkFrontier: () => DataFrame = () => frontierFrom(nodesAt(startLevel))
      val levelPairs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var level = startLevel
      var exhausted = false
      while (level <= 2 && !exhausted) {
        val cap = if (level == 2) finalCap else occT
        // ONE shuffle: bounded member list + TRUE count per bucket; the
        // occ = 1 mass dies inside the aggregation, only collision
        // buckets are persisted (complete lists for occ ≤ cap — the only
        // ones expand reads; hot buckets carry a truncated list that is
        // never expanded, their membership comes from the re-scan below)
        val agged = keep(mkFrontier()
          .groupBy(col("path"), col("key"))
          .agg(boundedList(struct(col("doc_id"), col("sig")), cap).as("ds"),
            count(lit(1)).as("occ"))
          .filter(col("occ") >= 2))
        levelPairs += expandDs(agged.filter(col("occ") <= cap))
        if (level < 2) {
          val hot = agged.filter(col("occ") > cap)
            .select(col("path"), col("key"))
          // this count materializes agged's persist (so the expand leg
          // reads the cache) and drives the early exit
          val nHot = hot.count()
          if (nHot == 0) exhausted = true
          else {
            // membership of hot buckets via frontier REGENERATION (a
            // map-only explode over the cached reps) semi-joined with
            // the hot key set — broadcast when it fits, shuffle join on
            // adversarial input
            val hotJ = if (nHot <= 2000000L) broadcast(hot) else hot
            val gen = mkFrontier
            mkFrontier = () => gen()
              .join(hotJ, Seq("path", "key"))
              .join(broadcast(childrenDf), "path")
              .select(col("doc_id"), col("sig"),
                col("child_path").as("path"),
                col("sig").bitwiseAND(col("child_cum")).as("key"))
          }
        }
        level += 1
      }
      val result =
        star.unionByName(levelPairs.reduce(_ unionByName _).distinct()).cache()
      try {
        result.count() // materialize while the intermediates are live
        result
      } finally ephemeral.foreach(_.unpersist(false))
    }
  }

  private[graft] def simhashChunkBuckets(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0, s"chunks=$chunks must divide 64")
    val chunkBits = 64 / chunks
    val mask = (1L << chunkBits) - 1
    sigs.select(col("doc_id"), col("sig"), posexplode(array(
        (0 until chunks).map(c =>
          shiftrightunsigned(col("sig"), c * chunkBits).bitwiseAND(lit(mask))): _*)))
      .toDF("doc_id", "sig", "chunk_idx", "chunk_key")
  }
}
