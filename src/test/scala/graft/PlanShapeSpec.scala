package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Shuffle-count pins for the analytics queries whose Scaladoc makes a
  * specific exchange claim. Prose claims drift; these execute the query
  * and count the actual ShuffleExchange nodes in the executed plan, so
  * a regression that adds a shuffle (a changed partitioning, a lost
  * reuse) fails a test instead of silently doubling the 100 TB cost.
  * Counts are on the EXECUTED adaptive plan via collectExec.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def hashShuffles(df: DataFrame): Int = {
    // collect() executes THIS Dataset's QueryExecution and finalizes its
    // adaptive plan; count() would build a separate aggregated
    // QueryExecution and leave df's plan un-executed (its exchange count
    // would then be the static estimate, not what actually ran)
    df.collect()
    collectExec(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
  }

  test("funnel: ONE user_id shuffle serves both window passes and the aggregate") {
    // window 1, window 2 and the groupBy all key on user_id — Spark must
    // reuse the partitioning; the only other exchange is the final
    // deterministic ORDER BY's range shuffle
    val n = hashShuffles(graft.ops.Relational.eventsFunnel(spark, dir))
    assert(n == 2, s"expected 2 exchanges (1 user_id hash + 1 output sort), got $n")
  }

  test("basket pairs: groupBy+HOF expansion keeps the fact table to one scan chain") {
    // distinct(ok, pk) → groupBy(ok) reuses nothing (different key) →
    // pair groupBy(p1, p2) → output sort: 4 exchanges total, and
    // crucially NO join node anywhere (the self-join formulation would
    // add two more fact-wide exchanges)
    val df = graft.ops.Relational.basketPairs(spark, dir)
    val n = hashShuffles(df)
    assert(n <= 4, s"expected ≤4 exchanges, got $n")
    val joins = collectExec(df.queryExecution.executedPlan)
      .count(p => p.nodeName.toLowerCase.contains("join"))
    assert(joins == 0, s"basket pairs must not plan a join, got $joins join nodes")
  }

  test("exact dedup: one key shuffle plus spread and output sort, no join") {
    // the VERDICT-table claim "one shuffle on normalized key": the only
    // exchanges are the narrow-input spread repartition, the groupBy on
    // the normalized key, and the deterministic output sort — and the
    // plan must contain no join node at any size
    val df = graft.ops.Text.dedupExact(spark, dir)
    val n = hashShuffles(df)
    assert(n <= 3, s"expected ≤3 exchanges (spread + key groupBy + sort), got $n")
    val joins = collectExec(df.queryExecution.executedPlan)
      .count(p => p.nodeName.toLowerCase.contains("join"))
    assert(joins == 0, s"exact dedup must not plan a join, got $joins")
  }

  test("cohort retention: both big shuffles key on user_id") {
    val df = graft.ops.Relational.cohortRetention(spark, dir)
    val n = hashShuffles(df)
    // min-week agg + distinct activity (both user_id) + cell agg + sort;
    // the cohort join itself must NOT add an exchange beyond these
    assert(n <= 5, s"expected ≤5 exchanges, got $n")
  }

  // ==========================================================================
  // Dedup family: these operators cache intermediates AND finals, so the
  // real structure lives inside InMemoryRelations — counted with the DEEP
  // walk on a cold cache. Two pins each: a bounded exchange count (their
  // job/stage counts are the bench's contention exposure) and ZERO
  // nested-loop/cartesian join nodes anywhere (the all-pairs scale
  // killer these algorithms exist to avoid).
  // ==========================================================================

  private def dedupPins(name: String, df: => DataFrame,
      maxExchanges: Int): Unit = {
    spark.catalog.clearCache() // cold: count the plan that actually computes
    val d = df
    d.collect()
    val nodes = collectExecDeep(d.queryExecution.executedPlan)
    val n = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(n <= maxExchanges, s"$name: expected ≤$maxExchanges exchanges, got $n")
    val nl = nodes.count(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct"))
    assert(nl == 0, s"$name: found $nl nested-loop/cartesian joins — all-pairs plan")
    info(s"$name: $n exchanges (≤ $maxExchanges), 0 all-pairs joins")
  }

  test("minhash dedup: bounded exchanges, no all-pairs join") {
    // spread repartition + band OCCUPANCY-COUNT shuffle + band-key
    // semi-join/list shuffles + output sort — measured 6 after the
    // round-9 count-then-prune restructure (the occupancy count is
    // one deliberate extra fixed-width exchange; it is what lets the
    // object list aggregate see only qualifying-bucket rows, the
    // x100/8g memory-ceiling fix). The verify joins broadcast off the
    // cached candidate-shingle relation and add none.
    dedupPins("minhash", graft.ops.Text.dedupMinhash(spark, dir), 6)
  }

  test("ngram dedup: bounded exchanges, no all-pairs join") {
    // spread + shingle-df aggregate + capped-posting candidate shuffle
    // + per-doc stats + output sort — measured 5; the bound-prune and
    // exact-verify joins broadcast off cached relations
    dedupPins("ngram", graft.ops.Text.dedupNgram(spark, dir), 6)
  }

  test("span dedup: bounded exchanges, no all-pairs join") {
    // the Scaladoc claim "span-keyed df aggregate + join-back — two
    // shuffles, nothing O(pairs)" plus spread and the output sort —
    // measured 5
    dedupPins("spans", graft.ops.Text.dedupSpans(spark, dir), 6)
  }

  test("semantic dedup: bounded exchanges in pair generation, no all-pairs join") {
    // sketch-bucket pair generation (bucket equi-join, occupancy
    // bounded) + the label loop's node-id-keyed rounds — measured 6 on
    // the sf0.001 graph; the loop's per-round joins broadcast off the
    // cached previous generation
    dedupPins("semantic", graft.ops.Vector.dedupSemantic(spark, dir), 7)
  }

  test("bigram NLL (dictionary-encoded): vocab lookups broadcast, bounded exchanges, no all-pairs join") {
    // the round-10 encode claims made structural: the two vocab-id
    // lookups ride the explode as BROADCAST hash joins (a shuffled
    // encode join would re-exchange the corpus stream on token
    // strings — the thing the encoding removes), and the whole
    // pipeline (vocab build + encode + model + left-context + probe +
    // per-doc agg + sort) stays within its measured exchange budget
    // with zero nested-loop/cartesian nodes.
    spark.catalog.clearCache()
    val df = graft.ops.Text.textBigramLL(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val n = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    // measured 11 at sf0.001: 4 are the VOCAB build (distinct + bucket
    // groupBy + tiny-offsets window + in-bucket rank window — all
    // vocab-sized), the rest the corpus pipeline (spread, model, left,
    // probe-side, per-doc agg, sort)
    assert(n <= 11, s"bigramNll: expected <=11 exchanges, got $n")
    val bhj = nodes.count(_.nodeName.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"bigramNll: vocab encode must broadcast (>=2 BHJ), got $bhj")
    val nl = nodes.count(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct"))
    assert(nl == 0, s"bigramNll: found $nl all-pairs join nodes")
    info(s"bigramNll: $n exchanges, $bhj broadcast hash joins, 0 all-pairs")
  }

  test("rfm approx: no window, no ntile, no single-reducer sort — cuts broadcast back") {
    // the 100 TB variant's reason to exist, pinned: the exact
    // formulation's three UNPARTITIONED ntile windows (each a
    // single-task corpus sort) must not appear — no Window node at
    // all — and the only joins are broadcasts of the 1-row bound/cut
    // relations (BroadcastNestedLoopJoin over a 1-row broadcast side
    // is the crossJoin's plan and is fine; a CartesianProduct is not).
    val df = graft.ops.Relational.rfmSegmentsApprox(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val win = nodes.count(_.nodeName.contains("Window"))
    assert(win == 0, s"rfmApprox: expected no Window operator, got $win")
    val cart = nodes.count(_.nodeName.contains("CartesianProduct"))
    assert(cart == 0, s"rfmApprox: found $cart CartesianProduct nodes")
    val n = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    // round-16 shape: the per-customer relation is computed ONCE and
    // cached — its single groupBy exchange appears in the deep collect
    // alongside the three tiny aggregate exchanges and the output sort;
    // the old shape re-ran the orders aggregate per consumer instead
    // (fewer visible exchange NODES, 2 more corpus passes EXECUTED)
    assert(n <= 6, s"rfmApprox: expected <=6 exchanges, got $n")
    val imr = nodes.count(_.nodeName.contains("InMemoryTableScan"))
    assert(imr >= 2,
      s"rfmApprox: per-customer cache must feed >=2 consumers, got $imr scans")
    info(s"rfmApprox: $n exchanges, $imr cached-relation scans, 0 windows")
  }

  test("quality model: weights join broadcasts; one per-doc aggregate exchange plus sort") {
    spark.catalog.clearCache()
    val df = graft.ops.Text.qualityModel(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val bhj = nodes.count(_.nodeName.contains("BroadcastHashJoin"))
    assert(bhj >= 1, s"qualityModel: weights must broadcast, got $bhj BHJ")
    val smj = nodes.count(_.nodeName.contains("SortMergeJoin"))
    assert(smj == 0, s"qualityModel: no shuffled join allowed, got $smj SMJ")
    val n = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    // spread repartition + per-doc agg + output sort (the runs cache
    // is shared infra; its exchange is the spread)
    assert(n <= 3, s"qualityModel: expected <=3 exchanges, got $n")
    info(s"qualityModel: $n exchanges, $bhj broadcast joins, 0 SMJ")
  }

  test("crossCorpus: filter relation joins by sort-merge, never broadcasts to the driver") {
    // the partitioned-bloom scale claim made structural: the (bucket,
    // filter_bytes) relation must reach the probe through a sort-merge
    // equi-join on the bucket — a BroadcastExchange over it would
    // collect every bucket's filter to the driver, recreating exactly
    // the single-blob driver bound the partitioning removes. The final
    // annotate join MAY broadcast (it carries ids, not filters), so the
    // pin is specifically: no broadcast subtree outputs a binary
    // filter column, and at least one sort-merge join keys on the
    // bucket.
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    graft.api.ResultCache.clear()
    val docs = graft.Tables.documents(spark, dir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val neu = docs.filter(col("doc_id") % 2 === 1)
    // key on n_chars, NOT text: the odd/even split of the testdata
    // shares no duplicate text, and a zero-dup probe lets AQE's
    // empty-relation propagation eliminate the whole join subtree from
    // the FINAL plan (correct, and a nice zero-dup fast path — but
    // then this test would assert against a collapsed tree). n_chars
    // guarantees cross-corpus key overlap so the probe shape survives
    // to the executed plan.
    val out = graft.api.Dedup.crossCorpus(neu, ref, "doc_id",
      col("n_chars").cast("string"))
    out.collect()
    val nodes = collectExecDeep(out.queryExecution.executedPlan)
    val broadcastsWithFilterBytes = nodes
      .filter(_.nodeName.contains("BroadcastExchange"))
      .count(_.output.exists(a =>
        a.dataType == org.apache.spark.sql.types.BinaryType))
    assert(broadcastsWithFilterBytes == 0,
      s"filter bytes found under $broadcastsWithFilterBytes BroadcastExchange node(s) — " +
        "the bloom relation must stay distributed")
    val smjOnBucket = nodes.exists(p =>
      p.nodeName.contains("SortMergeJoin") && p.toString.contains("__b"))
    assert(smjOnBucket, "expected a sort-merge join on the bucket column; join nodes: " +
      nodes.filter(_.nodeName.toLowerCase.contains("join"))
        .map(p => p.nodeName + ": " + p.toString.linesIterator.next().take(200))
        .mkString("\n"))
  }

  test("merge upsert: ONE full-outer join on the merge key, no second resolution pass") {
    // the mergeInto scaladoc claim "one FULL OUTER join on the key":
    // exactly one join node (FullOuter), and the exchange budget is the
    // two join inputs plus the output sort — a second pass (e.g. a
    // separate delete anti-join) would add join nodes and exchanges
    val df = graft.ops.Relational.mergeUpsert(spark, dir)
    df.collect()
    val nodes = collectExec(df.queryExecution.executedPlan)
    val joins = nodes.filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.length == 1, s"expected exactly 1 join node, got ${joins.length}")
    assert(joins.head.toString.contains("FullOuter"),
      s"expected a FullOuter join, got: ${joins.head.toString.linesIterator.next()}")
    val n = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(n <= 3, s"expected ≤3 exchanges (2 join inputs + output sort), got $n")
  }

  test("kmeans: the assignment pass plans NO join — centroids ride as broadcast literals") {
    // the Clustering scaladoc claim: per round one map pass against
    // centroid literals + one k-row aggregate; a join-based formulation
    // would put a join node and a per-row probe exchange in the plan
    val df = graft.ops.Vector.vecKmeans(spark, dir)
    df.collect()
    val nodes = collectExec(df.queryExecution.executedPlan)
    val joins = nodes.count(_.nodeName.toLowerCase.contains("join"))
    assert(joins == 0, s"kmeans final assignment must not plan a join, got $joins")
  }

  test("ids global: the only single-partition exchange is the tiny offsets relation") {
    // the idsGlobal scaladoc claim: corpus rows never funnel through one
    // task for the ID ASSIGNMENT — the sole SinglePartition exchange in
    // the plan feeds the |rows|/4096-row offsets window, and the corpus
    // side ranks inside bounded (lang, bucket) hash partitions
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = graft.ops.Relational.idsGlobal(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val singles = nodes.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
    }
    assert(singles.length <= 1,
      s"expected at most 1 SinglePartition exchange (the offsets side), got ${singles.length}")
  }

  test("token vocab (tfidf): the only single-partition exchange is the 4096-row offsets relation") {
    // the tokenVocab scaladoc claim (round-11 verdict nit 2, accepted
    // design): the dictionary's dense-id assignment funnels ONLY the
    // per-bucket count relation (exactly ≤ 4096 rows at ANY corpus
    // size) through a single partition — the corpus and the vocabulary
    // rank inside hashed bucket partitions. This pin turns the
    // documented bound into a failing test if a future edit lets a
    // corpus-sized relation reach a SinglePartition exchange.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    spark.catalog.clearCache()
    api.ResultCache.clear()
    val df = graft.ops.Text.textTfidf(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val singles = nodes.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning == SinglePartition => e
    }
    assert(singles.length <= 1,
      s"expected at most 1 SinglePartition exchange (the 4096-bucket offsets), got ${singles.length}")
    // and the one allowed single-partition input is the bounded bucket
    // aggregate: its row estimate can never exceed the 4096 bucket ids
    singles.foreach { e =>
      val rows = e.child.executeCollect().length
      assert(rows <= 4096, s"single-partition exchange carries $rows rows (> 4096)")
    }
  }

  test("paragraph dedup: digest window + doc_id reconstruction + output sort, nothing else") {
    // the dedupParagraphs scaladoc claim: ONE exchange keyed on the
    // 128-bit paragraph digest (the keep-first window), ONE on doc_id
    // (reconstruction agg), plus the deterministic ORDER BY's range
    // shuffle — no join, nothing O(pairs)
    val df = graft.ops.Text.textDedupPara(spark, dir)
    val n = hashShuffles(df)
    assert(n == 3, s"expected 3 exchanges (digest window + doc_id agg + sort), got $n")
    val joins = collectExec(df.queryExecution.executedPlan)
      .count(p => p.nodeName.contains("Join"))
    assert(joins == 0, s"paragraph dedup must not plan a join, got $joins")
  }

  test("streaming simhash dedup (batch twin): NO join anywhere — the kernel is un-prunable") {
    // the round-12 count-prunability fix, pinned structurally: the
    // sentinel-band union makes the transformWithState output the only
    // source of doc_ids, so the plan has no join for Catalyst to
    // eliminate under a count() consumer
    spark.catalog.clearCache()
    val df = graft.ops.Streaming.simhashDedupBatchTws(spark, dir)
    df.collect()
    val joins = collectExecDeep(df.queryExecution.executedPlan)
      .count(p => p.nodeName.contains("Join"))
    assert(joins == 0, s"expected a join-free plan (sentinel-band union), got $joins joins")
  }

  test("dpp join: the fact scan carries a dynamic-pruning partition filter") {
    // the joinDpp scaladoc claim: the dim's runtime key set reaches the
    // partitioned fact scan as a dynamicpruning subquery in
    // PartitionFilters — no static literal exists for Catalyst to fold
    val df = graft.ops.Relational.joinDpp(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "expected a dynamicpruning PartitionFilter in the fact scan; plan:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // and the pruning must actually SKIP partitions: the dim (orderkeys
    // <= 2) selects 3 of the 5 priority partitions on this testdata, so
    // the fact scan's file count must be strictly below the full copy's
    val scans = collectExecDeep(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan"))
      .filter(_.toString.contains("dynamicpruning"))
    assert(scans.nonEmpty, "no fact scan with a dynamicpruning filter found")
    val read = scans.head.metrics("numFiles").value
    assert(scans.head.metrics.contains("staticFilesNum"),
      s"expected the DPP staticFilesNum metric; present: ${scans.head.metrics.keys.mkString(",")}")
    val total = scans.head.metrics("staticFilesNum").value
    assert(read < total, s"DPP read all files: numFiles=$read staticFilesNum=$total")
    assert(read >= 1, "scan must still read the selected partitions")
  }

  test("runtime bloom-filter join: an injected might_contain prunes the probe side") {
    // Spark's InjectRuntimeFilter rule (the automatic twin of
    // crossCorpus's hand-built bloom prune): with a selective creation
    // side, the probe-side scan gains a bloom_filter_agg-fed
    // might_contain predicate BEFORE the join. Thresholds are sized for
    // 100 TB defaults (10 GB application side), so the fixture session
    // lowers them explicitly — the assertion is about the PLAN SHAPE the
    // rule produces, which is scale-independent.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // broadcast joins bypass the bloom path — force a shuffle join
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_quantity")
      val sel = Tables.orders(spark, dir)
        .filter($"o_totalprice" > 500000.0).select($"o_orderkey")
      val joined = li.join(sel, $"l_orderkey" === $"o_orderkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        "expected an injected runtime bloom filter (might_contain) on the probe side")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("rank-filter windows use the WindowGroupLimit pushdown, not a full sort-all") {
    // rank() <= k predicates optimize to WindowGroupLimitExec (Spark
    // 3.5+): each task keeps only k rows per key BEFORE the window sort
    // — the built-in cousin of the custom TopKPerKey operator, pinned
    // here so a regression in the rewrite (a changed filter shape that
    // stops matching) shows up as a plan diff, not a silent full shuffle
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
    val df = Tables.orders(spark, dir)
      .withColumn("rk", org.apache.spark.sql.functions.rank().over(w))
      .filter($"rk" <= 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "expected WindowGroupLimitExec in the plan for a rank() <= k filter")
  }

  test("dedup-trim never sorts the position stream: no SortMergeJoin anywhere") {
    // The round-11 x100/8g OOM shape: left to the planner, the
    // positions × dupD join became an SMJ that SORTED the ~450M-row
    // position stream concurrently with the corpus partial agg. The
    // prune (broadcast semi ≤ 2M dup digests / clamped-bloom literal
    // above) keeps the probe side exchange-free; this pin fails if a
    // refactor reintroduces a sort-requiring join ANYWHERE in the trim
    // plan — every join in it (prune, first-occurrence, marks) must
    // stay broadcast-shaped at fixture scale.
    val df = graft.ops.Text.textDedupTrim(spark, dir)
    df.collect()
    val smj = collectExecDeep(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("SortMergeJoin"))
    assert(smj == 0, s"dedup-trim must not plan a SortMergeJoin, got $smj")
  }

  test("triangles: one forward-neighbour join, no all-pairs join, only the result cached") {
    // the kernel's claims: one groupBy builds N⁺, ONE equi-join meets
    // N⁺(u) with N⁺(v) per edge, one aggregate yields all three counts —
    // no wedge join, no closing-edge semi-join, no crossJoin of partial
    // counts, and no cached edge list: the 1-row result is the only
    // relation the call leaves in the cache
    spark.catalog.clearCache()
    def cached() = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val before = cached()
    val df = graft.ops.Graph.triangleCount(spark, dir)
    df.collect()
    val nodes = collectExecDeep(df.queryExecution.executedPlan)
    val nl = nodes.count(p => p.nodeName.contains("BroadcastNestedLoopJoin") ||
      p.nodeName.contains("CartesianProduct"))
    assert(nl == 0, s"triangles: found $nl nested-loop/cartesian joins")
    val joins = nodes.count(p => p.nodeName.toLowerCase.contains("join"))
    assert(joins <= 1, s"triangles: expected at most 1 join, got $joins")
    val pinned = cached() -- before
    assert(pinned.size == 1, s"triangles: expected exactly 1 cached relation, got ${pinned.size}")
    spark.catalog.clearCache()
  }

  test("approx distinct: no HyperLogLogPlusPlus aggregate in the executed plan") {
    // the 410-word-per-group HLL++ buffer is what the register kernel
    // replaces; its estimate comes from plain max/collect_list aggregates
    import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
    val df = graft.ops.Relational.aggApproxDistinct(spark, dir)
    df.collect()
    val hll = collectExec(df.queryExecution.executedPlan)
      .count(_.expressions.exists(_.exists(_.isInstanceOf[HyperLogLogPlusPlus])))
    assert(hll == 0, s"approx distinct: $hll plan nodes still aggregate with HyperLogLogPlusPlus")
  }
}
