package graft

import graft.functions.{Udafs, VectorFunctions => V}
import org.apache.spark.sql.functions._

/** Unit checks for the ✗-oracle text/vector operators: planted near-dups
  * must be found by the sketch-based dedup paths, LSH recall is measured
  * on a clustered fixture, aggregators match hand computation. */
class TextVectorSpec extends SparkSpec {

  private def shingles(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("t", split(col("text"), " "))
      .withColumn("shingles", expr(
        "array_distinct(transform(sequence(1, size(t) - 2), i -> concat_ws(' ', t[i-1], t[i], t[i+1])))"))
      .select(col("doc_id"), col("shingles"))

  // near-dup pair (0,1): one token changed out of 12; (2,3) unrelated
  private lazy val docsFixture = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy cat again and again"),
      (2L, "spark shuffles partition data across executors during wide stages"),
      (3L, "window functions rank rows within ordered partitions efficiently here"),
    ).toDF("doc_id", "text")
  }

  test("minhash signature via ArrayMinAgg equals per-column min") {
    import spark.implicits._
    val post = shingles(docsFixture).select($"doc_id", explode($"shingles").as("sh"))
      .withColumn("hashes", expr("transform(sequence(0, 63), i -> xxhash64(i, sh))"))
    val viaUdaf = post.groupBy($"doc_id").agg(Udafs.arrayMinCol($"hashes").as("sig"))
      .select($"doc_id", $"sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaExplode = post.select($"doc_id", posexplode($"hashes"))
      .groupBy($"doc_id", $"pos").agg(min($"col").as("m"))
      .groupBy($"doc_id").agg(array_sort(collect_list(struct($"pos", $"m"))).as("s"))
      .select($"doc_id", expr("transform(s, x -> x.m)")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaUdaf == viaExplode)
  }

  test("minhash LSH banding surfaces the planted near-dup pair only") {
    import spark.implicits._
    val sigs = shingles(docsFixture)
      .select($"doc_id", explode($"shingles").as("sh"))
      .withColumn("hashes", expr("transform(sequence(0, 63), i -> xxhash64(i, sh))"))
      .groupBy($"doc_id").agg(Udafs.arrayMinCol($"hashes").as("sig"))
    val bands = sigs.select($"doc_id",
      posexplode(expr("transform(sequence(0, 15), b -> hash(slice(sig, b * 4 + 1, 4)))")))
      .toDF("doc_id", "band_idx", "band_key")
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), s"planted pair missed: $cand")
    assert(!cand.contains((2L, 3L)), s"unrelated pair surfaced: $cand")
  }

  test("cosine HOF: self-similarity 1, orthogonal 0, hand value") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 5.0f)),
      (3L, Array(3.0f, 4.0f), Array(4.0f, 3.0f)),
    ).toDF("id", "a", "b")
    val out = df.select($"id", round(V.cosine($"a", $"b"), 6).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.96) // (12+12)/(5*5)
  }

  test("VecSumAgg centroid equals hand average") {
    import spark.implicits._
    val df = Seq(
      (0, Array(1.0f, 2.0f)), (0, Array(3.0f, 6.0f)), (1, Array(10.0f, 0.0f)),
    ).toDF("label", "embedding")
    val out = df.groupBy($"label")
      .agg(Udafs.vecSumCol($"embedding").as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("transform(s, v -> v / n)"))
      .select($"label", $"c").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(out(0) == Seq(2.0, 4.0))
    assert(out(1) == Seq(10.0, 0.0))
  }

  test("LSH ANN recall ≥ 0.8 on clustered vectors") {
    import spark.implicits._
    // 10 clusters of 20 vectors: center c has 1.0 in dims [c, c+9],
    // members jitter one dimension slightly — high intra-cluster cosine.
    val rows = for {
      c <- 0 until 10
      m <- 0 until 20
    } yield {
      val v = new Array[Float](64)
      for (d <- 0 until 10) v(c * 5 + d % 5) = 1.0f
      v((c * 5 + m % 5) % 64) += 0.2f * (m % 3)
      (c.toLong * 20 + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val annTop = graft.api.Similarity.annLsh(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, nTables = 8, nBits = 4, dim = 64)
      .select($"vec_id").as[Long].collect().toSet
    val probeEmb = emb.filter($"vec_id" === 0L).select($"embedding".as("probe_emb"))
    val bruteTop = emb.crossJoin(broadcast(probeEmb)).filter($"vec_id" =!= 0L)
      .select($"vec_id", V.cosine($"embedding", $"probe_emb").as("c"))
      .orderBy($"c".desc, $"vec_id").limit(10)
      .select($"vec_id").as[Long].collect().toSet
    val recall = (annTop & bruteTop).size.toDouble / bruteTop.size
    assert(recall >= 0.8, s"recall=$recall ann=$annTop brute=$bruteTop")
  }

  test("IVF ANN recall ≥ 0.9 on clustered vectors") {
    import spark.implicits._
    val rows = for { c <- 0 until 10; m <- 0 until 20 } yield {
      val v = new Array[Float](64)
      for (d <- 0 until 10) v(c * 5 + d % 5) = 1.0f
      v((c * 5 + m % 5) % 64) += 0.2f * (m % 3)
      (c.toLong * 20 + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val ivfTop = graft.api.Similarity.annIvf(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, nCells = 10, nProbe = 2, iters = 2)
      .select($"vec_id").as[Long].collect().toSet
    val bruteTop = graft.api.Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val recall = (ivfTop & bruteTop).size.toDouble / bruteTop.size
    assert(recall >= 0.9, s"recall=$recall ivf=$ivfTop brute=$bruteTop")
  }

  test("IVF candidate-set check: annIvf equals exact top-k over its candidates") {
    import spark.implicits._
    // q_ann_ivf's designated check (no DuckDB oracle is possible: the
    // k-means training is float-sum arithmetic that no other engine
    // replays bit-for-bit): the output must equal an EXACT cosine top-k
    // computed over exactly the candidate set the probed cells produce,
    // and that candidate set must be a strict subset of the corpus
    // (nProbe < nCells really does prune).
    val rows = for { c <- 0 until 10; m <- 0 until 20 } yield {
      val v = new Array[Float](64)
      for (d <- 0 until 10) v(c * 5 + d % 5) = 1.0f
      v((c * 5 + m % 5) % 64) += 0.2f * (m % 3)
      (c.toLong * 20 + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val cands = graft.api.Similarity.ivfCandidates(emb, "vec_id", "embedding",
      probeId = 0L, nCells = 10, nProbe = 2, iters = 2).cache()
    val nCands = cands.count()
    assert(nCands > 0 && nCands < rows.size, s"candidates not pruning: $nCands")
    val exactOverCands = cands
      .select($"vec_id", round(V.cosine($"nemb", $"probe_nemb"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    val ivf = graft.api.Similarity.annIvf(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, nCells = 10, nProbe = 2, iters = 2)
      .as[(Long, Double)].collect().toSeq
    assert(ivf == exactOverCands, s"ivf=$ivf exact-over-candidates=$exactOverCands")
  }

  test("IVF-PQ: output equals exact top-k over the ADC-selected candidates; fixture recall ≥ 0.9") {
    import spark.implicits._
    // q_ann_ivfpq's designated check (no DuckDB oracle is possible:
    // BOTH quantizers — coarse cells and PQ codebooks — are float
    // k-means): the output must equal an EXACT cosine top-k computed
    // over exactly the ids the ADC overscan selected, and the ADC set
    // must really prune (≤ k·overscan ≪ corpus).
    val rows = for { c <- 0 until 10; m <- 0 until 20 } yield {
      val v = new Array[Float](64)
      for (d <- 0 until 10) v(c * 5 + d % 5) = 1.0f
      v((c * 5 + m % 5) % 64) += 0.2f * (m % 3)
      (c.toLong * 20 + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val (adcIds, cands) = graft.api.Similarity.ivfPqAdcCandidates(emb,
      "vec_id", "embedding", probeId = 0L, k = 10, nCells = 10, nProbe = 2,
      iters = 2, m = 8, codebookK = 16, pqIters = 3, overscan = 5)
    val adcSet = adcIds.as[Long].collect().toSet
    assert(adcSet.nonEmpty && adcSet.size <= 50, s"ADC set not bounded: ${adcSet.size}")
    assert(adcSet.size < rows.size, "ADC candidates not pruning")
    val exactOverAdc = cands
      .filter($"vec_id".isin(adcSet.toSeq: _*))
      .select($"vec_id", round(V.cosine($"nemb", $"probe_nemb"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    val ivfpq = graft.api.Similarity.annIvfPq(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, nCells = 10, nProbe = 2, iters = 2,
        m = 8, codebookK = 16, pqIters = 3, overscan = 5)
      .as[(Long, Double)].collect().toSeq
    assert(ivfpq == exactOverAdc, s"ivfpq=$ivfpq exact-over-adc=$exactOverAdc")
    // recall vs brute force: the overscan-then-rerank contract
    val bruteTop = graft.api.Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val recall = (ivfpq.map(_._1).toSet & bruteTop).size.toDouble / bruteTop.size
    assert(recall >= 0.9, s"recall=$recall ivfpq=${ivfpq.map(_._1)} brute=$bruteTop")
  }

  test("gopher repetition score matches hand computation and flags repetition") {
    import spark.implicits._
    val docs = Seq(
      // 4 tokens, top token 'a'×3 → 0.75; bigrams (a a, a a, a b):
      // 3 occurrences, 2 distinct → dup frac 1/3
      (0L, "a a a b"),
      // all-distinct tokens: top frac 1/9 ≈ 0.111 ≤ 0.12, dup bigram
      // frac 0 → keep
      (1L, "one two three four five six seven eight nine"),
      // 2 tokens: bigram count 1 ⇒ dup frac defined as 0
      (2L, "x y"),
      // 1 token: the ANSI INVALID_ARRAY_INDEX edge — must not throw
      (3L, "solo"),
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getInt(4))))
      .toMap
    assert(out(0L) == ((4, 0.75, 0.333333, 0)))
    assert(out(1L) == ((9, 0.111111, 0.0, 1)))
    assert(out(2L) == ((2, 0.5, 0.0, 0)))
    assert(out(3L) == ((1, 1.0, 0.0, 0)))
  }

  test("bm25 ranking matches a plain-Scala computation and drops non-matching docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "merge scan merge sort"),
      (1L, "vector scan"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "scan"),
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.bm25Rank(docs, Seq("merge", "scan", "vector"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // plain-Scala reference: Lucene idf, k1=1.2, b=0.75, N=4, avgdl=3.25
    val (k1, b, n, avgdl) = (1.2, 0.75, 4.0, 13.0 / 4.0)
    def idf(df: Int) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def term(df: Int, tf: Long, dl: Long) =
      idf(df) * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      0L -> r6(term(1, 2, 4) + term(3, 1, 4)),        // merge x2, scan x1
      1L -> r6(term(3, 1, 2) + term(1, 1, 2)),        // scan, vector
      3L -> r6(term(3, 1, 1)),                        // scan only
    )
    assert(out.map(_._1).toSet == Set(0L, 1L, 3L), s"docs ranked: ${out.toSeq}")
    out.foreach { case (id, s) =>
      assert(math.abs(s - expected(id)) < 1e-9, s"doc $id: got $s want ${expected(id)}")
    }
    // descending by score, doc_id tiebreak
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
  }

  test("conditional bigram NLL matches a plain-Scala computation; 1-token docs drop") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b"),   // bigrams: "a b" x2, "b a" x1
      (1L, "a b c"),     // "a b", "b c"
      (2L, "solo"),      // no bigrams -> absent
    ).toDF("doc_id", "text")
    val out = graft.ops.Text.bigramNll(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus bigram counts: "a b"->3, "b a"->1, "b c"->1; left: a->3, b->2
    def nll(cbg: Double, cw1: Double) = -math.log(cbg / cw1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d0 = r6((2 * nll(3, 3) + 1 * nll(1, 2)) / 3.0)
    val d1 = r6((nll(3, 3) + nll(1, 2)) / 2.0)
    assert(out.keySet == Set(0L, 1L), s"got ${out.keySet}")
    assert(out(0L)._1 == 3L && math.abs(out(0L)._2 - d0) < 1e-9, s"doc 0: ${out(0L)} want $d0")
    assert(out(1L)._1 == 2L && math.abs(out(1L)._2 - d1) < 1e-9, s"doc 1: ${out(1L)} want $d1")
  }

  test("qualityModel scorer: planted separation and exact hand-computed scores") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // the same deterministic weight the operator derives: LCG over the
    // portable polynomial feature hash
    def weightOf(w: String): Long = {
      val feat = graft.plans.CharPolyHash.compute(UTF8String.fromString(w)) % 1024L
      (feat * 1103515245L + 12345L) % 2001L - 1000L
    }
    // plant: pick clearly-positive and clearly-negative tokens from a
    // candidate pool (deterministic — the pool and thresholds are fixed)
    val pool = (0 until 400).map(i => s"tok$i")
    val good = pool.filter(weightOf(_) > 300).take(5)
    val bad = pool.filter(weightOf(_) < -300).take(5)
    assert(good.size == 5 && bad.size == 5, "candidate pool must yield 5+5 planted tokens")
    val docs = Seq(
      (1L, good.mkString(" ")),                      // strongly positive
      (2L, bad.mkString(" ")),                       // strongly negative
      (3L, (good.take(2) ++ bad.take(2)).mkString(" ")), // mixed
    ).toDF("doc_id", "text")
    val weights = spark.range(1024).select($"id".as("feat"),
      (($"id" * 1103515245L + 12345L) % 2001L - 1000L).as("weight"))
    val out = graft.ops.Text.scoreLinear(docs, weights, 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    def expScore(ws: Seq[String]) = ws.map(weightOf).sum
    assert(out(1L) == ((5L, expScore(good), 1)), s"good doc: ${out(1L)}")
    assert(out(2L) == ((5L, expScore(bad), 0)), s"bad doc: ${out(2L)}")
    val mixed = expScore(good.take(2) ++ bad.take(2))
    assert(out(3L) == ((4L, mixed, if (mixed >= 0) 1 else 0)), s"mixed doc: ${out(3L)}")
    // separation: the planted-good doc outscores mixed outscores planted-bad
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("longestDupSpan: planted cross-doc span, within-doc repeat, and a dup-free corpus") {
    import spark.implicits._
    // cross-doc: "a b c d" (4 tokens) planted in docs 1 and 2; nothing
    // longer repeats
    val docs = Seq(
      (1L, "x a b c d y"),
      (2L, "q a b c d z"),
      (3L, "completely unrelated words here"),
    ).toDF("doc_id", "text")
    val got = graft.ops.Text.longestDupSpan(docs).collect()
    assert(got.length == 1, got.mkString("; "))
    val r = got(0)
    assert(r.getString(0) == "a b c d" && r.getInt(1) == 4 &&
      r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 1L, r.toString)

    // within-doc repeat counts positions: "a b a b a" has "a b a"
    // twice (positions 1 and 3) and no duplicated 4-span
    val self = Seq((7L, "a b a b a")).toDF("doc_id", "text")
    val g2 = graft.ops.Text.longestDupSpan(self).collect()
    assert(g2.length == 1, g2.mkString("; "))
    assert(g2(0).getString(0) == "a b a" && g2(0).getInt(1) == 3 &&
      g2(0).getLong(2) == 2L && g2(0).getLong(3) == 1L, g2(0).toString)

    // no duplicate anywhere (all tokens globally distinct) -> empty
    val uniq = Seq((1L, "p q r"), (2L, "s t u")).toDF("doc_id", "text")
    assert(graft.ops.Text.longestDupSpan(uniq).collect().isEmpty)
  }

  test("RRF fusion equals the hand-fused legs on the real sf0.001 tables") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val lex = graft.ops.Text.bm25Rank(
        graft.Tables.documents(spark, dir), Seq("merge", "scan", "vector"), k = 50)
      .collect().sortBy(r => (-r.getDouble(1), r.getLong(0)))
      .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    val dense = graft.api.Similarity.cosineTopK(
        graft.Tables.embeddings(spark, dir), "vec_id", "embedding", probeId = 0L, k = 50)
      .collect().sortBy(r => (-r.getDouble(r.fieldIndex("cos_sim")), r.getLong(0)))
      .zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (lex.keySet ++ dense.keySet).map { id =>
      id -> (r6(lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)),
        lex.getOrElse(id, -1L), dense.getOrElse(id, -1L))
    }.toSeq.sortBy { case (id, (rrf, _, _)) => (-rrf, id) }.take(10)
    val got = graft.ops.Text.textRrf(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
  }

  test("rolling-hash fingerprint matches hand computation") {
    import spark.implicits._
    val df = Seq((1L, "ab")).toDF("doc_id", "text")
    val fp = df.select(
      aggregate(split($"text", ""), lit(0L), (acc, c) => (acc * 31 + ascii(c)) % 1000000007L))
      .head.getLong(0)
    assert(fp == (97L * 31 + 98) % 1000000007L) // 'a'=97, 'b'=98
  }

  test("portable simhash: identical shingle sets collide at hamming 0, unrelated don't") {
    import spark.implicits._
    // simhash with 10-shingle docs is NOISY by construction (per-bit
    // majority margin ~sqrt(shingles)), so the planted pair here is an
    // exact shingle-set duplicate (token order shuffled inside a
    // repeated phrase won't do — same 3-gram multiset required)
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "spark shuffles partition data across executors during wide stages"),
      (3L, "window functions rank rows within ordered partitions efficiently here"),
    ).toDF("doc_id", "text")
    val out = graft.api.Dedup.simhash(docs, "doc_id", "text", n = 3, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0),
      s"exact dup not at hamming 0: ${out.toSeq}")
    assert(!out.exists(p => Set(p._1, p._2).intersect(Set(2L, 3L)).nonEmpty),
      s"unrelated docs surfaced: ${out.toSeq}")
  }

  test("df-capped Jaccard: a planted boilerplate shingle stops being quadratic") {
    import spark.implicits._
    // 200 docs ALL sharing one boilerplate phrase (3 shingles with
    // df=200) + unique content; docs 0/1 are a genuine near-dup pair
    val boiler = "copyright header applies to this file"
    val docs = (0 until 200).map { i =>
      val body =
        if (i == 1) "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        else if (i == 0) "alpha beta gamma delta epsilon zeta eta theta iota lambda"
        else s"unique$i content$i varies$i alot$i here$i now$i then$i done$i extra$i more$i"
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")
    val shingled = graft.api.Dedup.shingles(docs, "doc_id", "text", n = 3)
    // uncapped inverted index: every doc pair shares the boilerplate
    // shingles → the full quadratic C(200,2) candidate set
    val uncapped = graft.api.Dedup.jaccardCandidates(shingled, Int.MaxValue).count()
    assert(uncapped == 200L * 199 / 2, s"fixture not fully connected: $uncapped")
    // df ≤ 100 prunes the boilerplate posting lists: only pairs sharing
    // sub-cap shingles survive candidate generation
    val capped = graft.api.Dedup.jaccardCandidates(shingled, 100).count()
    assert(capped < 20, s"df cap did not bound the candidate set: $capped")
    // and the genuine near-dup still comes out, with exact Jaccard
    val pairs = graft.api.Dedup.ngramJaccard(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = 100)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"expected only the planted pair: $pairs")
  }

  test("product quantization: 32x smaller codes, ADC recall ≥ 0.7, re-rank recovers ≥ 0.9") {
    import spark.implicits._
    val rows = for { c <- 0 until 10; m <- 0 until 20 } yield {
      val v = new Array[Float](64)
      for (d <- 0 until 10) v(c * 5 + d % 5) = 1.0f
      v((c * 5 + m % 5) % 64) += 0.2f * (m % 3)
      (c.toLong * 20 + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val books = graft.api.Similarity.pqFit(emb, "vec_id", "embedding", m = 8, k = 16, iters = 5)
    // ≤ k, never == k pinned: the farthest-point init stops early when
    // the sample has fewer than k distinct subvectors (this fixture's
    // subspaces are deliberately repetitive), so codebooks are
    // duplicate-free rather than padded with distance-0 copies
    assert(books.length == 8 && books.forall(b => b.length <= 16 && b.nonEmpty))
    assert(books.forall(b => b.distinct.length == b.length),
      "codebook contains duplicate centroids")
    val codes = graft.api.Similarity.pqEncode(emb, "vec_id", "embedding", books)
    // plan shape over a REAL source (a local relation constant-folds to
    // LocalTableScan and proves nothing): the encode is one projection
    // over the scan — no UDF boundary, no shuffle, no aggregate. (It is
    // deliberately NOT whole-stage-codegen'd: the HOF argmin form
    // replaced an unrolled projection whose single generated method
    // blew the JVM's 64 KB limit and paid a compile-fail-fallback on
    // every execution — see pqEncode's Scaladoc.)
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    try {
      emb.write.mode("overwrite").parquet(pqDir + "/emb")
      val encExec = collectExec(graft.api.Similarity.pqEncode(
          spark.read.parquet(pqDir + "/emb"), "vec_id", "embedding", books)
        .queryExecution.executedPlan)
      assert(encExec.exists(_.isInstanceOf[org.apache.spark.sql.execution.ProjectExec]),
        s"encode is not a plain projection: ${encExec.map(_.nodeName)}")
      assert(!encExec.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        "encode must not shuffle")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(pqDir))
    }
    // compression: 8 codes (each < 16 → a 4-bit nibble, byte-stored) vs
    // 64 float32s = 256 bytes → ≥ 32× smaller as stored codes
    val maxCode = codes.select(max(expr("array_max(codes)"))).as[Int].head()
    assert(maxCode < 16, s"code out of nibble range: $maxCode")
    val probe = rows.find(_._1 == 0L).get._2.map(_.toDouble).toSeq
    val adcTop = graft.api.Similarity.pqTopK(codes, probe, books, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val bruteTop = graft.api.Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val adcRecall = (adcTop & bruteTop).size.toDouble / bruteTop.size
    assert(adcRecall >= 0.7, s"ADC recall=$adcRecall adc=$adcTop brute=$bruteTop")
    // standard PQ practice: approximate-scan a wider candidate set,
    // exact re-rank the survivors — recall recovers
    val cand = graft.api.Similarity.pqTopK(codes, probe, books, k = 50)
      .select($"vec_id").as[Long].collect().toSet
    val rerank = graft.api.Similarity.cosineTopK(
        emb.filter($"vec_id".isin(cand.toSeq: _*)), "vec_id", "embedding", 0L, 10)
      .select($"vec_id").as[Long].collect().toSet
    val rerankRecall = (rerank & bruteTop).size.toDouble / bruteTop.size
    assert(rerankRecall >= 0.9, s"re-rank recall=$rerankRecall")

    // model persistence: fit-once/encode-forever — reloaded codebooks
    // are value-identical (doubles round-trip parquet bit-exactly) and
    // produce identical codes
    val mdlDir = java.nio.file.Files.createTempDirectory("graft_pq_model").toString
    try {
      graft.api.Similarity.saveCodebooks(spark, books, mdlDir + "/books")
      val loaded = graft.api.Similarity.loadCodebooks(spark, mdlDir + "/books")
      assert(loaded == books, "codebooks did not round-trip")
      val codes2 = graft.api.Similarity.pqEncode(emb, "vec_id", "embedding", loaded)
        .as[(Long, Seq[Int])].collect().toMap
      val codes1 = codes.as[(Long, Seq[Int])].collect().toMap
      assert(codes1 == codes2, "reloaded model encodes differently")
    } finally {
      def rm2(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm2)); f.delete(); ()
      }
      rm2(new java.io.File(mdlDir))
    }

    // IVF-PQ composition (the documented pairing): restrict the ADC
    // scan to the probe's IVF cells — candidates strictly prune the
    // corpus, and recall over the pruned scan stays high
    val ivfCand = graft.api.Similarity.ivfCandidates(emb, "vec_id", "embedding",
        probeId = 0L, nCells = 10, nProbe = 3, iters = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(ivfCand.size < rows.size, "IVF probe did not prune")
    val ivfpqTop = graft.api.Similarity.pqTopK(
        codes.filter($"vec_id".isin(ivfCand.toSeq: _*)), probe, books, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val ivfpqRecall = (ivfpqTop & bruteTop).size.toDouble / bruteTop.size
    assert(ivfpqRecall >= 0.7, s"IVF-PQ recall=$ivfpqRecall")
  }

  test("qualityAdaptive thresholds are the exact rank-based percentiles") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "driver testdata not present")
    // independent driver-side derivation: sort ALL token counts, take the
    // ceil(N/20)-th and ceil(19N/20)-th smallest (1-indexed)
    val counts = Tables.documents(spark, dir)
      .select(size(split($"text", " "))).as[Int].collect().sorted
    val n = counts.length
    val expLo = counts((n + 19) / 20 - 1)
    val expHi = counts((19 * n + 19) / 20 - 1)
    val row = graft.ops.Text.qualityAdaptive(spark, dir).head()
    assert(row.getAs[Int]("lo") === expLo, "lo must be the ceil(N/20)-th smallest")
    assert(row.getAs[Int]("hi") === expHi, "hi must be the ceil(19N/20)-th smallest")
    assert(expLo <= expHi)
  }
}
