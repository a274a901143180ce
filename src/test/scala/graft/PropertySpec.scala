package graft

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2-3). Each property drives
  * full Spark plans on generated inputs — sized small so the suite stays
  * seconds-scale. Plain scalacheck Gen with fixed seeds (the
  * scalatest/scalacheck bridge artifact is not in the offline cache, and
  * fixed seeds make failures reproducible anyway). */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (1 to 5).foreach { i =>
      g(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 5).foreach { i =>
      for {
        a <- g1(Gen.Parameters.default, Seed(42L + i))
        b <- g2(Gen.Parameters.default, Seed(142L + i))
      } f(a, b)
    }

  private val textsGen: Gen[List[String]] = {
    val word = Gen.oneOf("the", "fast", "key", "order", "sort", "scan", "merge", "a")
    val text = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, text))
  }

  test("dedup by normalized key is idempotent") {
    import spark.implicits._
    forAll(textsGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def dedup(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("k", array_join(array_sort(array_distinct(split($"text", " "))), " "))
        .groupBy($"k").agg(min($"doc_id").as("doc_id"), first($"text").as("text"))
        .select($"doc_id", $"text")
      val once = dedup(df)
      val twice = dedup(once)
      assert(once.count() == twice.count())
      assert(once.select($"doc_id").as[Long].collect().sorted.toSeq ==
        twice.select($"doc_id").as[Long].collect().sorted.toSeq)
    }
  }

  test("cosine is symmetric and self-similarity ≈ 1") {
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-5.0f, 5.0f))
      .suchThat(v => v.exists(x => math.abs(x) > 0.1f))
    forAll(vecGen, vecGen) { (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val r = df.select(
        V.cosine($"a", $"b").as("ab"), V.cosine($"b", $"a").as("ba"),
        V.cosine($"a", $"a").as("aa")).head
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("union cardinality: |A ∪all B| = |A| + |B|; distinct ≤ all") {
    import spark.implicits._
    val keysGen = Gen.listOf(Gen.chooseNum(0, 20))
    forAll(keysGen, keysGen) { (xs, ys) =>
      val a = xs.toDF("k")
      val b = ys.toDF("k")
      assert(a.unionByName(b).count() == xs.size + ys.size)
      assert(a.unionByName(b).distinct().count() <= (xs ++ ys).size)
      assert(a.unionByName(b).distinct().count() == (xs ++ ys).distinct.size)
    }
  }

  test("filter-then-join equals join-then-filter") {
    import spark.implicits._
    val rowsGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), Gen.chooseNum(0, 100)))
    forAll(rowsGen, rowsGen) { (left, right) =>
      val l = left.toDF("k", "v")
      val r = right.map { case (k, v) => (k, v) }.toDF("k", "w")
      val pred = $"v" > 50
      val a = l.filter(pred).join(r, "k").count()
      val b = l.join(r, "k").filter(pred).count()
      assert(a == b)
    }
  }

  test("sessionization: session count between 1 and event count per user") {
    import spark.implicits._
    val evGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 100000L)))
      .suchThat(_.nonEmpty)
    forAll(evGen) { rows =>
      val df = rows.zipWithIndex.map { case ((u, off), i) =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + off * 1000), u)
      }.toDF("event_id", "ts", "user_id")
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val out = df
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("ns", when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1).otherwise(0))
        .withColumn("sid", sum($"ns").over(byUser.rowsBetween(Long.MinValue, 0)))
        .groupBy($"user_id")
        .agg(max($"sid").as("n_sessions"), count(lit(1)).as("n_events"))
        .collect()
      out.foreach { r =>
        assert(r.getLong(1) >= 1L && r.getLong(1) <= r.getLong(2))
      }
    }
  }

  test("clusterPairs: chains collapse to min id; idempotent; count-bounded") {
    import spark.implicits._
    // two chains (diameter > 1 forces multi-round propagation) + a pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (21L, 20L), (21L, 22L)).toDF("a_id", "b_id")
    val m = graft.api.Dedup.clusterPairs(pairs, "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), m.toString)
    // idempotence: clustering the (doc, canonical) edges reproduces the map
    val again = graft.api.Dedup.clusterPairs(
        m.toSeq.toDF("a_id", "b_id"), "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == m, s"not idempotent: $again")
    // cluster count ≤ doc count, canonical is a member ≤ every member
    assert(m.values.toSet.size <= m.size)
    assert(m.forall { case (doc, canon) => canon <= doc && m(canon) == canon })
  }

  test("minhash band-occupancy cap: a boilerplate clique stops being quadratic, other pairs survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fixture: a 60-doc identical-text CLIQUE (60·59/2 = 1770 candidate
    // pairs from EVERY band — the O(clique²) pathology the first x10
    // rehearsal hit at 79 GB of spill) plus one genuine near-dup pair
    // with unique vocabulary
    val clique = (0L until 60L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val nearA = (100L, "red orange yellow green blue indigo violet umber ochre teal")
    val nearB = (101L, "red orange yellow green blue indigo violet umber ochre navy")
    val docs = (clique :+ nearA :+ nearB).toDF("doc_id", "text")
    // cap 8 < 60: every band bucket the clique occupies is dropped, so
    // the clique contributes ZERO candidates; the near-dup pair's
    // buckets hold 2 docs and survive
    val capped = graft.api.Dedup.minhashLsh(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxBandOccupancy = 8)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)),
      s"capped banding must keep exactly the non-clique pair, got $capped")
    // uncapped control on the same corpus: the clique pairs ARE the
    // output (1770 of them) — the cap is what bounds the candidate set
    val uncapped = graft.api.Dedup.minhashLsh(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxBandOccupancy = Int.MaxValue).count()
    assert(uncapped == 1770L + 1L, s"uncapped control should emit the clique, got $uncapped")
  }

  test("simhash chunk-occupancy cap: a boilerplate clique stops being quadratic, other pairs survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same pathology as the minhash test above, via the simhash path:
    // the round-6 x10 rehearsal found simhash's scaladoc CLAIMED the
    // cap but the code never applied it — 1M docs × 8-bit chunk keys
    // self-joined into ~10^10 candidate pairs, filled the disk, and
    // took down the 13 queries scheduled after it. An identical-text
    // clique shares all 8 chunk keys, so with cap < clique size every
    // clique bucket drops; the near-dup pair (hamming 0 on n=3
    // shingles is too strict for one changed word, so assert on the
    // identical-text pair instead) survives in 2-doc buckets.
    val clique = (0L until 60L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val pairA = (100L, "red orange yellow green blue indigo violet umber ochre teal")
    val pairB = (101L, "red orange yellow green blue indigo violet umber ochre teal")
    val docs = (clique :+ pairA :+ pairB).toDF("doc_id", "text")
    val capped = graft.api.Dedup.simhash(docs, "doc_id", "text",
        n = 3, maxHamming = 7, maxChunkOccupancy = 8)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)),
      s"capped simhash banding must keep exactly the non-clique pair, got $capped")
    // uncapped control: the clique's 1770 pairs all come back
    val uncapped = graft.api.Dedup.simhash(docs, "doc_id", "text",
      n = 3, maxHamming = 7, maxChunkOccupancy = Int.MaxValue).count()
    assert(uncapped == 1770L + 1L, s"uncapped control should emit the clique, got $uncapped")
  }

  test("crossCorpus: bloom prune never changes the answer; high fpp still exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // adversarial fixture: duplicate keys across corpora, unique keys,
    // and a null-text row; the bloom may false-positive but the output
    // must equal the plain semi-join at ANY fpp and ANY bucket count
    val docs = (0L until 200L).map { i =>
      val text = if (i % 13 == 12) null
      else if (i % 7 == 0) s"shared text ${i % 14}"
      else s"unique text $i"
      (i, text)
    }.toDF("doc_id", "text")
    val ref = docs.filter($"doc_id" % 2 === 0)
    val neu = docs.filter($"doc_id" % 2 === 1)
    val key = col("text")
    def expected = neu.join(ref.select($"text").distinct(), Seq("text"), "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    // fpp 0.5 makes false positives near-certain; buckets 1/16/64 span
    // one-filter-total through more-buckets-than-matching-keys (64
    // buckets over ~100 reference keys leaves many buckets empty, so
    // the left-join null-filter path runs too). Every combination must
    // reproduce the plain semi-join exactly.
    for (fpp <- Seq(0.5, 0.01); b <- Seq(1, 16, 64)) {
      val got = graft.api.Dedup.crossCorpus(neu, ref, "doc_id", key, fpp, buckets = b)
        .filter($"is_dup").select($"doc_id").as[Long].collect().toSet
      assert(got == expected, s"fpp=$fpp buckets=$b: bloom changed the answer")
    }
    // annotation covers EVERY new-corpus row, dup or not
    val n = graft.api.Dedup.crossCorpus(neu, ref, "doc_id", key, 0.01).count()
    assert(n == neu.count(), "crossCorpus must annotate every input row")
    // EMPTY reference: the bloom aggregate evals to null — the API must
    // answer "nothing is a dup", not crash
    val vsEmpty = graft.api.Dedup.crossCorpus(neu, ref.limit(0), "doc_id", key, 0.01)
    assert(vsEmpty.filter($"is_dup").count() == 0L
      && vsEmpty.count() == neu.count(), "empty reference must flag nothing")
  }

  test("crossCorpus: interpreted eval path matches codegen (BloomMightContainKeyed)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // BloomMightContainKeyed has two eval paths: doGenCode (the one every
    // normal run exercises) and nullSafeEval with a ThreadLocal cache,
    // which only runs when codegen is off or falls back. Force the
    // interpreted path and assert it reproduces the plain semi-join on
    // the same adversarial fixture as the codegen test above.
    val docs = (0L until 200L).map { i =>
      val text = if (i % 13 == 12) null
      else if (i % 7 == 0) s"shared text ${i % 14}"
      else s"unique text $i"
      (i, text)
    }.toDF("doc_id", "text")
    val ref = docs.filter($"doc_id" % 2 === 0)
    val neu = docs.filter($"doc_id" % 2 === 1)
    val expected = neu.join(ref.select($"text").distinct(), Seq("text"), "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    val savedWsc = spark.conf.get("spark.sql.codegen.wholeStage")
    val savedMode = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      for (b <- Seq(1, 16)) {
        val got = graft.api.Dedup.crossCorpus(neu, ref, "doc_id", col("text"),
            fpp = 0.5, buckets = b)
          .filter($"is_dup").select($"doc_id").as[Long].collect().toSet
        assert(got == expected,
          s"interpreted bloom probe diverged from semi-join at buckets=$b")
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", savedWsc)
      spark.conf.set("spark.sql.codegen.factoryMode", savedMode)
    }
  }

  test("multi-probe sketch pairs are a superset of single-probe pairs") {
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0))
    val corpusGen = Gen.chooseNum(10, 40).flatMap(n => Gen.listOfN(n, vecGen))
    forAll(corpusGen) { vecs =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
      def pairSet(d: org.apache.spark.sql.DataFrame) =
        d.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      val single = pairSet(graft.api.Similarity.allPairsSketch(
        df, "vec_id", "embedding", threshold = 0.1, nBits = 4, extraBits = 2, maxOccupancy = 8))
      val multi = pairSet(graft.api.Similarity.allPairsSketchMultiProbe(
        df, "vec_id", "embedding", threshold = 0.1, nBits = 4, extraBits = 2, maxOccupancy = 8))
      assert(single.subsetOf(multi),
        s"single-probe pairs missing from multi-probe: ${single.diff(multi)}")
    }
  }

  test("clusterPairs converges in ≤ ceil(log2(diameter)) + 2 rounds on chains and stars") {
    import spark.implicits._
    // The one-job-per-round engineering in clusterPairs is only a win if
    // the round count really is logarithmic in component diameter — this
    // guards that bound on the worst case (a path) and the best (a star).
    // +2 slack: one round because the pointer jump reads the PREVIOUS
    // generation's labels, one for the fixpoint-detection round itself.
    def bound(diameter: Int): Int =
      math.ceil(math.log(diameter.toDouble) / math.log(2.0)).toInt + 2
    for (n <- Seq(9, 17, 33)) { // path 0-1-…-(n-1), diameter n-1
      val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      val (res, rounds) = graft.api.Dedup.clusterPairsRounds(
        chain.toDF("a_id", "b_id"), "a_id", "b_id", maxIters = 30)
      assert(res.collect().forall(_.getLong(1) == 0L))
      assert(rounds <= bound(n - 1), s"chain n=$n took $rounds rounds > ${bound(n - 1)}")
    }
    val star = (1L to 20L).map(i => (0L, i)) // diameter 2
    val (sres, srounds) = graft.api.Dedup.clusterPairsRounds(
      star.toDF("a_id", "b_id"), "a_id", "b_id", maxIters = 30)
    assert(sres.collect().forall(_.getLong(1) == 0L))
    assert(srounds <= bound(2), s"star took $srounds rounds > ${bound(2)}")
  }

  test("resampleLocf property: complete grid, exact gap count, LOCF matches driver replay") {
    import spark.implicits._
    // random per-key sparse hour offsets → the operator must emit
    // exactly (max-min+1) buckets per key, flag exactly the missing
    // hours, and carry the last observed max forward — all checked
    // against a driver-side replay of the same contract
    val obsGen = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 23), Gen.chooseNum(1.0, 9.0))))
    forAll(obsGen) { obs =>
      val rows = obs.map { case (h, v) =>
        ("k", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00"), v)
      }
      val out = graft.api.Temporal.resampleLocf(
          rows.toDF("k", "t", "v"), "k", "t", "v")
        .collect()
        .map(r => (r.getTimestamp(1).getHours, r.getLong(2), r.getDouble(3), r.getInt(4)))
        .sortBy(_._1)
      val byHour = obs.groupBy(_._1)
      val (lo, hi) = (obs.map(_._1).min, obs.map(_._1).max)
      assert(out.map(_._1).toSeq == (lo to hi).toSeq, s"grid holes: ${out.toSeq}")
      var last = 0.0
      (lo to hi).zip(out).foreach { case (h, (_, n, filled, gap)) =>
        byHour.get(h) match {
          case Some(vs) =>
            last = math.round(vs.map(_._2).max * 1e6) / 1e6
            assert(n == vs.size && gap == 0 && filled == last, s"hour $h: ${out.toSeq}")
          case None =>
            assert(n == 0 && gap == 1 && filled == last, s"gap hour $h: ${out.toSeq}")
        }
      }
    }
  }

  test("clusterPairs property: random graphs match a driver-side union-find") {
    import spark.implicits._
    val edgesGen = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L))))
    forAll(edgesGen) { es =>
      val edges = es.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // reference: classic union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(k => k -> find(k)).toMap
        val got = graft.api.Dedup.clusterPairs(
            edges.toDF("a_id", "b_id"), "a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == expected, s"edges=$edges got=$got expected=$expected")
      }
    }
  }

  test("rankScale maps any [lo, hi] value into [0, 2^bits) with endpoints at the edges") {
    import spark.implicits._
    val caseGen = for {
      lo <- Gen.chooseNum(-1000000L, 1000000L)
      span <- Gen.chooseNum(1L, 2000000L)
      bits <- Gen.chooseNum(1, 16)
      vs <- Gen.listOfN(50, Gen.chooseNum(0L, span))
    } yield (lo, lo + span, bits, vs.map(_ + lo))
    forAll(caseGen) { case (lo, hi, bits, vs) =>
      val df = (vs :+ lo :+ hi).toDF("c")
        .select(graft.api.ZOrder.rankScale($"c", lit(lo), lit(hi), bits).as("s"), $"c")
      val rows = df.as[(Long, Long)].collect()
      rows.foreach { case (s, c) =>
        assert(s >= 0 && s < (1L << bits), s"scale($c) = $s out of range (lo=$lo hi=$hi bits=$bits)")
      }
      val sMap = rows.map { case (s, c) => c -> s }.toMap
      assert(sMap(lo) == 0L, s"lo must scale to 0, got ${sMap(lo)}")
      // monotone in the input (a scaling that reorders keys would break
      // the Morton locality argument); hi reaches the top bucket only
      // when the span ≥ 2^bits, so that is deliberately NOT asserted
      val sorted = rows.sortBy(_._2).map(_._1)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b }, "not monotone")
    }
  }

  test("triangleCount's three counts equal a driver-side count on random baskets") {
    import spark.implicits._
    // orders of 1-6 lines over up to 12 parts; repeated lines, non-%10
    // orders (filtered out by the query) and single-part baskets included
    val basketsGen = for {
      nParts <- Gen.chooseNum(3, 12)
      nOrders <- Gen.chooseNum(0, 25)
      orders <- Gen.listOfN(nOrders, for {
        ok <- Gen.chooseNum(1L, 60L)
        k <- Gen.chooseNum(1, 6)
        parts <- Gen.listOfN(k, Gen.chooseNum(0L, nParts - 1L))
      } yield parts.map(ok -> _))
    } yield orders.flatten
    forAll(basketsGen) { lines =>
      val d = java.nio.file.Files.createTempDirectory("graft-tri").toFile
      try {
        lines.toDF("l_orderkey", "l_partkey")
          .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
        val got = graft.ops.Graph.triangleCount(spark, d.toString).collect()
        val edges = lines.filter(_._1 % 10 == 0).groupBy(_._1).values
          .flatMap { ls =>
            val ps = ls.map(_._2).distinct.sorted
            for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
          }.toSet
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
        var tris = 0L
        for {
          i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
          if edges((nodes(i), nodes(j))) && edges((nodes(j), nodes(k))) &&
            edges((nodes(i), nodes(k)))
        } tris += 1
        assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
          Seq((nodes.size.toLong, edges.size.toLong, tris)), s"lines=$lines")
      } finally {
        spark.catalog.clearCache()
        org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
    }
  }

  test("hllDistinct equals approx_count_distinct(v, 0.02) bit for bit") {
    import spark.implicits._
    // precision as HyperLogLogPlusPlusHelper derives it: if Spark's
    // derivation drifts, the kernel's registers stop matching and the
    // equality below fails
    val p = math.ceil(2.0d * math.log(1.106d / 0.02) / math.log(2.0d)).toInt
    val m = 1 << p
    // distinct counts per group span both estimator ranges: linear
    // counting (small), bias-corrected (< 5m) and raw (> 5m); "nulls" is
    // all-null (the built-in emits 0), "mixed" interleaves nulls
    val sizes = Seq("nulls" -> 0, "one" -> 1, "small" -> 300, "linear" -> m / 2,
      "bias" -> 3 * m, "raw" -> 6 * m, "mixed" -> 2000)
    for (seed <- Seq(11L, 12L)) {
      val rnd = new scala.util.Random(seed)
      val rows = sizes.flatMap { case (g, n) =>
        val vs = Seq.fill(n)(rnd.nextLong())
        // every value at least once, some twice, in shuffled order
        val dup = rnd.shuffle(vs ++ vs.take(n / 3)).map(Option(_))
        val nulls = if (g == "nulls" || g == "mixed") Seq.fill(50)(None) else Nil
        rnd.shuffle(dup ++ nulls).map(v => (g, v))
      }
      val df = rows.toDF("g", "v").repartition(4)
      val got = graft.ops.Relational.hllDistinct(df, "g", "v", "n")
        .as[(String, Long)].collect().toMap
      val want = df.groupBy($"g").agg(approx_count_distinct($"v", 0.02).as("n"))
        .as[(String, Long)].collect().toMap
      assert(got == want, s"seed=$seed")
      assert(want("nulls") == 0L && want.size == sizes.size)
    }
    val empty = Seq.empty[(String, java.lang.Long)].toDF("g", "v")
    assert(graft.ops.Relational.hllDistinct(empty, "g", "v", "n").collect().isEmpty)
    assert(empty.groupBy($"g").agg(approx_count_distinct($"v", 0.02)).collect().isEmpty)
  }

  test("pageRankIterate matches a driver-side integer replay on random graphs") {
    import spark.implicits._
    // random directed graphs: up to 12 nodes, up to 30 distinct edges
    val edgeGen = for {
      n <- Gen.chooseNum(2, 12)
      m <- Gen.chooseNum(1, 30)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0, n - 1); d <- Gen.chooseNum(0, n - 1)
      } yield (s.toLong, d.toLong))
    } yield es.distinct
    forAll(edgeGen) { es =>
      val e = es.toDF("src", "dst")
      val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      val nodes = e.select($"src".as("node")).union(e.select($"dst".as("node"))).distinct()
      var ranks = nodes.withColumn("pr", lit(1000000L))
      for (_ <- 1 to 3)
        ranks = graft.ops.Graph.pageRankIterate(e, deg, nodes, ranks)
      val got = ranks.as[(Long, Long)].collect().toMap
      // replay: same integer arithmetic, scala.Map instead of DataFrames
      val degM = es.groupBy(_._1).map { case (s, l) => s -> l.size.toLong }
      val ns = (es.map(_._1) ++ es.map(_._2)).distinct
      var r = ns.map(_ -> 1000000L).toMap
      for (_ <- 1 to 3) {
        val contrib = es.groupBy(_._2).map { case (d, in) =>
          d -> in.map { case (s, _) => r(s) / degM(s) }.sum
        }
        r = ns.map(n => n -> (150000L + 85L * contrib.getOrElse(n, 0L) / 100L)).toMap
      }
      assert(got == r, s"edges=$es")
    }
  }

  private val vecsGen: Gen[List[List[Float]]] = {
    val coord = Gen.chooseNum(-1000, 1000).map(_ / 777.0f)
    val vec = Gen.listOfN(6, coord)
    Gen.chooseNum(4, 30).flatMap(n => Gen.listOfN(n, vec))
  }

  test("kmeansAssign equals a driver-side reference on random vectors") {
    import spark.implicits._
    forAll(vecsGen) { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("vec_id", "embedding")
      val k = math.min(3, rows.size)
      val got = graft.api.Clustering.kmeansAssign(df, "vec_id", "embedding", k, rounds = 2)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      // independent reference: same quantize/seed/tie-break arithmetic
      val q = rows.map { case (id, v) => id -> v.map(x => math.floor(x.toDouble * 1000.0)) }
      var cents: Seq[(Int, List[Double])] =
        q.sortBy(_._1).take(k).zipWithIndex.map { case ((_, v), i) => (i, v) }
      var assign: Map[Long, (Int, Double)] = Map.empty
      for (round <- 1 to 2) {
        assign = q.map { case (id, v) =>
          id -> cents.map { case (cl, c) =>
            (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, cl)
          }.min.swap
        }.toMap
        if (round < 2)
          cents = assign.groupBy(_._2._1).toSeq.sortBy(_._1).map { case (cl, m) =>
            val vs2 = m.keys.toSeq.map(id => q.find(_._1 == id).get._2)
            (cl, List.tabulate(6)(i => math.floor(vs2.map(_(i)).sum / vs2.size.toDouble)))
          }
      }
      assert(got === assign, s"n=${rows.size} k=$k")
    }
  }

  test("mergeInto is idempotent for update/insert and stable under re-applied deletes") {
    import spark.implicits._
    val keysGen = Gen.chooseNum(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 20L)).map(_.distinct))
    forAll(keysGen, keysGen) { (tks, cks) =>
      val target = tks.map(k => (k, s"v$k")).toDF("id", "v")
      val ops = Seq("update", "delete", "insert")
      val changes = cks.zipWithIndex
        .map { case (k, i) => (k, ops(i % 3), s"c$k") }.toDF("id", "op", "v")
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val once = graft.api.Upsert.mergeInto(target, changes, "id")
      // re-applying the SAME change feed to the merged result only flips
      // provenance (keep -> the op); the (id, v) payload is a fixed point
      val twice = graft.api.Upsert.mergeInto(once.drop("src"), changes, "id")
      val payloadOnce = norm(once).map { case (id, v, _) => (id, v) }
      val payloadTwice = norm(twice).map { case (id, v, _) => (id, v) }
      assert(payloadTwice === payloadOnce, s"target=$tks changes=$cks")
      // deleted keys stay gone; inserted keys present exactly once
      val deleted = cks.zipWithIndex.collect { case (k, i) if ops(i % 3) == "delete" => k }
      assert(payloadOnce.forall { case (id, _) => !deleted.contains(id) })
      assert(once.groupBy($"id").count().filter($"count" > 1).count() === 0L)
    }
  }
}
