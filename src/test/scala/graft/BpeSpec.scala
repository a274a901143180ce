package graft

import graft.ops.Text
import org.apache.spark.sql.functions._

/** BPE tokenizer training + paragraph-granularity dedup.
  *
  * The BPE pins are the verdict-12 "done" criterion: the distributed
  * trainer's merge sequence must equal an INDEPENDENT driver-side
  * replay of classic BPE (pair-count → argmax with the (cnt DESC,
  * lhs, rhs) tie-break → greedy left-to-right merge) on toy,
  * randomized, dense-tie and real corpora, to exhaustion depth —
  * plus direct pins of the double-space `replace` trick against greedy
  * merging on the adversarial adjacency shapes ([a,b,a,b], [a,a,a]). */
class BpeSpec extends SparkSpec {

  // ---- driver-side reference implementation (independent of the
  // DataFrame formulation: plain Scala lists) ----

  private def greedyMerge(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  private def replayBpe(wordFreq: Map[String, Long], nMerges: Int): Seq[(String, String, Long)] = {
    var cur: Map[String, (List[String], Long)] =
      wordFreq.map { case (w, f) => w -> (w.toList.map(_.toString), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var step = 0
    while (step < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      cur.values.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) step = nMerges
      else {
        val ((l, r), cnt) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((l, r, cnt))
        cur = cur.map { case (w, (syms, f)) => w -> (greedyMerge(syms, l, r), f) }
        step += 1
      }
    }
    merges.toSeq
  }

  private def wordsDf(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Text.bpeWords(docs.toDF("doc_id", "text"))
  }

  private def freqOf(docs: Seq[(Long, String)]): Map[String, Long] =
    docs.flatMap(_._2.split(" ")).groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  private def triples(merges: Seq[api.Bpe.Merge]): Seq[(String, String, Long)] =
    merges.map(m => (m.lhs, m.rhs, m.pair_count))

  test("double-space replace trick IS greedy left-to-right merging on adversarial shapes") {
    import spark.implicits._
    // [a,b,a,b] -> [ab,ab] (adjacent matches share the separator's
    // outer space); [a,a,a] -> [aa,a] (greedy, non-overlapping);
    // [b,a,b] -> [b,ab]; ["xa","b"] untouched (no mid-symbol match)
    val rows = Seq("  a  b  a  b  ", "  a  a  a  ", "  b  a  b  ", "  xa  b  ")
      .toDF("syms")
      .select(expr("replace(syms, ' a  b ', ' ab ')").as("ab"),
        expr("replace(syms, ' a  a ', ' aa ')").as("aa"))
      .collect()
    assert(rows(0).getString(0) == "  ab  ab  ")
    assert(rows(1).getString(1) == "  aa  a  ")
    assert(rows(2).getString(0) == "  b  ab  ")
    assert(rows(3).getString(0) == "  xa  b  ")
  }

  test("bpeTrain merge sequence equals the driver-side classic-BPE replay on a toy corpus") {
    val docs = Seq(
      (0L, "lower lower lowest newer newer newer new"),
      (1L, "wider wide new newer lowest"),
      (2L, "low low lower wide wide wide"))
    val expected = replayBpe(freqOf(docs), 10)
    val (got, steps) = Text.bpeTrain(wordsDf(docs), 10)
    assert(triples(got) == expected, s"\ngot:      ${triples(got)}\nexpected: $expected")
    // and the merge steps/merged strings are consistent
    assert(got.map(_.step) == (1 to 10))
    assert(got.forall(m => m.merged == m.lhs + m.rhs))
    assert(steps <= got.size)
  }

  test("bpeTrain matches the driver replay on randomized corpora (fixed seeds)") {
    // 5 seeded corpora over a small alphabet (high pair-collision rate
    // -> tie-breaks actually exercised) × deliberately hostile knobs:
    // topM at its floor (heavy truncation -> the tail threat floor is
    // live), one-merge and wide supersteps. Each runs to EXHAUSTION
    // depth: a batching or delta-maintenance bug can be invisible for
    // 14 steps and bite at 15, so equivalence pins must run the corpus
    // dry.
    for (seed <- 1 to 5; (mb, tm) <- Seq((1, 4), (4, 4), (8, 32))) {
      val rnd = new scala.util.Random(seed * 7919)
      val alphabet = "abcd"
      val docs = (0L until 3L).map { d =>
        d -> Seq.fill(8 + rnd.nextInt(8))(
          Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString
        ).mkString(" ")
      }
      val expected = replayBpe(freqOf(docs), 40)
      val (got, steps) = Text.bpeTrain(wordsDf(docs), 40, maxBatch = mb, topM = tm)
      assert(triples(got) == expected,
        s"seed=$seed maxBatch=$mb topM=$tm corpus=$docs\ngot: ${triples(got)}\nexpected: $expected")
      // maxBatch=1 degenerates to one merge per superstep
      // (+1 = the empty closing superstep at exhaustion)
      if (mb == 1)
        assert(steps == got.size || steps == got.size + 1, s"seed=$seed: $steps supersteps")
    }
  }

  test("bpeTrain degrades gracefully when the corpus exhausts before nMerges") {
    // all single-char words -> zero adjacent pairs -> zero merges after
    // one superstep, no error (the oracle side truncates identically: an
    // empty argmax CTE leaves the symbol strings UNCHANGED via the CASE
    // guard — so the merge table AND the downstream count/packing oracles
    // all mirror Spark's early loop exit)
    val (m0, s0) = Text.bpeTrain(wordsDf(Seq((0L, "a b c a b"))), 5)
    assert(m0.isEmpty && s0 == 1)
    // two-char words exhaust after exactly one merge per distinct pair
    val (m2, _) = Text.bpeTrain(wordsDf(Seq((0L, "ab ab cd"))), 5)
    assert(m2.map(x => (x.lhs, x.rhs)) == Seq(("a", "b"), ("c", "d")))
  }

  test("bpeTrain is deterministic across invocations (fresh plans, no memo)") {
    val docs = Seq((0L, "aa ab aa ba ab aa"), (1L, "ba ba ab"))
    val a = Text.bpeTrain(wordsDf(docs), 6)
    val b = Text.bpeTrain(wordsDf(docs), 6)
    assert(a == b)
  }

  test("bpeTrain: the naive-batching counterexample closes the batch and stays exact") {
    // counts: (a,b)=100 tied with (x,a)=100, (c,d)=60. Classic BPE: pick
    // (a,b) (tie-break), then the NEW pair (x,ab) has count 100 and
    // beats (c,d) — a batcher that admitted (c,d) alongside (a,b) would
    // diverge here. The admission rule folds (x,a)=100 into the threat,
    // so (c,d)=60 fails 60 > 100 and the superstep closes after one
    // merge — exactness over batch size.
    val docs = Seq((0L, (("xab " * 100) + ("cd " * 60)).trim))
    val expected = replayBpe(freqOf(docs), 4)
    val (got, steps) = Text.bpeTrain(wordsDf(docs), 4, maxBatch = 8, topM = 16)
    assert(triples(got) == expected, s"\ngot:      $got\nexpected: $expected")
    assert(steps >= 2, s"the counterexample cannot batch its first two merges: $steps")
  }

  test("bpeAdmitBatch: a pick whose merged name already exists as a symbol CLOSES the batch") {
    // round-13 ADVICE (medium), pinned at the helper level: when an
    // admitted pick's merged name equals a pre-existing symbol s, the
    // post-batch count of a pair (x, s) is pre(x,s) PLUS the
    // occurrences the merge just created — two threat-bounded terms
    // whose SUM is not bounded — so no later same-batch admission is
    // sound. (Corpus-level reachability is an open question — a
    // 200k-corpus randomized search found no greedy-BPE run that ever
    // re-creates an existing merged name — so the path is pinned
    // directly: the registry is seeded as if a prior superstep had
    // created "cd".)
    val rows = Array(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 80L))
    val clean = scala.collection.mutable.Set.empty[String]
    val all = Text.bpeAdmitBatch(rows, truncated = false, limit = 8, stepBase = 0, clean)
    assert(all.map(m => (m.lhs, m.rhs)) == Seq(("a", "b"), ("c", "d"), ("e", "f")),
      s"disjoint picks with no collision must all admit: $all")
    assert(clean == Set("ab", "cd", "ef"))
    val seeded = scala.collection.mutable.Set("cd")
    val closed = Text.bpeAdmitBatch(rows, truncated = false, limit = 8, stepBase = 0, seeded)
    assert(closed.map(m => (m.lhs, m.rhs)) == Seq(("a", "b"), ("c", "d")),
      s"the colliding pick itself is safe but must CLOSE the batch: $closed")
    assert(seeded == Set("ab", "cd"), "only admitted names registered")
    // collision at rank 1: admitted (rank 1 is the global argmax,
    // always exact), batch closes immediately
    val seeded1 = scala.collection.mutable.Set("ab")
    val one = Text.bpeAdmitBatch(rows, truncated = false, limit = 8, stepBase = 0, seeded1)
    assert(one.map(m => (m.lhs, m.rhs)) == Seq(("a", "b")), s"got $one")
  }

  test("dense-tie unary/binary corpora at exhaustion depth: bpeTrain stays sequential-exact") {
    // the hostile-alignment family: every symbol is a power of one or
    // two letters, so equal counts and shared-symbol conflicts are the
    // common case and greedy left-to-right alignment effects (the
    // [a,a,a] -> [aa,a] asymmetry) are maximal. Ground truth = the
    // O(n²) plain-Scala replay, run to exhaustion.
    for (seed <- 1 to 3; alphabet <- Seq("a", "ab")) {
      val rnd = new scala.util.Random(seed * 31337 + alphabet.length)
      val docs = (0L until 4L).map { d =>
        d -> Seq.fill(6 + rnd.nextInt(6))(
          Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
        ).mkString(" ")
      }
      val expected = replayBpe(freqOf(docs), 200)
      val (got, _) = Text.bpeTrain(wordsDf(docs), 200, maxBatch = 8, topM = 32)
      assert(triples(got) == expected,
        s"seed=$seed alphabet=$alphabet corpus=$docs\nfirst diff: ${triples(got).zip(expected).zipWithIndex.find(p => p._1._1 != p._1._2)}")
    }
  }

  test("bpeTrain at EXHAUSTION depth on the real corpus equals the plain-Scala replay") {
    import spark.implicits._
    // the depth regression class: the first batched formulation was
    // correct to step 14 and diverged at 15 (a conflicting pair ranked
    // BELOW an equal-count candidate bounded a new pair that tie-broke
    // above it — found at 128-merge depth, BASELINE.md; the admission
    // scan now folds the whole collected list). Ground truth at depth
    // is the O(n²) plain-Scala replay over the collected word
    // frequencies — independent of the DataFrame formulation and cheap
    // at this vocab size.
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = Text.bpeWords(docs)
    val freq: Map[String, Long] = words.select($"w", $"freq")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = replayBpe(freq, 128)
    val (got, steps) = Text.bpeTrain(words, 128)
    assert(triples(got) == expected,
      s"first diff: ${triples(got).zip(expected).find(p => p._1 != p._2)}")
    assert(got.size > Text.BpeMergeCount, "exhaustion depth must exceed the graded merge count")
    assert(steps < got.size, s"depth run must batch: $steps supersteps for ${got.size} merges")
    // the graded depth batches too
    val (graded, gradedSteps) = Text.bpeTrain(words, Text.BpeMergeCount)
    assert(triples(graded) == expected.take(Text.BpeMergeCount))
    assert(gradedSteps < Text.BpeMergeCount,
      s"real corpus must batch at least once: $gradedSteps supersteps for ${graded.size} merges")
  }

  test("bpeApply segmentation: every word re-tokenizes to the replay's symbol sequence") {
    import spark.implicits._
    val docs = Seq((0L, "lower lower lowest newer newer newer new wider wide"))
    val words = wordsDf(docs)
    val (merges, _) = Text.bpeTrain(words, 8)
    // driver replay of the final segmentation
    var seg: Map[String, List[String]] = docs.flatMap(_._2.split(" ")).distinct
      .map(w => w -> w.toList.map(_.toString)).toMap
    merges.foreach(m => seg = seg.map { case (w, s) => w -> greedyMerge(s, m.lhs, m.rhs) })
    val got = Text.bpeApply(words, merges)
      .select($"w", Text.bpeSymArray($"syms").as("sy"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got == seg)
  }

  test("public api.Bpe trains over any text column and emits the vocab-bounded segmentation") {
    import spark.implicits._
    val docs = Seq((1, "lower lower newer newer new"), (2, "wide wider lowest"))
      .toDF("k", "body")
    val merges = api.Bpe.train(docs, "body", 5)
    assert(merges.map(_.step) == (1 to 5))
    val seg = api.Bpe.segmentation(docs, "body", merges)
    assert(seg.columns.toSeq == Seq("word", "freq", "subtokens"))
    val rows = seg.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getSeq[String](2).toList)).toMap
    assert(rows.keySet == Set("lower", "newer", "new", "wide", "wider", "lowest"))
    assert(rows("lower")._1 == 2L)
    // every word's subtokens concatenate back to the word
    assert(rows.forall { case (w, (_, sub)) => sub.mkString == w })
  }

  // ---- paragraph-granularity dedup ----

  private def paraDedup(docs: Seq[(Long, String)], p: Int = 2) = {
    import spark.implicits._
    Text.dedupParagraphs(Text.paragraphView(docs.toDF("doc_id", "text"), p))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
  }

  test("paragraph dedup keeps first occurrences, reconstructs in order, empties full repeats") {
    // paraTokens=2: doc0 = [a b][c d], doc1 = [c d][e f], doc2 = [a b][c d]
    val got = paraDedup(Seq(
      (0L, "a b c d"),
      (1L, "c d e f"),
      (2L, "a b c d")))
    assert(got.toSeq == Seq(
      (0L, "a b c d", 2L, 0L), // both first occurrences
      (1L, "e f", 1L, 1L),     // "c d" already seen in doc0
      (2L, "", 0L, 2L)))       // full repeat of doc0 -> empty
  }

  test("paragraph dedup: repeated paragraph INSIDE one doc keeps only its first copy, order preserved") {
    val got = paraDedup(Seq((7L, "x y x y z w x y")))
    // paragraphs: [x y][x y][z w][x y] -> keep idx 0 and 2
    assert(got.toSeq == Seq((7L, "x y z w", 2L, 2L)))
  }

  test("paragraph dedup matches a driver-side replay on randomized corpora (fixed seeds)") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 104729)
      val vocab = Seq("a", "b", "c", "d")
      // small vocab + 2-token paragraphs -> dense collisions across and
      // within docs, first-occurrence ordering genuinely exercised
      val docs = (0L until 6L).map { d =>
        d -> Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      val p = 2
      // driver replay: keep-first by (doc_id, para_idx) per paragraph string
      val paras = docs.flatMap { case (d, text) =>
        text.split(" ").grouped(p).zipWithIndex.map { case (ws, i) => (d, i, ws.mkString(" ")) }
      }
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = paras.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, ps) =>
        val kept = ps.sortBy(_._2).filter(x => seen.add(x._3))
        (d, kept.map(_._3).mkString(" "), kept.size.toLong, (ps.size - kept.size).toLong)
      }
      val got = paraDedup(docs, p).toSeq
      assert(got == expected, s"seed=$seed corpus=$docs\ngot:      $got\nexpected: $expected")
    }
  }

  test("paragraph dedup on the real sf0.001 corpus: acts, conserves, accounts") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val deduped = Text.textDedupPara(spark, sfDir).cache()
    assert(deduped.count() == 500)
    // the corpus' exact-duplicate docs guarantee the operator ACTS
    val dropped = deduped.agg(sum($"n_dropped")).head().getLong(0)
    assert(dropped > 0L, "operator should excise something on this corpus")
    // per-doc accounting: kept + dropped == the doc's paragraph count
    val paras = Text.paragraphView(Tables.documents(spark, sfDir), 20)
      .groupBy($"doc_id").agg(count(lit(1)).as("np"))
    val bad = deduped.join(paras, "doc_id")
      .filter($"n_kept" + $"n_dropped" =!= $"np").count()
    assert(bad == 0L)
    // token conservation: distinct paragraph strings' tokens (each
    // counted once — an INDEPENDENT formulation of keep-first) equal
    // the reconstructed corpus' tokens
    val distinctToks = Text.paragraphView(Tables.documents(spark, sfDir), 20)
      .select($"ptext").distinct()
      .agg(sum(size(split($"ptext", " ")).cast("long"))).head().getLong(0)
    val outToks = deduped.filter(length($"text") > 0)
      .agg(sum(size(split($"text", " ")).cast("long"))).head().getLong(0)
    assert(distinctToks == outToks)
    deduped.unpersist()
    ()
  }

  test("dedupKeepBest: kept member is in its cluster, quality-maximal, and NOT min-id in disguise") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val best = Text.dedupKeepBest(spark, sfDir).cache()
    // quality selection genuinely diverges from the min-id default
    assert(best.filter($"kept_doc" =!= $"cluster_canon").count() > 0)
    // every kept doc's quality >= its cluster canonical's quality
    val q = Text.textQuality(spark, sfDir).select($"doc_id", $"quality")
    val bad = best
      .join(q.select($"doc_id".as("kept_doc"), $"quality".as("kq")), "kept_doc")
      .join(q.select($"doc_id".as("cluster_canon"), $"quality".as("cq")), "cluster_canon")
      .filter($"kq" < $"cq").count()
    assert(bad == 0L)
    // kept_quality matches the independent per-doc quality relation
    val mismatch = best
      .join(q.select($"doc_id".as("kept_doc"), $"quality".as("kq")), "kept_doc")
      .filter($"kept_quality" =!= $"kq").count()
    assert(mismatch == 0L)
    best.unpersist()
    ()
  }

  test("separator-reconstructing paragraph dedup is idempotent on the surviving docs") {
    import spark.implicits._
    // mixed structure: cross-doc repeats, in-doc repeats, a doc that is
    // entirely repeats (empties), and unique paragraphs
    val docs = Seq(
      (0L, "a b <p> c d <p> a b"),
      (1L, "c d <p> e f"),
      (2L, "a b <p> c d"),
      (3L, "g h")).toDF("doc_id", "text")
    val once = ops.Text.dedupParagraphsSep(docs, "<p>")
      .select($"doc_id", $"text").cache()
    val onceRows = once.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(onceRows == Seq(
      (0L, "a b <p> c d"), (1L, "e f"), (2L, ""), (3L, "g h")))
    // second pass over the FIRST pass's output: identity on non-empty
    // docs (empty docs have no paragraphs and leave the corpus — the
    // documented fixpoint)
    val twice = ops.Text.dedupParagraphsSep(once, "<p>")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(twice == onceRows.filter(_._2.nonEmpty), s"twice: $twice")
    once.unpersist()
    ()
  }

  test("separator paragraph view: adjacent markers never leak the separator into a paragraph") {
    import spark.implicits._
    // "a <p> <p> b" — the two markers share their middle space; a
    // padded-literal split consumed it and leaked "<p> b" (review
    // finding). The bare-token split + trim yields clean paragraphs.
    val docs = Seq((0L, "a b <p> <p> c d"), (1L, "<p> e f <p>")).toDF("doc_id", "text")
    val got = ops.Text.paragraphViewSep(docs, "<p>")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq.sorted
    assert(got == Seq((0L, "a b"), (0L, "c d"), (1L, "e f")))
    assert(got.forall(!_._2.contains("<p>")))
  }

  test("separator paragraph view splits on the marker and feeds the same operator") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b <p> c d"),
      (1L, "c d <p> e f")).toDF("doc_id", "text")
    val got = Text.dedupParagraphs(Text.paragraphViewSep(docs, "<p>"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, "a b c d", 2L, 0L), (1L, "e f", 1L, 1L)))
  }

  // ---- paragraph-granularity keep-best + TRIM (round-13) ----

  test("textParaKeepBest keeps the copy in the better-quality DOCUMENT, not the first occurrence") {
    import spark.implicits._
    // paragraph "c d" appears in doc 0 (low quality: repeated tokens,
    // no stopwords beyond length) and doc 1 (higher quality: more
    // distinct tokens + stopwords). First-occurrence keeps doc 0's
    // copy; quality policy must keep doc 1's.
    val r = spark.range(1).select(
      Text.qualityComposite(lit("x x x x c d x x")).as("a"),
      Text.qualityComposite(lit("the a of and is c d in")).as("b")).head()
    assert(r.getDouble(1) > r.getDouble(0),
      s"test corpus must rank doc 1 above doc 0: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    val paras = Seq(
      (0L, 0.0, 0, "x x x x"), (0L, 0.0, 1, "c d"),
      (1L, 1.0, 0, "the a of"), (1L, 1.0, 1, "c d"))
      .toDF("doc_id", "__q", "para_idx", "ptext")
    val got = Text.dedupParagraphs(paras,
        keepOrder = Seq($"__q".desc, $"doc_id", $"para_idx"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, "x x x x", 1L, 1L),
      (1L, "the a of c d", 2L, 0L)), s"got: $got")
  }

  test("textParaKeepBest on sf0.001: acts, diverges from first-occurrence, conserves distinct paragraphs") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val best = Text.textParaKeepBest(spark, sfDir).cache()
    val first = Text.textDedupPara(spark, sfDir)
    // same totals (one survivor per distinct paragraph either way)
    val bTot = best.agg(sum($"n_kept"), sum($"n_dropped")).head()
    val fTot = first.agg(sum($"n_kept"), sum($"n_dropped")).head()
    assert(bTot == fTot)
    // but the POLICY diverges: at least one doc reconstructs differently
    val diff = best.select($"doc_id", $"text")
      .join(first.select($"doc_id", $"text".as("ftext")), "doc_id")
      .filter($"text" =!= $"ftext").count()
    assert(diff > 0, "quality policy never diverged from first-occurrence on the real corpus")
    best.unpersist()
    ()
  }

  test("dedupTrimParagraphs: windows never span paragraph seams; fully-excised docs emit ''") {
    import spark.implicits._
    // len=2 windows. "a b" duplicated across docs 0/1 inside paragraphs;
    // doc 2's single paragraph is entirely a duplicated window (fully
    // excised); the seam pair (b, c) at doc 0's paragraph boundary is
    // NOT a window (it spans the seam) so it must never be marked even
    // though doc 1 contains "b c" inside a paragraph.
    val docs = Seq(
      (0L, 0, "a b"), (0L, 1, "c d e"),
      (1L, 0, "x a b y"), (1L, 1, "b c z"),
      (2L, 0, "a b"))
      .toDF("doc_id", "para_idx", "ptext")
    val got = Text.dedupTrimParagraphs(docs, 2, " | ")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // first occurrence of "a b" = (doc 0, para 0) keeps; doc 1's and
    // doc 2's copies excised. "b c" inside doc 1 para 1 is unique
    // corpus-wide (doc 0's b|c is a seam, not a window) -> survives.
    assert(got == Seq(
      (0L, "a b | c d e", 2L),
      (1L, "x | y | b c z", 3L),
      (2L, "", 0L)), s"got: $got")
  }

  test("dedupTrimParagraphs matches a driver-side replay on randomized corpora (fixed seeds)") {
    import spark.implicits._
    // independent O(n²) replay: enumerate len-token windows per
    // (doc, para), mark every occurrence of a duplicated window except
    // the global (doc, para, pos)-minimum, excise covered positions,
    // rebuild segments, join per doc in (para, segment-start) order
    def replay(paras: Seq[(Long, Int, String)], len: Int,
        joiner: String): Map[Long, (String, Long)] = {
      val toks = paras.map { case (d, p, t) =>
        (d, p) -> t.split(" ").filter(_.nonEmpty) }.toMap
      val occs = for {
        ((d, p), ts) <- toks.toSeq
        i <- 0 to ts.length - len
      } yield (ts.slice(i, i + len).mkString(" "), (d, p, i))
      val marked = occs.groupBy(_._1).values.filter(_.size >= 2)
        .flatMap(_.map(_._2).sortBy(identity).drop(1)).toSet
      val covered = marked.flatMap { case (d, p, i) =>
        (i until i + len).map(q => (d, p, q)) }
      paras.map(_._1).distinct.map { d =>
        val segs = for {
          ((dd, p), ts) <- toks.toSeq.sortBy(_._1) if dd == d
          seg <- ts.indices.foldLeft(List.empty[List[Int]]) { (acc, q) =>
            if (covered((dd, p, q))) acc
            else acc match {
              case h :: t if h.last == q - 1 => (h :+ q) :: t
              case _ => List(q) :: acc
            }
          }.reverse
        } yield seg.map(ts).mkString(" ")
        d -> (segs.mkString(joiner), segs.size.toLong)
      }.toMap
    }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 104729)
      val alphabet = "abc"
      val paras = for {
        d <- 0L until (3 + rnd.nextInt(3)).toLong
        p <- 0 until (2 + rnd.nextInt(3))
      } yield (d, p, Seq.fill(2 + rnd.nextInt(5))(
        alphabet(rnd.nextInt(alphabet.length)).toString).mkString(" "))
      val expected = replay(paras, 2, " | ")
      val got = Text.dedupTrimParagraphs(
          paras.toDF("doc_id", "para_idx", "ptext"), 2, " | ")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == expected, s"seed=$seed paras=$paras\ngot: $got\nexpected: $expected")
    }
  }

  test("separator-view paragraph TRIM is idempotent on the surviving docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "q w e r t y u i <p> z z"),
      (1L, "m q w e r t y u i n <p> k"),
      (2L, "q w e r t y u i"),
      (3L, "f g h j")).toDF("doc_id", "text")
    val once = ops.Text.dedupTrimParagraphsSep(docs, 8, "<p>").cache()
    val onceRows = once.select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the 8-token run "q w e r t y u i" is duplicated (doc 0 para 0,
    // doc 1 inside a longer para, doc 2 whole para): doc 0's copy is
    // first -> keeps; doc 1 loses the middle (segments m / n); doc 2
    // fully excised
    assert(onceRows == Seq(
      (0L, "q w e r t y u i <p> z z"),
      (1L, "m <p> n <p> k"),
      (2L, ""),
      (3L, "f g h j")), s"once: $onceRows")
    val twice = ops.Text.dedupTrimParagraphsSep(
        once.select($"doc_id", $"text"), 8, "<p>")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(twice == onceRows.filter(_._2.nonEmpty), s"twice: $twice")
    once.unpersist()
    ()
  }

  test("qualityFilterParagraphs drops exactly the below-threshold paragraphs") {
    import spark.implicits._
    // paragraph quality (6-dp composite) computed independently, then
    // a threshold between the two values must split them
    val loText = "x x x x x x"                      // low ttr, no stopwords
    val hiText = "the quick brown fox is in a tree" // distinct + stopwords
    val r = spark.range(1).select(
      Text.qualityComposite(lit(loText)).as("lo"),
      Text.qualityComposite(lit(hiText)).as("hi")).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    assert(lo < hi)
    val thr = (lo + hi) / 2
    val paras = Seq(
      (0L, 0, loText), (0L, 1, hiText), (1L, 0, loText))
      .toDF("doc_id", "para_idx", "ptext")
    val got = Text.qualityFilterParagraphs(paras, thr)
      .collect().map(r2 => (r2.getLong(0), r2.getString(1), r2.getLong(2), r2.getLong(3))).toSeq
    assert(got == Seq((0L, hiText, 1L, 1L), (1L, "", 0L, 1L)), s"got $got")
  }

  test("decontamParagraphs excises exactly the probe-bearing paragraphs, reconstructs the rest") {
    import spark.implicits._
    val paras = Seq(
      (0L, 0, "clean words here"), (0L, 1, "contains bad probe inside"),
      (1L, 0, "another bad probe"), (1L, 1, "also worse marker text"),
      (2L, 0, "fully clean doc")).toDF("doc_id", "para_idx", "ptext")
    val got = Text.decontamParagraphs(paras, Seq("bad probe", "worse marker"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, "clean words here", 1L, 1L),
      (1L, "", 0L, 2L),
      (2L, "fully clean doc", 1L, 0L)), s"got $got")
  }

  test("public api.Paragraphs: views, dedup, policy dedup and trim over caller-named columns") {
    import spark.implicits._
    val docs = Seq(
      (10, "a b <p> c d"),
      (20, "c d <p> e f")).toDF("k", "body")
    // view consumes the separator and keeps order
    val v = api.Paragraphs.view(docs, "k", "body", "<p>")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq.sorted
    assert(v == Seq((10, 0, "a b"), (10, 1, "c d"), (20, 0, "c d"), (20, 1, "e f")))
    assert(api.Paragraphs.viewFixed(docs, "k", "body", 2).count() == 6L) // "<p>" is a token here
    // dedup: doc 20 loses its "c d" copy
    val d = api.Paragraphs.dedup(docs, "k", "body", "<p>")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(d == Seq((10, "a b <p> c d"), (20, "e f")))
    // policy dedup: rank doc 20's copies ABOVE doc 10's
    val paras = api.Paragraphs.view(docs, "k", "body", "<p>")
      .withColumn("pref", when($"doc_id" === 20, 1).otherwise(0))
    val p = api.Paragraphs.dedupWithPolicy(paras, " <p> ",
        Seq($"pref".desc, $"doc_id", $"para_idx"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(p == Seq((10, "a b"), (20, "c d <p> e f")))
    // trim: 2-token window "a b" duplicated across docs
    val t = api.Paragraphs.trim(
        Seq((1, "a b <p> z"), (2, "q a b w")).toDF("k", "body"),
        "k", "body", "<p>", windowTokens = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(t == Seq((1, "a b <p> z", 2L), (2, "q <p> w", 2L)), s"got $t")
    // decontaminate: probe-bearing paragraph excised, seams kept
    val dc = api.Paragraphs.decontaminate(
        Seq((1, "keep me <p> drop this probe <p> also keep")).toDF("k", "body"),
        "k", "body", "<p>", Seq("this probe"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(dc == Seq((1, "keep me <p> also keep", 2L, 1L)), s"got $dc")
  }

  test("dedupParagraphsNear: hamming-0 subsumes exact dedup; shingle-less fragments always kept") {
    import spark.implicits._
    val paras = Seq(
      (0L, 0, "q w e r t"), (0L, 1, "x y"),
      (1L, 0, "q w e r t"), (1L, 1, "x y"),
      (2L, 0, "unique alpha beta"))
      .toDF("doc_id", "para_idx", "ptext")
    val got = Text.dedupParagraphsNear(paras)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // doc 1's 5-token paragraph is an exact dup (identical signature,
    // hamming 0) -> excised; its "x y" copy has < 3 tokens, hence no
    // shingles and no signature -> kept by documented contract
    assert(got == Seq(
      (0L, "q w e r t x y", 2L),
      (1L, "x y", 1L),
      (2L, "unique alpha beta", 1L)), s"got $got")
  }

  test("textDedupParaNear on sf0.001: drops every shingled exact dup plus genuine near-dups") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val near = Text.textDedupParaNear(spark, sfDir).cache()
    assert(near.count() == 500)
    val paras = Text.paragraphView(Tables.documents(spark, sfDir), 20)
    val total = paras.count()
    val nearDropped = total - near.agg(sum($"n_kept")).head().getLong(0)
    // independent exact-dup accounting, split by shingle eligibility
    val flagged = paras
      .withColumn("ntok", size(split($"ptext", " ")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"ptext").orderBy($"doc_id", $"para_idx")))
    val exactShingled = flagged.filter($"rn" > 1 && $"ntok" >= 3).count()
    val exactShort = flagged.filter($"rn" > 1 && $"ntok" < 3).count()
    // hamming ≤ 3 ⊇ hamming 0 on shingled paragraphs; short dups kept
    assert(nearDropped >= exactShingled,
      s"near-dup must subsume exact on shingled paragraphs: $nearDropped < $exactShingled")
    assert(nearDropped > 0L)
    // and the corpus' planted near-dups make it act BEYOND exact
    // (measured: +3 at sf0.01, +k>=0 here — assert non-strictly at
    // this SF, strictly at sf0.01 via the oracle's hash match)
    assert(nearDropped <= exactShingled + exactShort + total,
      "sanity envelope")
    near.unpersist()
    ()
  }

  test("public api.Paragraphs.dedupNear over a separator corpus") {
    import spark.implicits._
    val docs = Seq(
      (10, "a b c d e <p> z z"),
      (20, "a b c d e <p> keep me here")).toDF("k", "body")
    val got = api.Paragraphs.dedupNear(docs, "k", "body", "<p>")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (10, "a b c d e <p> z z", 2L),
      (20, "keep me here", 1L)), s"got $got")
  }

  test("textDecontamParaNgram on sf0.001: probe-source paragraphs excised at overlap 1.0, accounting holds") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val out = Text.textDecontamParaNgram(spark, sfDir).cache()
    assert(out.count() == 500)
    // each probe is the leading 12 words of docs 0-3 — the containing
    // first paragraph holds all 10 probe grams (overlap 1.0) and MUST
    // be excised, so those docs reconstruct differently
    val changed = out.join(Tables.documents(spark, sfDir)
        .select($"doc_id", $"text".as("orig")), "doc_id")
      .filter($"doc_id" < 4 && $"text" =!= $"orig").count()
    assert(changed == 4L, s"all four probe-source docs must change: $changed")
    // kept never exceeds the doc's paragraph count; totals account
    val np = Text.paragraphView(Tables.documents(spark, sfDir), 20)
      .groupBy($"doc_id").agg(count(lit(1)).as("np"))
    assert(out.join(np, "doc_id").filter($"n_kept" > $"np").count() == 0L)
    out.unpersist()
    ()
  }

  test("textTrimPara on sf0.001: acts (multi-segment docs), never fabricates tokens") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val out = Text.textTrimPara(spark, sfDir).cache()
    assert(out.count() == Tables.documents(spark, sfDir).count())
    assert(out.filter($"n_segments" > 1).count() > 0, "trim never split a doc")
    // output tokens (minus seam markers) <= input tokens, per doc
    val inToks = Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).as("n_in"))
    val bad = out
      .select($"doc_id", size(filter(split($"text", " "),
        t => t =!= "<p>" && length(t) > 0)).as("n_out"))
      .join(inToks, "doc_id")
      .filter($"n_out" > $"n_in").count()
    assert(bad == 0L)
    out.unpersist()
    ()
  }
}
