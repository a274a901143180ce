package graft

/** DuckDB oracle SQL, one entry per SparkEntry.queries key (SURVEY.md §2
  * "oracle ✓" rows). Conventions that make the hash-match gate robust:
  *
  *  - Money aggregates mirror the Spark side's DECIMAL casts exactly
  *    (double sums are order-dependent; decimal sums are exact).
  *  - DuckDB's wider default types are cast down to what Spark emits:
  *    COUNT stays BIGINT, but SUM(INTEGER)→HUGEINT, year()/length()/
  *    row_number()→BIGINT etc. are cast to Spark's INT/BIGINT.
  *  - Every statement has a total ORDER BY with a unique tiebreak.
  *  - Transcendentals/stddev round to 6 dp on both sides (libm /
  *    algorithm drift).
  */
object Oracle {

  /** 8-hex-char window of an md5 hex column folded to BIGINT via a
    * 16-ary digit fold — DuckDB has no direct hex-string cast. Shared
    * by the simhash oracle (local variant over md5(sh)) and the DSv2
    * generator replay. 'a'..'f' sit 87 below their digit value,
    * '0'..'9' 48 below. */
  private def hexFoldExpr(hexCol: String, start: Int): String =
    s"list_reduce(list_transform(string_split_regex(substring($hexCol, $start, 8), ''), " +
      "x -> CAST(CASE WHEN ascii(x) >= 97 THEN ascii(x) - 87 ELSE ascii(x) - 48 END AS BIGINT)), " +
      "(a, b) -> a * 16 + b)"

  /** Morton interleave of two pre-scaled BIGINT columns, mirroring
    * graft.api.ZOrder.zValue bit for bit: bit i of a → position 2i, bit
    * i of b → 2i+1. Plain `>> & << |` — engine-exact. */
  private def mortonExpr(aCol: String, bCol: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($aCol >> $i) & 1) << ${2 * i})",
      s"((($bCol >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** Sign-LSH bucket CTE mirroring graft.api.Similarity.signLshBuckets
    * (nBits=6, extraBits=4, maxOccupancy=32) bit-for-bit: bucket bits are
    * raw-float sign tests (no arithmetic → no cross-engine rounding), the
    * occupancy count is exact integer arithmetic. Generated from the same
    * parameters the Spark queries pass so the two sides cannot drift. */
  private def signBucketCte(nBits: Int, extraBits: Int, maxOccupancy: Int): String = {
    def bits(start: Int, n: Int): String =
      (0 until n).map(j =>
        s"CASE WHEN embedding[${start + j}] > 0 THEN ${1L << (n - 1 - j)} ELSE 0 END")
        .mkString("\n           + ")
    s"""b AS (
       |  SELECT vec_id, embedding,
       |         ${bits(1, nBits)} AS base,
       |         ${bits(nBits + 1, extraBits)} AS extra
       |  FROM embeddings),
       |c AS (SELECT base, count(*) AS cnt FROM b GROUP BY base),
       |k AS (
       |  SELECT b.vec_id, b.embedding,
       |         CAST(CASE WHEN c.cnt > $maxOccupancy
       |                   THEN ${1L << nBits} + b.base * ${1L << extraBits} + b.extra
       |                   ELSE b.base END AS BIGINT) AS bucket
       |  FROM b JOIN c ON b.base = c.base)""".stripMargin
  }

  /** Multi-level sign-LSH bucket CTE mirroring signLshBuckets'
    * levels > 1 path (Similarity.signLshBucketsDeep) bit-for-bit. Kept
    * LINEAR deliberately: each count CTE references only the base
    * relation b (a level's prefix-group population among rows that
    * reached it equals its population among ALL rows — reaching depends
    * only on the shared prefix), so the final key is one CASE cascade
    * over independent per-level counts and the SQL never nests CTEs
    * recursively (a chained formulation inlines the scan 2^levels
    * times). Closed-form key: key_j = off_j + p0·2^(j·extraBits)
    * + Σ e_i·2^((j−i)·extraBits), same constants as the Spark side. */
  private def signBucketCteDeep(nBits: Int, extraBits: Int,
      maxOccupancy: Int, levels: Int): String = {
    def bits(start: Int, n: Int): String =
      (0 until n).map(j =>
        s"CASE WHEN embedding[${start + j}] > 0 THEN ${1L << (n - 1 - j)} ELSE 0 END")
        .mkString(" + ")
    val offAt = (0 to levels).scanLeft(0L) { case (o, j) =>
      o + (1L << nBits) * (1L << (extraBits * j)) }
    def prefixCols(j: Int): Seq[String] = "p0" +: (1 to j).map(i => s"e$i")
    def keyAt(j: Int): String =
      (s"${offAt(j)} + p0 * ${1L << (extraBits * j)}" +:
        (1 to j).map(i => s"e$i * ${1L << (extraBits * (j - i))}")).mkString(" + ")
    val eCols = (1 to levels).map(l =>
      s"CAST(${bits(nBits + (l - 1) * extraBits + 1, extraBits)} AS BIGINT) AS e$l")
    val countCtes = (0 until levels).map { j =>
      val p = prefixCols(j).mkString(", ")
      s"c$j AS (SELECT $p, count(*) AS cnt$j FROM b GROUP BY $p)"
    }
    val joins = (0 until levels).map(j =>
      s"JOIN c$j USING (${prefixCols(j).mkString(", ")})").mkString("\n       |  ")
    val cascade = ((0 until levels).map(j =>
      s"WHEN cnt$j <= $maxOccupancy THEN ${keyAt(j)}") :+
      s"ELSE ${keyAt(levels)}").mkString("\n       |                   ")
    s"""b AS (
       |  SELECT vec_id, embedding,
       |         CAST(${bits(1, nBits)} AS BIGINT) AS p0,
       |         ${eCols.mkString(",\n       |         ")}
       |  FROM embeddings),
       |${countCtes.mkString(",\n       |")},
       |k AS (
       |  SELECT b.vec_id, b.embedding,
       |         CAST(CASE $cascade END AS BIGINT) AS bucket
       |  FROM b
       |  $joins)""".stripMargin
  }

  /** Full simhash replay (mirrors graft.api.Dedup.simhash for n=3):
    * 3-gram shingles → per-shingle MD5, two 8-hex-char windows parsed
    * to 32-bit ints → 64 multiply-shift bit votes (plane constants
    * shared with the Spark side via Dedup.simhashPlanes) → majority
    * signature → chunk banding → exact hamming over candidates. MD5 and
    * integer arithmetic agree bit-for-bit across engines. */
  private def simhashCtes(maxHamming: Int, base: String = "documents",
      idCol: String = "doc_id"): String = {
    val planes = graft.api.Dedup.simhashPlanes.zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    val chunkBits = 64 / (maxHamming + 1)
    // hex window → BIGINT via a 16-ary digit fold (DuckDB has no direct
    // hex-string cast); 'a'..'f' are 87 below their value, '0'..'9' 48
    def hexFold(start: Int): String =
      s"list_reduce(list_transform(string_split_regex(substring(md5(sh), $start, 8), ''), " +
        "x -> CAST(CASE WHEN ascii(x) >= 97 THEN ascii(x) - 87 ELSE ascii(x) - 48 END AS BIGINT)), " +
        "(a, b) -> a * 16 + b)"
    s"""tok AS (
       |  SELECT $idCol AS doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |         unnest(string_split(text, ' ')) AS w FROM $base),
       |sh AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM tok a
       |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |shh AS (
       |  SELECT doc_id, ${hexFold(1)} AS h1, ${hexFold(9)} AS h2 FROM sh),
       |votes AS (
       |  SELECT doc_id, j,
       |         CASE WHEN 2 * sum(((h1 * pa + h2 * pb) >> 15) & 1) > count(*)
       |              THEN 1 ELSE 0 END AS bit
       |  FROM shh CROSS JOIN (SELECT * FROM (VALUES $planes) v(j, pa, pb)) planes
       |  GROUP BY 1, 2),
       |chunks AS (
       |  SELECT doc_id, j // $chunkBits AS chunk_idx,
       |         sum(bit * (1 << ($chunkBits - 1 - (j % $chunkBits)))) AS chunk_key
       |  FROM votes GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_idx = b.chunk_idx AND a.chunk_key = b.chunk_key
       |   AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT a_id, b_id, hamming FROM (
       |    SELECT c.a_id, c.b_id,
       |           CAST(sum(CASE WHEN va.bit <> vb.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |    FROM cand c
       |    JOIN votes va ON va.doc_id = c.a_id
       |    JOIN votes vb ON vb.doc_id = c.b_id AND vb.j = va.j
       |    GROUP BY c.a_id, c.b_id) t
       |  WHERE hamming <= $maxHamming)""".stripMargin
  }

  private def simhashOracle(maxHamming: Int): String =
    s"""WITH ${simhashCtes(maxHamming)}
       |SELECT a_id, b_id, hamming FROM prs
       |ORDER BY a_id, b_id""".stripMargin

  /** Per-document near-dup verdict under the streaming "earlier doc"
    * rule (mirrors graft.ops.Streaming.simhashDedupBatchTws): a doc is
    * a dup iff some doc with a smaller doc_id sits within hamming ≤
    * maxHamming — i.e. iff it appears as the b side of any matched
    * pair. Banding completeness (4 bands, ≤ 3 differing bits ⇒ one
    * band identical by pigeonhole) makes the banded Spark kernel and
    * this unblocked replay agree exactly. */
  private def simhashStreamDedupOracle(maxHamming: Int): String =
    s"""WITH ${simhashCtes(maxHamming)}
       |SELECT d.doc_id,
       |       CASE WHEN dup.b_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |FROM documents d
       |LEFT JOIN (SELECT DISTINCT b_id FROM prs) dup ON d.doc_id = dup.b_id
       |ORDER BY d.doc_id""".stripMargin

  /** Chained-CTE replay of the FULL BPE training loop (mirrors
    * graft.ops.Text.bpeTrain, the q_sim_mmr replay pattern): w0 is the
    * word-frequency table with each word rendered in the double-space
    * padded symbol representation; round i counts adjacent pairs
    * weighted by word frequency (single-symbol words vanish via an
    * empty generate_series), picks the argmax under the exact Spark
    * tie-break (cnt DESC, l, r ASC — integer counts, binary string
    * order), and applies the merge with the same non-overlapping
    * left-to-right `replace` the Spark side uses (identical semantics,
    * verified; adjacent matches share the 2-space separator's outer
    * space, so greedy BPE merging falls out of plain string replace).
    * Every CTE is MATERIALIZED: round i references w(i-1) from two
    * places and m(i) from four, so DuckDB's default inlining would
    * re-expand the base scan ~5^rounds times (the signBucketCteDeep
    * linearity lesson) — it died on file handles before dying on time.
    * Exhaustion guard: when round i finds no pairs, m(i) is empty and
    * a bare replace(syms, NULL, NULL) would NULL every later w-round —
    * fine for the merge table (empty unions either way) but it would
    * wreck the DOWNSTREAM oracles (bpeTokensOracle's counts,
    * q_pack_chunks_bpe's cumsums) where Spark keeps the last valid
    * symbols; the CASE keeps syms unchanged, exactly mirroring Spark's
    * early loop exit. Unreachable on the graded corpora (all 3 SFs
    * train the full 12 merges) — guarded anyway. */
  private def bpeCtes(nMerges: Int): String = {
    val init =
      s"""w0 AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |         ' ' || regexp_replace(w, '(.)', ' \\1 ', 'g') || ' ' AS syms
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  WHERE length(w) > 0
         |  GROUP BY w)""".stripMargin
    val rounds = (1 to nMerges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT sy[j] AS l, sy[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, sy, unnest(generate_series(1, len(sy) - 1)) AS j
         |        FROM (SELECT freq, string_split(trim(syms), '  ') AS sy FROM $prev) s0) s1
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, freq,
         |         CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN syms
         |              ELSE replace(syms,
         |                 ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |                 ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') END AS syms
         |  FROM $prev)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  private def bpeTrainOracle(nMerges: Int): String = {
    val unions = (1 to nMerges).map(i =>
      s"SELECT $i AS step, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtes(nMerges)}
       |SELECT * FROM (
       |  $unions) u
       |ORDER BY step""".stripMargin
  }

  private def bpeTokensOracle(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)}
       |SELECT d.lang,
       |       CAST(sum(len(string_split(trim(f.syms), '  '))) AS BIGINT) AS sum_bpe_tokens,
       |       CAST(count(*) AS BIGINT) AS n_words
       |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) d
       |JOIN w$nMerges f ON d.w = f.w
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin

  /** Paragraph-dedup replay (mirrors graft.ops.Text.textDedupPara):
    * 20-token aligned paragraph view, keep = first occurrence by
    * (doc_id, para_idx) — replayed digest-free on the paragraph
    * strings themselves — then per-doc reconstruction in paragraph
    * order (docs whose every paragraph was a repeat reconstruct to
    * the empty string). */
  private def dedupParaOracle(paraTokens: Int): String =
    s"""WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |par AS (
       |  SELECT doc_id, k AS para_idx,
       |         array_to_string(t[k * $paraTokens + 1 : k * $paraTokens + $paraTokens], ' ') AS ptext
       |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // $paraTokens)) AS k
       |        FROM sy) s0),
       |flag AS (
       |  SELECT doc_id, para_idx, ptext,
       |         row_number() OVER (PARTITION BY ptext ORDER BY doc_id, para_idx) AS rn
       |  FROM par)
       |SELECT doc_id,
       |       coalesce(string_agg(CASE WHEN rn = 1 THEN ptext END, ' ' ORDER BY para_idx), '') AS text,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Quality-canonical paragraph dedup replay (mirrors
    * graft.ops.Text.textParaKeepBest): the dedupParaOracle view, but
    * the survivor of each duplicated paragraph is chosen by its
    * containing document's quality composite (the q_text_quality
    * replay, 6-dp) — DESC, ties to (doc_id, para_idx). */
  private def paraKeepBestOracle(paraTokens: Int): String =
    s"""WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |q AS (
       |  SELECT doc_id,
       |         round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4
       |               + (1.0 - ns / n) * 0.2, 6) AS quality
       |  FROM (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
       |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
       |          CAST(len(list_filter(string_split(text, ' '),
       |            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
       |        FROM documents) t0),
       |par AS (
       |  SELECT doc_id, k AS para_idx,
       |         array_to_string(t[k * $paraTokens + 1 : k * $paraTokens + $paraTokens], ' ') AS ptext
       |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // $paraTokens)) AS k
       |        FROM sy) s0),
       |flag AS (
       |  SELECT p.doc_id, p.para_idx, p.ptext,
       |         row_number() OVER (PARTITION BY p.ptext
       |           ORDER BY q.quality DESC, p.doc_id, p.para_idx) AS rn
       |  FROM par p JOIN q USING (doc_id))
       |SELECT doc_id,
       |       coalesce(string_agg(CASE WHEN rn = 1 THEN ptext END, ' ' ORDER BY para_idx), '') AS text,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Paragraph-granularity TRIM replay (mirrors graft.ops.Text
    * .textTrimPara): the q_text_dedup_trim replay — window rank,
    * coverage union, gaps-and-islands — run PER (doc, paragraph) unit
    * over the fixed-width paragraph view, then document reconstruction
    * joining surviving segments with the seam marker in
    * (para_idx, segment position) order; fully-excised docs emit ''. */
  private def trimParaOracle(paraTokens: Int, len: Int): String =
    s"""WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |par AS (
       |  SELECT doc_id, k AS para_idx,
       |         t[k * $paraTokens + 1 : k * $paraTokens + $paraTokens] AS toks
       |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // $paraTokens)) AS k
       |        FROM sy) s0),
       |p2 AS (SELECT doc_id, para_idx, toks, len(toks) AS n FROM par),
       |spans AS (
       |  SELECT doc_id, para_idx, p,
       |         array_to_string(list_slice(toks, p, p + ${len - 1}), ' ') AS span
       |  FROM (SELECT doc_id, para_idx, toks, unnest(generate_series(1, n - ${len - 1})) AS p
       |        FROM p2 WHERE n >= $len) s1),
       |marked AS (
       |  SELECT doc_id, para_idx, p FROM (
       |    SELECT doc_id, para_idx, p,
       |           row_number() OVER (PARTITION BY span ORDER BY doc_id, para_idx, p) AS rn,
       |           count(*) OVER (PARTITION BY span) AS c
       |    FROM spans) s2 WHERE c >= 2 AND rn >= 2),
       |covered AS (
       |  SELECT DISTINCT doc_id, para_idx, p + i AS qq
       |  FROM marked, (SELECT unnest(generate_series(0, ${len - 1})) AS i) ii),
       |tok AS (
       |  SELECT doc_id, para_idx, toks[qq] AS tok, qq
       |  FROM (SELECT doc_id, para_idx, toks, unnest(generate_series(1, n)) AS qq FROM p2) s3),
       |surv AS (
       |  SELECT tok.doc_id, tok.para_idx, tok.qq, tok.tok
       |  FROM tok ANTI JOIN covered
       |    ON tok.doc_id = covered.doc_id AND tok.para_idx = covered.para_idx
       |   AND tok.qq = covered.qq),
       |segtext AS (
       |  SELECT doc_id, para_idx, isl, min(qq) AS q0,
       |         string_agg(tok, ' ' ORDER BY qq) AS stext
       |  FROM (SELECT doc_id, para_idx, qq, tok,
       |               qq - row_number() OVER (PARTITION BY doc_id, para_idx ORDER BY qq) AS isl
       |        FROM surv) s4
       |  GROUP BY doc_id, para_idx, isl),
       |recon AS (
       |  SELECT doc_id, string_agg(stext, ' <p> ' ORDER BY para_idx, q0) AS text,
       |         count(*) AS n_segments
       |  FROM segtext GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(r.text, '') AS text,
       |       CAST(coalesce(r.n_segments, 0) AS BIGINT) AS n_segments
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN recon r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Full LSH-ANN replay (mirrors graft.api.Similarity.annLsh): bucket
    * bit p of table t = sign of coordinate lshCoords(t)(p) — the coord
    * constants come from the same Scala generator the Spark side uses
    * (the simhashPlanes pattern), and a sign test has no float
    * arithmetic to drift, so candidate generation matches bit-for-bit;
    * the exact re-rank rounds to 6 dp like every cosine here. */
  private def annLshOracle(probeId: Long, k: Int, nTables: Int, nBits: Int,
      dim: Int): String = {
    val coords = graft.api.Similarity.lshCoords(nTables, nBits, dim)
    val planes = (for (t <- 0 until nTables; p <- 0 until nBits)
      yield s"($t, ${1L << (nBits - 1 - p)}, ${coords(t)(p)})").mkString(", ")
    s"""WITH planes(t, w, i) AS (VALUES $planes),
       |bk AS (
       |  SELECT e.vec_id, p.t,
       |         sum(CASE WHEN e.embedding[p.i] > 0 THEN p.w ELSE 0 END) AS bucket
       |  FROM embeddings e CROSS JOIN planes p
       |  GROUP BY e.vec_id, p.t),
       |pb AS (SELECT t, bucket FROM bk WHERE vec_id = $probeId),
       |cand AS (
       |  SELECT DISTINCT bk.vec_id
       |  FROM bk JOIN pb ON bk.t = pb.t AND bk.bucket = pb.bucket
       |  WHERE bk.vec_id <> $probeId),
       |pe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings
       |       WHERE vec_id = $probeId)
       |SELECT c.vec_id,
       |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), pe.p), 6) AS cos_sim
       |FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN pe
       |ORDER BY cos_sim DESC, c.vec_id LIMIT $k""".stripMargin
  }

  /** Multi-probe inverted-file replay (mirrors graft.api.Similarity
    * .annMultiProbe): cells from the signBucketCte, the probe's cell set
    * = its own (base, extra) XOR each single-bit flip mask, mapped
    * through the SAME occupancy rule (the flipped base's count decides
    * refined vs base key range), distinct, then exact re-rank. */
  private def annMultiProbeOracle(probeId: Long, k: Int, nBits: Int,
      extraBits: Int, maxOccupancy: Int): String = {
    val flips = ("(0, 0)" +:
      ((0 until nBits).map(j => s"(${1L << (nBits - 1 - j)}, 0)") ++
       (0 until extraBits).map(j => s"(0, ${1L << (extraBits - 1 - j)})"))).mkString(", ")
    s"""WITH ${signBucketCte(nBits, extraBits, maxOccupancy)},
       |pb AS (SELECT base, extra FROM b WHERE vec_id = $probeId),
       |flips(mb, me) AS (VALUES $flips),
       |pc AS (
       |  SELECT DISTINCT CAST(CASE WHEN coalesce(c.cnt, 0) > $maxOccupancy
       |              THEN ${1L << nBits} + xor(pb.base, f.mb) * ${1L << extraBits}
       |                   + xor(pb.extra, f.me)
       |              ELSE xor(pb.base, f.mb) END AS BIGINT) AS bucket
       |  FROM pb CROSS JOIN flips f
       |  LEFT JOIN c ON c.base = xor(pb.base, f.mb)),
       |pe AS (SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings
       |       WHERE vec_id = $probeId)
       |SELECT k.vec_id,
       |       round(list_cosine_similarity(CAST(k.embedding AS DOUBLE[]), pe.p), 6) AS cos_sim
       |FROM k JOIN pc ON k.bucket = pc.bucket CROSS JOIN pe
       |WHERE k.vec_id <> $probeId
       |ORDER BY cos_sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Shared CTE prefix of the IVF-family oracles (round-15): full
    * replay of graft.api.Similarity.quantEmb + ivfFitInt + the probe's
    * cell ranking. Normalization uses the SAME sequential left-fold
    * norm the codegen'd kernel runs (list_reduce over list_prepend ↔
    * `s += v*v` from 0.0 — identical IEEE ops in identical order, so
    * the unit vectors are bit-identical), then the two quantization
    * rounding steps in kernel order (x / nrm, · 10⁶, floor). Seeds are
    * the nCells rows first in (md5(id-as-string), id) order — the
    * q_sample_stratified portability idiom — followed by ONE exact
    * integer Lloyd update (the graded iters = 2 assignment passes) and
    * integer probe-cell ranking with ties to the smaller cell. Every
    * decision after normalization is integer arithmetic carried in
    * doubles, so list_inner_product's accumulation order cannot matter
    * (the q_vec_kmeans exactness argument). Ends with `cand` = the IVF
    * candidate id set and `pr` = the probe's (dv, iq) row. */
  private def ivfCommonCtes(probeId: Long, nCells: Int, nProbe: Int): String =
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
       |nr AS (
       |  SELECT vec_id, dv,
       |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |              list_transform(dv, x -> x * x)), (a, b) -> a + b)) AS nrm
       |  FROM base),
       |q AS (
       |  SELECT vec_id, dv,
       |         CASE WHEN nrm = 0 THEN list_transform(dv, x -> CAST(0.0 AS DOUBLE))
       |              ELSE list_transform(dv, x -> floor(x / nrm * 1000000.0)) END AS iq
       |  FROM nr),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) AS cl, iq AS c
       |  FROM (SELECT vec_id, iq, md5(CAST(vec_id AS VARCHAR)) AS h
       |        FROM q ORDER BY h, vec_id LIMIT $nCells)),
       |d1 AS (
       |  SELECT v.vec_id, c0.cl,
       |         list_inner_product(v.iq, v.iq) - 2 * list_inner_product(v.iq, c0.c)
       |           + list_inner_product(c0.c, c0.c) AS dist
       |  FROM q v CROSS JOIN c0),
       |a1 AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT vec_id, cl,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |    FROM d1) WHERE rn = 1),
       |e1 AS (
       |  SELECT a1.cl, i.i, q.iq[i.i] AS x
       |  FROM a1 JOIN q USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(1, (SELECT len(iq) + 1 FROM q LIMIT 1))) AS i) i),
       |u1 AS (
       |  SELECT cl, list(fx ORDER BY i) AS c
       |  FROM (SELECT cl, i, floor(sum(x) / count(*)) AS fx FROM e1 GROUP BY cl, i)
       |  GROUP BY cl),
       |c1 AS (SELECT c0.cl, COALESCE(u1.c, c0.c) AS c FROM c0 LEFT JOIN u1 USING (cl)),
       |d2 AS (
       |  SELECT v.vec_id, c1.cl,
       |         list_inner_product(v.iq, v.iq) - 2 * list_inner_product(v.iq, c1.c)
       |           + list_inner_product(c1.c, c1.c) AS dist
       |  FROM q v CROSS JOIN c1),
       |a2 AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT vec_id, cl,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
       |    FROM d2) WHERE rn = 1),
       |pr AS (SELECT dv AS pdv, iq AS piq FROM q WHERE vec_id = $probeId),
       |pcell AS (
       |  SELECT cl FROM (
       |    SELECT c1.cl,
       |           list_inner_product(pr.piq, pr.piq)
       |             - 2 * list_inner_product(pr.piq, c1.c)
       |             + list_inner_product(c1.c, c1.c) AS d
       |    FROM c1 CROSS JOIN pr)
       |  ORDER BY d, cl LIMIT $nProbe),
       |cand AS (
       |  SELECT a2.vec_id FROM a2 JOIN pcell USING (cl)
       |  WHERE a2.vec_id <> $probeId)""".stripMargin

  /** Full fixed-point IVF replay (mirrors graft.api.Similarity.annIvf
    * at iters = 2): [[ivfCommonCtes]]'s cells / probe set, then the
    * exact 6-dp cosine re-rank — the annLshOracle convention. */
  private def annIvfOracle(probeId: Long, k: Int, nCells: Int, nProbe: Int): String =
    s"""WITH ${ivfCommonCtes(probeId, nCells, nProbe)}
       |SELECT q.vec_id,
       |       round(list_cosine_similarity(q.dv, pr.pdv), 6) AS cos_sim
       |FROM q JOIN cand USING (vec_id) CROSS JOIN pr
       |ORDER BY cos_sim DESC, q.vec_id LIMIT $k""".stripMargin

  /** Full fixed-point IVF-PQ replay (mirrors graft.api.Similarity
    * .annIvfPq at iters = 2, pqIters = 3): [[ivfCommonCtes]]'s
    * candidate set, then the pqFitInt codebooks (md5-ordered 64·k
    * sample, strided init, three exact integer Lloyd rounds with
    * empty cells keeping their centroid), the candidate ADC scan over
    * the probe's per-subspace lookup distances, the top-(k·overscan)
    * selection by (integer ADC distance, id), and the exact 6-dp
    * cosine re-rank of the selected ids. */
  private def annIvfPqOracle(probeId: Long, k: Int, nCells: Int, nProbe: Int,
      m: Int, codebookK: Int, overscan: Int): String = {
    def lloyd(r: Int): String =
      s"""pd$r AS (
         |  SELECT s.sid, s.m, c.cell,
         |         list_inner_product(s.sv, s.sv) - 2 * list_inner_product(s.sv, c.cb)
         |           + list_inner_product(c.cb, c.cb) AS d
         |  FROM sub s JOIN pq${r - 1} c USING (m)),
         |pa$r AS (
         |  SELECT sid, m, cell FROM (
         |    SELECT sid, m, cell,
         |           row_number() OVER (PARTITION BY sid, m ORDER BY d, cell) AS rn
         |    FROM pd$r) WHERE rn = 1),
         |pe$r AS (
         |  SELECT a.m, a.cell, i.i, s.sv[i.i] AS x
         |  FROM pa$r a JOIN sub s ON a.sid = s.sid AND a.m = s.m
         |  CROSS JOIN (SELECT unnest(range(1, (SELECT dim // $m FROM dimv) + 1)) AS i) i),
         |pu$r AS (
         |  SELECT m, cell, list(fx ORDER BY i) AS cb
         |  FROM (SELECT m, cell, i, floor(sum(x) / count(*)) AS fx
         |        FROM pe$r GROUP BY m, cell, i)
         |  GROUP BY m, cell),
         |pq$r AS (
         |  SELECT p.m, p.cell, COALESCE(u.cb, p.cb) AS cb
         |  FROM pq${r - 1} p LEFT JOIN pu$r u USING (m, cell))""".stripMargin
    s"""WITH ${ivfCommonCtes(probeId, nCells, nProbe)},
       |dimv AS (SELECT len(iq) AS dim FROM q LIMIT 1),
       |mm AS (SELECT CAST(unnest(range(0, $m)) AS INT) AS m),
       |samp AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS sid, iq
       |  FROM (SELECT vec_id, iq, md5(CAST(vec_id AS VARCHAR)) AS h
       |        FROM q ORDER BY h, vec_id LIMIT ${64 * codebookK})),
       |sN AS (SELECT count(*) AS n FROM samp),
       |sub AS (
       |  SELECT s.sid, mm.m,
       |         s.iq[mm.m * (d.dim // $m) + 1 : (mm.m + 1) * (d.dim // $m)] AS sv
       |  FROM samp s CROSS JOIN mm CROSS JOIN dimv d),
       |pq0 AS (
       |  SELECT sub.m, CAST(cc.c AS INT) AS cell, sub.sv AS cb
       |  FROM sub
       |  JOIN (SELECT unnest(range(0, $codebookK)) AS c) cc
       |    ON sub.sid = cc.c * (SELECT greatest(1, n // $codebookK) FROM sN)),
       |${lloyd(1)},
       |${lloyd(2)},
       |${lloyd(3)},
       |csub AS (
       |  SELECT c.vec_id, mm.m,
       |         q.iq[mm.m * (d.dim // $m) + 1 : (mm.m + 1) * (d.dim // $m)] AS sv
       |  FROM cand c JOIN q USING (vec_id) CROSS JOIN mm CROSS JOIN dimv d),
       |enc AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT cs.vec_id, cs.m, b.cell,
       |           row_number() OVER (PARTITION BY cs.vec_id, cs.m ORDER BY
       |             list_inner_product(cs.sv, cs.sv)
       |               - 2 * list_inner_product(cs.sv, b.cb)
       |               + list_inner_product(b.cb, b.cb), b.cell) AS rn
       |    FROM csub cs JOIN pq3 b USING (m)) WHERE rn = 1),
       |psub AS (
       |  SELECT mm.m,
       |         pr.piq[mm.m * (d.dim // $m) + 1 : (mm.m + 1) * (d.dim // $m)] AS sv
       |  FROM pr CROSS JOIN mm CROSS JOIN dimv d),
       |lut AS (
       |  SELECT b.m, b.cell,
       |         list_inner_product(p.sv, p.sv) - 2 * list_inner_product(p.sv, b.cb)
       |           + list_inner_product(b.cb, b.cb) AS d
       |  FROM pq3 b JOIN psub p USING (m)),
       |adc AS (
       |  SELECT e.vec_id, sum(l.d) AS ad
       |  FROM enc e JOIN lut l ON e.m = l.m AND e.cell = l.cell
       |  GROUP BY e.vec_id),
       |sel AS (SELECT vec_id FROM adc ORDER BY ad, vec_id LIMIT ${k * overscan})
       |SELECT q.vec_id,
       |       round(list_cosine_similarity(q.dv, pr.pdv), 6) AS cos_sim
       |FROM q JOIN sel USING (vec_id) CROSS JOIN pr
       |ORDER BY cos_sim DESC, q.vec_id LIMIT $k""".stripMargin
  }

  val sql: Map[String, String] = Map(

    "q_dedup_simhash" -> simhashOracle(3),

    "q_stream_simhash_dedup" -> simhashStreamDedupOracle(3),

    // BPE tokenizer training + tokenizer-true counting (merge count
    // shared with the Spark side — no drift possible)
    "q_text_bpe_train" -> bpeTrainOracle(graft.ops.Text.BpeMergeCount),
    "q_text_bpe_tokens" -> bpeTokensOracle(graft.ops.Text.BpeMergeCount),

    "q_text_dedup_para" -> dedupParaOracle(20),

    // tokenizer fertility: the bpeTokensOracle aggregate widened with
    // char sums and the two 6-dp ratios
    "q_text_bpe_fertility" -> {
      val n = graft.ops.Text.BpeMergeCount
      s"""WITH ${bpeCtes(n)},
         |agg AS (
         |  SELECT d.lang,
         |         CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(len(string_split(trim(f.syms), '  '))) AS BIGINT) AS n_subtokens,
         |         CAST(sum(len(d.w)) AS BIGINT) AS n_chars
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) d
         |  JOIN w$n f ON d.w = f.w
         |  GROUP BY d.lang)
         |SELECT lang, n_words, n_subtokens,
         |       round(CAST(n_subtokens AS DOUBLE) / n_words, 6) AS fertility,
         |       round(CAST(n_chars AS DOUBLE) / n_subtokens, 6) AS chars_per_subtoken
         |FROM agg ORDER BY lang""".stripMargin
    },

    "q_text_para_keep_best" -> paraKeepBestOracle(20),

    // paragraph-level decontamination replay: the dedupParaOracle view
    // + the SAME literal probe OR-chain Spark codegens, then the same
    // keep-survivors reconstruction
    "q_text_decontam_para" -> {
      val orChain = graft.ops.Text.contaminationProbes
        .map(p => s"position('${p.replace("'", "''")}' IN ptext) > 0")
        .mkString(" OR ")
      s"""WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |par AS (
         |  SELECT doc_id, k AS para_idx,
         |         array_to_string(t[k * 20 + 1 : k * 20 + 20], ' ') AS ptext
         |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 20)) AS k
         |        FROM sy) s0),
         |flag AS (
         |  SELECT doc_id, para_idx, ptext,
         |         CASE WHEN $orChain THEN 1 ELSE 0 END AS bad
         |  FROM par)
         |SELECT doc_id,
         |       coalesce(string_agg(CASE WHEN bad = 0 THEN ptext END, ' ' ORDER BY para_idx), '') AS text,
         |       CAST(sum(CASE WHEN bad = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN bad = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_text_trim_para" -> trimParaOracle(20, 8),

    // paragraph-quality-filter replay: per-paragraph quality composite
    // (the q_text_quality formula over ptext, 6-dp) + the same 0.58
    // threshold + the shared reconstruction
    "q_text_quality_para" ->
      """WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |par AS (
        |  SELECT doc_id, k AS para_idx,
        |         array_to_string(t[k * 20 + 1 : k * 20 + 20], ' ') AS ptext
        |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 20)) AS k
        |        FROM sy) s0),
        |q AS (
        |  SELECT doc_id, para_idx, ptext,
        |         round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4
        |               + (1.0 - ns / n) * 0.2, 6) AS pq
        |  FROM (SELECT doc_id, para_idx, ptext,
        |          CAST(len(string_split(ptext, ' ')) AS DOUBLE) AS n,
        |          CAST(len(list_distinct(string_split(ptext, ' '))) AS DOUBLE) AS nd,
        |          CAST(len(list_filter(string_split(ptext, ' '),
        |            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |        FROM par) t0)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN pq >= 0.58 THEN ptext END, ' ' ORDER BY para_idx), '') AS text,
        |       CAST(sum(CASE WHEN pq >= 0.58 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN pq >= 0.58 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // corpus-adaptive paragraph-quality replay: the q_text_quality_para
    // CTEs + a histogram over the 6-dp composite (finite value domain,
    // so the percentile is exact) -> threshold = min quality whose
    // cumulative count reaches ceil(total/20), the integer-ceiling p05
    // convention of q_quality_adaptive; the threshold is part of the
    // graded output
    "q_text_quality_para_adaptive" ->
      """WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |par AS (
        |  SELECT doc_id, k AS para_idx,
        |         array_to_string(t[k * 20 + 1 : k * 20 + 20], ' ') AS ptext
        |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 20)) AS k
        |        FROM sy) s0),
        |q AS (
        |  SELECT doc_id, para_idx, ptext,
        |         round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4
        |               + (1.0 - ns / n) * 0.2, 6) AS pq
        |  FROM (SELECT doc_id, para_idx, ptext,
        |          CAST(len(string_split(ptext, ' ')) AS DOUBLE) AS n,
        |          CAST(len(list_distinct(string_split(ptext, ' '))) AS DOUBLE) AS nd,
        |          CAST(len(list_filter(string_split(ptext, ' '),
        |            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |        FROM par) t0),
        |hist AS (SELECT pq, count(*) AS cnt FROM q GROUP BY pq),
        |th AS (
        |  SELECT min(CASE WHEN cum >= (total + 19) // 20 THEN pq END) AS q_threshold
        |  FROM (SELECT pq, sum(cnt) OVER (ORDER BY pq) AS cum,
        |               sum(cnt) OVER () AS total FROM hist) h)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN pq >= q_threshold THEN ptext END, ' ' ORDER BY para_idx), '') AS text,
        |       CAST(sum(CASE WHEN pq >= q_threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN pq >= q_threshold THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |       q_threshold
        |FROM q CROSS JOIN th
        |GROUP BY doc_id, q_threshold ORDER BY doc_id""".stripMargin,

    // separator-view paragraph dedup replay: the SAME deterministic
    // injection (doc d re-joined with '<p>' every 4 + d % 5 tokens),
    // then split-on-marker / trim / drop-empty / keep-first /
    // separator-preserving reconstruction. Injecting then splitting
    // yields exactly the k(d)-token slices, so the replay builds the
    // slices directly — the Spark side's split+trim is the code path
    // under test, the slices are the semantics
    "q_text_dedup_para_sep" ->
      """WITH sy AS (SELECT doc_id, 4 + doc_id % 5 AS k, string_split(text, ' ') AS t
        |            FROM documents),
        |par AS (
        |  SELECT doc_id, j AS para_idx,
        |         array_to_string(t[j * k + 1 : j * k + k], ' ') AS ptext
        |  FROM (SELECT doc_id, k, t, unnest(generate_series(0, (len(t) - 1) // k)) AS j
        |        FROM sy) s0),
        |flag AS (
        |  SELECT doc_id, para_idx, ptext,
        |         row_number() OVER (PARTITION BY ptext ORDER BY doc_id, para_idx) AS rn
        |  FROM par)
        |SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN ptext END, ' <p> ' ORDER BY para_idx), '') AS text,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // paragraph-level NEAR-dup replay: the 20-token paragraph view as
    // the simhash base (pid = doc_id*1e6 + para_idx), the SAME
    // signature/banding/hamming CTEs as q_dedup_simhash, the
    // q_dedup_cluster reachability closure, then anti-join excision of
    // non-canonical members and the trimParaOracle-style left-join
    // reconstruction (fully-excised docs emit '')
    "q_text_dedup_para_near" -> {
      s"""WITH RECURSIVE sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |par AS (
         |  SELECT doc_id, k AS para_idx, doc_id * 1000000 + k AS pid,
         |         array_to_string(t[k * 20 + 1 : k * 20 + 20], ' ') AS text
         |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 20)) AS k
         |        FROM sy) s0),
         |${simhashCtes(3, base = "par", idCol = "pid")},
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM prs
         |  UNION SELECT b_id, a_id FROM prs),
         |reach AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |drops AS (
         |  SELECT src AS pid FROM (
         |    SELECT src, least(src, min(dst)) AS canonical FROM reach GROUP BY src) c
         |  WHERE pid <> canonical),
         |kept AS (
         |  SELECT p.doc_id, p.para_idx, p.text
         |  FROM par p ANTI JOIN drops d ON p.pid = d.pid),
         |recon AS (
         |  SELECT doc_id, string_agg(text, ' ' ORDER BY para_idx) AS text,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(r.text, '') AS text,
         |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
         |FROM (SELECT DISTINCT doc_id FROM par) d
         |LEFT JOIN recon r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // paragraph-level n-gram decontamination replay: the 20-token view
    // + the q_text_decontam_ngram probe construction (distinct 3-gram
    // sets via the tok/sh join pattern) + the same exact small-integer
    // 0.5 threshold, then anti-join excision and the left-join
    // reconstruction (fully-excised docs emit '')
    "q_text_decontam_para_ngram" ->
      """WITH sy AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |par AS (
        |  SELECT doc_id, k AS para_idx,
        |         array_to_string(t[k * 20 + 1 : k * 20 + 20], ' ') AS ptext
        |  FROM (SELECT doc_id, t, unnest(generate_series(0, (len(t) - 1) // 20)) AS k
        |        FROM sy) s0),
        |ptok AS (
        |  SELECT doc_id, para_idx,
        |         generate_subscripts(string_split(ptext, ' '), 1) AS pos,
        |         unnest(string_split(ptext, ' ')) AS w FROM par),
        |parsh AS (
        |  SELECT DISTINCT a.doc_id, a.para_idx, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM ptok a
        |  JOIN ptok b ON a.doc_id = b.doc_id AND a.para_idx = b.para_idx
        |   AND b.pos = a.pos + 1
        |  JOIN ptok c ON a.doc_id = c.doc_id AND a.para_idx = c.para_idx
        |   AND c.pos = a.pos + 2),
        |probes AS (
        |  SELECT doc_id AS probe_id,
        |         array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS ptext0
        |  FROM documents WHERE doc_id < 4),
        |ptok2 AS (
        |  SELECT probe_id, generate_subscripts(string_split(ptext0, ' '), 1) AS pos,
        |         unnest(string_split(ptext0, ' ')) AS w FROM probes),
        |psh AS (
        |  SELECT DISTINCT a.probe_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM ptok2 a
        |  JOIN ptok2 b ON a.probe_id = b.probe_id AND b.pos = a.pos + 1
        |  JOIN ptok2 c ON a.probe_id = c.probe_id AND c.pos = a.pos + 2),
        |psz AS (SELECT probe_id, count(*) AS p_n FROM psh GROUP BY 1),
        |flagged AS (
        |  SELECT DISTINCT j.doc_id, j.para_idx
        |  FROM (SELECT s.doc_id, s.para_idx, p.probe_id, count(*) AS n_shared
        |        FROM parsh s JOIN psh p ON s.sh = p.sh GROUP BY 1, 2, 3) j
        |  JOIN psz ON j.probe_id = psz.probe_id
        |  WHERE CAST(j.n_shared AS DOUBLE) / psz.p_n >= 0.5),
        |kept AS (
        |  SELECT p.doc_id, p.para_idx, p.ptext
        |  FROM par p ANTI JOIN flagged f
        |    ON p.doc_id = f.doc_id AND p.para_idx = f.para_idx),
        |recon AS (
        |  SELECT doc_id, string_agg(ptext, ' ' ORDER BY para_idx) AS text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
        |FROM (SELECT DISTINCT doc_id FROM par) d
        |LEFT JOIN recon r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // BPE-budget packing: the full training replay feeds per-doc
    // subtoken counts, then the q_pack_chunks window
    "q_pack_chunks_bpe" -> {
      s"""WITH ${bpeCtes(graft.ops.Text.BpeMergeCount)},
         |d AS (
         |  SELECT t.lang, t.doc_id,
         |         CAST(sum(len(string_split(trim(f.syms), '  '))) AS BIGINT) AS n_tokens
         |  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t
         |  JOIN w${graft.ops.Text.BpeMergeCount} f ON t.w = f.w
         |  GROUP BY t.lang, t.doc_id),
         |c AS (
         |  SELECT lang, doc_id, n_tokens,
         |         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_toks
         |  FROM d)
         |SELECT lang, CAST(floor(before_toks / 320) AS BIGINT) AS chunk_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, chunk_id""".stripMargin
    },

    // ANN: the axis-aligned LSH family and the sign-bucket inverted file
    // are pure sign tests + integer arithmetic — fully replayable.
    // Since round-15 the IVF family is TOO: its k-means (coarse cells;
    // PQ codebooks) runs in the quantEmb fixed-point lattice, so the
    // cells, probe set, codebooks and ADC scan replay exactly (the
    // float fit that blocked these two rows is gone); the candidate-
    // set re-rank tests in TextVectorSpec remain as the parameter-
    // independent invariants.
    "q_ann_lsh" -> annLshOracle(probeId = 0L, k = 10, nTables = 8, nBits = 4, dim = 64),
    "q_ann_multiprobe" -> annMultiProbeOracle(probeId = 0L, k = 10,
      nBits = 6, extraBits = 4, maxOccupancy = 32),
    "q_ann_ivf" -> annIvfOracle(probeId = 0L, k = 10, nCells = 16, nProbe = 4),
    "q_ann_ivfpq" -> annIvfPqOracle(probeId = 0L, k = 10, nCells = 16,
      nProbe = 4, m = 8, codebookK = 16, overscan = 5),

    // §2.1 scans -------------------------------------------------------------
    "q_scan_parquet" ->
      """SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem""".stripMargin,

    "q_scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    // the Spark side reads ONE partition of a hive-partitioned copy of
    // orders; pruning must reproduce exactly the filtered original
    "q_scan_partition" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    // the Spark side lands this aggregate in an embedded-Derby JDBC
    // table and reads it back through the 4-range partitioned JDBC
    // scan; the oracle computes the aggregate directly, so a match
    // proves the store roundtrip (type mapping, decimal scale,
    // varchar) was value-exact
    "q_sink_jdbc" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Spark side PRODUCES orders-derived records into a fresh
    // 4-partition graft-log (key-hash routing), batch-reads them back
    // through the DSv2 log scan, and re-aggregates; the oracle
    // computes the aggregate from the original table, so loss,
    // duplication or corruption anywhere in the produce→scan path
    // fails the hash compare
    "q_source_log" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Spark side reads a derived JSONL copy of part; the
    // oracle reads the parquet ORIGINAL — same format-independence
    // contract as q_scan_csv, over the splittable JSON layout
    "q_scan_jsonl" ->
      """SELECT p_brand, count(*) AS n_parts,
        |       CAST(max(p_size) AS INTEGER) AS max_size,
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    // the Spark side reads a derived CSV copy of customer; the
    // oracle reads the parquet ORIGINAL, so a match proves the text
    // round-trip was value-exact for every aggregated column
    "q_scan_csv" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    // §2.2 projection / filter ----------------------------------------------
    "q_project_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin,

    "q_filter_pred" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount IN (0.05, 0.06, 0.07)
        |  AND l_quantity < 24.0""".stripMargin,

    "q_filter_like" ->
      """SELECT p_partkey, p_name, p_type
        |FROM part
        |WHERE p_name LIKE '%red%' OR p_type LIKE 'PROMO%'
        |ORDER BY p_partkey""".stripMargin,

    // §2.3 joins -------------------------------------------------------------
    "q_join_inner" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_join_full" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
        |     s AS (SELECT s_nationkey AS nationkey2, count(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT coalesce(nationkey, nationkey2) AS nationkey,
        |       coalesce(n_cust, 0) AS n_cust,
        |       coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON nationkey = nationkey2
        |ORDER BY nationkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q_join_theta" ->
      """SELECT a.p_partkey AS a_partkey, count(*) AS n_close
        |FROM part a JOIN part b
        |  ON abs(a.p_retailprice - b.p_retailprice) <= 1.0
        | AND a.p_partkey <> b.p_partkey
        |GROUP BY a.p_partkey
        |ORDER BY a.p_partkey""".stripMargin,

    // same semantics as q_join_theta — the Spark side is the NAIVE theta
    // join made scalable by the BandJoinRewrite optimizer rule
    "q_join_theta_auto" ->
      """SELECT a.p_partkey AS a_partkey, count(*) AS n_close
        |FROM part a JOIN part b
        |  ON abs(a.p_retailprice - b.p_retailprice) <= 1.0
        | AND a.p_partkey <> b.p_partkey
        |GROUP BY a.p_partkey
        |ORDER BY a.p_partkey""".stripMargin,

    "q_join_asof" ->
      """WITH pc AS (
        |  SELECT event_id, ts, user_id, event_type,
        |         CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click'))
        |SELECT event_id, user_id, last_click_id FROM (
        |  SELECT event_id, user_id, event_type,
        |         last_value(click_id IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
        |  FROM pc) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q_join_self" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |       CAST(sum(date_diff('second', prev_ts, ts)) AS BIGINT) AS sum_gap_s,
        |       CAST(max(date_diff('second', prev_ts, ts)) AS BIGINT) AS max_gap_s
        |FROM g WHERE prev_ts IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // the Spark side runs the BANDED equi formulation; the oracle is the
    // naive inequality overlap join — equality proves the banding exact
    "q_join_interval" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
        |  FROM events)
        |SELECT a.user_id AS user_id, count(*) AS n_overlaps
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.s <= b.e AND b.s <= a.e
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin,

    // independent brute force (NOT a replay of the segment blocking):
    // the gate re-proves hammingJoin's pigeonhole completeness on every
    // run. CASE guards the length so DuckDB's hamming (which errors on
    // unequal lengths, where Spark's returns null) never sees one.
    "q_join_fuzzy" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |       CAST(hamming(a.c_name, b.c_name) AS INTEGER) AS hamming
        |FROM c a JOIN c b
        |  ON a.c_custkey < b.c_custkey
        | AND length(a.c_name) = length(b.c_name)
        |WHERE CASE WHEN length(a.c_name) = length(b.c_name)
        |           THEN hamming(a.c_name, b.c_name) <= 1 ELSE FALSE END
        |ORDER BY a_id, b_id""".stripMargin,

    // §2.4 aggregations ------------------------------------------------------
    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |       avg(l_quantity) AS avg_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_rollup" ->
      """SELECT n_name, c_mktsegment, n_cust, sum_bal, gid FROM (
        |  SELECT n_name, c_mktsegment, count(*) AS n_cust,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |         CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY ROLLUP (n_name, c_mktsegment)) t
        |ORDER BY gid, n_name, c_mktsegment""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, sum_qty, n_rows, gid FROM (
        |  SELECT l_returnflag, l_linestatus,
        |         sum(l_quantity) AS sum_qty, count(*) AS n_rows,
        |         CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |  FROM lineitem
        |  GROUP BY CUBE (l_returnflag, l_linestatus)) t
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q_agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 6) AS sd_qty,
        |       round(var_samp(l_quantity), 6) AS var_qty,
        |       median(l_quantity) AS med_qty,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_collect" ->
      """SELECT n_name,
        |       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // §2.5 windows -----------------------------------------------------------
    "q_win_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_win_running" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_frame" ->
      """SELECT user_id, event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS mov_sum,
        |       count(*) OVER w AS mov_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_win_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY epoch_day
        |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT) AS epoch_day
        |      FROM orders) t
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_analytic" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(o_orderkey)  OVER w AS prev_orderkey,
        |       lead(o_orderkey) OVER w AS next_orderkey,
        |       first_value(o_orderkey) OVER wa AS first_orderkey,
        |       last_value(o_orderkey)  OVER wa AS last_orderkey,
        |       CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wa AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // §2.6 sort / set ops ----------------------------------------------------
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    // the custom TopKPerKey operator's result equals the rank-filter
    // window formulation because (orderkey, linenumber) makes the order
    // total — this is the operator's documented determinism contract
    "q_topk_per_key" ->
      """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice
        |FROM (
        |  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, l_linestatus, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,

    "q_set_union" ->
      """WITH u AS (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier),
        |a AS (SELECT nationkey, count(*) AS n_all FROM u GROUP BY 1),
        |d AS (SELECT nationkey, count(*) AS n_distinct
        |      FROM (SELECT DISTINCT nationkey FROM u) GROUP BY 1)
        |SELECT a.nationkey, a.n_all, d.n_distinct
        |FROM a JOIN d ON a.nationkey = d.nationkey
        |ORDER BY a.nationkey""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin,

    "q_set_except_all" ->
      """SELECT custkey, count(*) AS n_remaining FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
        |GROUP BY custkey ORDER BY custkey""".stripMargin,

    "q_set_intersect_all" ->
      """SELECT custkey, count(*) AS n_common FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t
        |GROUP BY custkey ORDER BY custkey""".stripMargin,

    // §2.7 scalar function families -----------------------------------------
    "q_fn_string" ->
      """SELECT p_partkey,
        |       upper(p_name) AS upper_name,
        |       lower(p_brand) AS lower_brand,
        |       substring(p_name, 1, 3) AS name3,
        |       CAST(length(p_name) AS INTEGER) AS name_len,
        |       concat_ws('|', p_brand, p_type) AS brand_type,
        |       trim('  pad  ') AS trimmed,
        |       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |       regexp_replace(p_name, ' ', '_', 'g') AS name_us,
        |       string_split(p_name, ' ')[1] AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_fn_date" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(month(o_orderdate) AS INTEGER) AS mo,
        |       CAST(day(o_orderdate) AS INTEGER) AS dom,
        |       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |       CAST(epoch_ms(o_orderdate) // 1000 AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_sql_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate <  TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // bivariate stats replay: same 6-dp rounding convention as
    // q_agg_stats (co-moment update order differs in the last ulps)
    "q_agg_corr" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice)
        |             / nullif(var_samp(l_quantity), 0.0), 6) AS slope_price_per_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // z-score replay: moments rounded to 6 dp BEFORE the threshold on
    // both sides so the boundary set is identical; worst offender via
    // (z, event_id) struct-max ↔ ORDER BY z DESC, event_id DESC rank 1
    "q_anomaly_zscore" ->
      """WITH s AS (
        |  SELECT event_type, round(avg(value), 6) AS mu,
        |         round(stddev_samp(value), 6) AS sigma
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_type, e.event_id,
        |         round(abs(e.value - s.mu) / s.sigma, 6) AS z
        |  FROM events e JOIN s USING (event_type)
        |  WHERE s.sigma > 0.0),
        |o AS (SELECT * FROM z WHERE z > 2.0),
        |w AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY z DESC, event_id DESC) AS rk
        |  FROM o)
        |SELECT event_type, count(*) AS n_outliers,
        |       CAST(max(CASE WHEN rk = 1 THEN event_id END) AS BIGINT) AS worst_event,
        |       round(max(z), 6) AS max_z
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // variant replay: DuckDB extracts the same JSON field as text and
    // casts; bucket arithmetic is floor(k / 10.0) on BOTH sides (div/
    // // truncation conventions differ for negatives — floor does not)
    "q_fn_variant" ->
      """WITH e AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT CAST(floor(k / 10.0) AS BIGINT) AS k_bucket, count(*) AS n,
        |       min(k) AS k_min, max(k) AS k_max
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // IGNORE NULLS replay: DuckDB spells it inside the argument list;
    // same frame, same (us, event_id) total order, raw doubles carried
    "q_win_ignore_nulls" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |         CASE WHEN event_type = 'purchase' THEN value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |       last_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS last_purchase_value,
        |       first_value(v IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY us, event_id
        |         ROWS UNBOUNDED PRECEDING) AS first_purchase_value
        |FROM e ORDER BY event_id""".stripMargin,

    // RFM replay: identical quintile assignment — ntile is only
    // deterministic under a total order, so every ORDER BY carries the
    // customer key; DuckDB's BIGINT ntile casts down to Spark's INT
    "q_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |         count(*) AS frequency,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT monetary,
        |         CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r,
        |         CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f,
        |         CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m
        |  FROM pc)
        |SELECT r, f, m, count(*) AS n_customers,
        |       CAST(sum(monetary) AS DOUBLE) AS segment_value
        |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the approx-percentile variant is spec-pinned EQUAL to the exact
    // ntile segmentation at graded scales — same replay
    "q_rfm_approx" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(o_orderdate) AS last_order,
        |         count(*) AS frequency,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT monetary,
        |         CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r,
        |         CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f,
        |         CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m
        |  FROM pc)
        |SELECT r, f, m, count(*) AS n_customers,
        |       CAST(sum(monetary) AS DOUBLE) AS segment_value
        |FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // triangle replay: relational wedge formulation (oriented edges
    // joined on the middle node, closing edge checked with EXISTS) of the
    // counts the Spark side derives by forward-neighbour intersection —
    // independent derivations must agree
    "q_graph_triangles" ->
      """WITH lp AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 10 = 0),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |n AS (SELECT count(*) AS n_nodes FROM
        |        (SELECT p1 AS n FROM e UNION SELECT p2 FROM e)),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |t AS (
        |  SELECT count(*) AS n_triangles
        |  FROM (SELECT w1.p1 AS x, w2.p2 AS z
        |        FROM e w1 JOIN e w2 ON w1.p2 = w2.p1) w
        |  WHERE EXISTS (SELECT 1 FROM e c WHERE c.p1 = w.x AND c.p2 = w.z))
        |SELECT n.n_nodes, m.n_edges, t.n_triangles FROM n, m, t""".stripMargin,

    // basket replay: relational (self-join) formulation of the same
    // pair semantics the Spark side derives with one groupBy + HOF
    // expansion — independent derivations must agree
    "q_basket_pairs" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS cnt
        |  FROM lp a JOIN lp b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(cnt AS BIGINT) AS n_orders
        |FROM p ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin,

    // cohort replay: identical week arithmetic from a fixed epoch —
    // DATE minus DATE is BIGINT days in DuckDB, and floor(days / 7.0)
    // is spelled on BOTH sides (Spark div truncates toward zero for
    // negatives where // floors; floor is convention-free)
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7.0) AS BIGINT) AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM ev)
        |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |WHERE a.week >= c.cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stateful-funnel replay: the window formulation of the same
    // sequential semantics the flatMapGroupsWithState kernel executes —
    // per-purchase completion flags, integer-µs arithmetic
    "q_stream_funnel_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |w1 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lv_us
        |  FROM e),
        |w2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
        |                  AND us - lv_us <= 3600000000 THEN us END AS qc_us
        |  FROM w1),
        |w3 AS (
        |  SELECT *, max(qc_us)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lqc_us
        |  FROM w2)
        |SELECT user_id, event_id,
        |       CAST(CASE WHEN lqc_us IS NOT NULL AND us - lqc_us <= 3600000000
        |            THEN 1 ELSE 0 END AS INTEGER) AS completed
        |FROM w3 WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // the transformWithState twin executes the SAME sequential
    // semantics — identical replay
    "q_funnel_tws" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |w1 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lv_us
        |  FROM e),
        |w2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
        |                  AND us - lv_us <= 3600000000 THEN us END AS qc_us
        |  FROM w1),
        |w3 AS (
        |  SELECT *, max(qc_us)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lqc_us
        |  FROM w2)
        |SELECT user_id, event_id,
        |       CAST(CASE WHEN lqc_us IS NOT NULL AND us - lqc_us <= 3600000000
        |            THEN 1 ELSE 0 END AS INTEGER) AS completed
        |FROM w3 WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // gaps-and-islands replay: identical rn-difference trick and the
    // identical (len DESC, start ASC) longest-streak tie-break
    "q_win_islands" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, d,
        |         row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
        |  FROM e),
        |i AS (
        |  SELECT user_id, d - CAST(rn AS INTEGER) AS grp,
        |         count(*) AS len, min(d) AS streak_start
        |  FROM w GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY len DESC, streak_start) AS rk
        |  FROM i),
        |s AS (SELECT user_id, count(*) AS n_streaks FROM i GROUP BY 1)
        |SELECT s.user_id, s.n_streaks, CAST(r.len AS BIGINT) AS max_streak,
        |       r.streak_start AS best_start
        |FROM s JOIN r ON s.user_id = r.user_id AND r.rk = 1
        |ORDER BY s.user_id""".stripMargin,

    // z-order replay: identical equi-width scaling (double arithmetic —
    // exact for these magnitudes, floor(double) is engine-portable) and
    // the same Morton interleave via plain bit operators
    "q_zorder_profile" ->
      s"""WITH bounds AS (
         |  SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
         |         min(l_suppkey) AS slo, max(l_suppkey) AS shi FROM lineitem),
         |s AS (
         |  SELECT CAST(floor((l_partkey - plo) * 1024.0 / (phi - plo + 1)) AS BIGINT) AS pa,
         |         CAST(floor((l_suppkey - slo) * 1024.0 / (shi - slo + 1)) AS BIGINT) AS sb
         |  FROM lineitem, bounds),
         |z AS (SELECT pa, sb, ${mortonExpr("pa", "sb", 10)} AS zv FROM s)
         |SELECT zv >> 14 AS z_bucket, count(*) AS n_rows,
         |       min(pa) AS pa_min, max(pa) AS pa_max,
         |       min(sb) AS sb_min, max(sb) AS sb_max
         |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

    // PageRank replay: integer micro-unit ranks, 3 unrolled iterations.
    // Every division is floor division (DuckDB // ↔ Spark div — equal
    // for non-negative operands), every accumulation an integer sum, so
    // the replay is hash-exact with no float tolerance. sum(BIGINT) is
    // HUGEINT in DuckDB, hence the CASTs (playbook gotcha).
    "q_graph_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_orderkey % 10 = 0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
        |c1 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.deg) AS BIGINT) AS c
        |       FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |              CAST(150000 + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c1 c ON n.node = c.node),
        |c2 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.deg) AS BIGINT) AS c
        |       FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |              CAST(150000 + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c2 c ON n.node = c.node),
        |c3 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.deg) AS BIGINT) AS c
        |       FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |              CAST(150000 + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c3 c ON n.node = c.node)
        |SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 20""".stripMargin,

    // identical recursive-CTE text in both engines: two independent
    // WITH RECURSIVE implementations must agree (Spark 4 UnionLoop vs
    // DuckDB's recursive executor)
    "q_sql_recursive" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP) AS lo,
        |         CAST(date_trunc('month', max(o_orderdate)) AS TIMESTAMP) AS hi
        |  FROM orders),
        |months(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi)
        |SELECT m AS month_start, count(o_orderkey) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) = m
        |GROUP BY m ORDER BY m""".stripMargin,

    // the try_ family's NULL cases spelled out with CASE: DuckDB's
    // operators don't raise on these inputs, so each NULL is asserted
    // (add_or_null: keys <= 7 land exactly at/below Long.Max, larger
    // overflow -> NULL on the Spark side)
    "q_fn_try" ->
      """SELECT o_orderkey,
        |       round(CASE WHEN o_custkey % 7 = 0 THEN NULL
        |                  ELSE o_totalprice / (o_custkey % 7) END, 6) AS div_or_null,
        |       TRY_CAST(o_orderpriority AS INTEGER) AS cast_or_null,
        |       TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
        |       CASE WHEN o_orderkey <= 7 THEN 9223372036854775800 + o_orderkey
        |            ELSE NULL END AS add_or_null
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the guarded twin computes the IDENTICAL rows (the oracle is the
    // same NULL-asserting CASE replay) — what differs is the plan:
    // predicate-guarded legs instead of per-row exception unwinds
    "q_fn_try_guarded" ->
      """SELECT o_orderkey,
        |       round(CASE WHEN o_custkey % 7 = 0 THEN NULL
        |                  ELSE o_totalprice / (o_custkey % 7) END, 6) AS div_or_null,
        |       TRY_CAST(o_orderpriority AS INTEGER) AS cast_or_null,
        |       TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
        |       CASE WHEN o_orderkey <= 7 THEN 9223372036854775800 + o_orderkey
        |            ELSE NULL END AS add_or_null
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // DuckDB runs the identical LATERAL text — the check is that both
    // engines' decorrelations agree with each other
    "q_sql_lateral" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_fn_date2" ->
      """SELECT o_orderkey,
        |       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS DATE) AS plus7d
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_fn_math" ->
      """SELECT p_partkey,
        |       round(p_retailprice, 0) AS price_r0,
        |       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |       abs(p_retailprice - 950.0) AS dist_950,
        |       round(sqrt(p_retailprice), 6) AS price_sqrt,
        |       round(ln(p_retailprice), 6) AS price_ln,
        |       round(pow(CAST(p_size AS DOUBLE), 2.0), 1) AS size_sq,
        |       p_partkey % 7 AS key_mod7
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_fn_array" ->
      """SELECT vec_id,
        |       CAST(len(embedding) AS INTEGER) AS dim,
        |       round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |       round(list_reduce(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)),
        |                         (x, y) -> x + y), 6) AS sum8,
        |       CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_fn_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |       count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fn_cond" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice > 300000.0 THEN 'big'
        |            WHEN o_totalprice > 100000.0 THEN 'mid'
        |            ELSE 'small' END AS bucket,
        |       coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_x,
        |       CAST(trunc(o_totalprice) AS BIGINT) AS price_long,
        |       CAST(o_orderkey % 2 = 0 AS INTEGER) AS is_even
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // SQL surface: subqueries (Catalyst decorrelates to joins) --------------
    "q_sql_scalar_subquery" ->
      """SELECT p_partkey, p_retailprice
        |FROM part
        |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q_sql_in_subquery" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_sql_exists_corr" ->
      """SELECT n_nationkey, n_name
        |FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer
        |              WHERE c_nationkey = n_nationkey AND c_acctbal > 9000.0)
        |ORDER BY n_nationkey""".stripMargin,

    "q_sql_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, n_orders, gid FROM (
        |  SELECT o_orderpriority, o_orderstatus,
        |         count(*) AS n_orders,
        |         CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid
        |  FROM orders
        |  GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())) t
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,

    "q_sql_tpch_q3" ->
      """SELECT l_orderkey,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate  > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_agg_argmax" ->
      """SELECT o_orderpriority,
        |       arg_max(o_orderkey, ord) AS top_orderkey,
        |       arg_min(o_orderkey, ord) AS bottom_orderkey,
        |       max(o_totalprice) AS top_price
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 12, '0')
        |          || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS ord
        |      FROM orders) t
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // pivot / extra window / bitwise / salted join ---------------------------
    "q_agg_pivot" ->
      """SELECT n_name,
        |       CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS "AUTOMOBILE",
        |       CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) AS BIGINT) AS "BUILDING",
        |       CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) AS BIGINT) AS "FURNITURE",
        |       CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) AS BIGINT) AS "HOUSEHOLD",
        |       CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) AS BIGINT) AS "MACHINERY"
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // the nested array-of-struct stays Spark-internal; its consumers
    // (first element, fold-sum, max) replay relationally. The rank
    // orders by (linenumber, quantity) — this generator emits DUPLICATE
    // line numbers within an order, and the struct sort breaks the tie
    // on the next field
    "q_fn_struct" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_quantity,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_quantity) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey,
        |       CAST(count(*) AS INTEGER) AS n_lines,
        |       max(CASE WHEN rn = 1 THEN l_quantity END) AS first_qty,
        |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |       max(l_quantity) AS max_qty
        |FROM l GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,

    "q_agg_multi_distinct" ->
      """SELECT o_orderstatus,
        |       count(DISTINCT o_custkey) AS n_custs,
        |       count(DISTINCT o_orderpriority) AS n_prios,
        |       count(DISTINCT year(o_orderdate)) AS n_years,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the map stays Spark-internal: the oracle computes the same keyed
    // lookups relationally (max-of-CASE over the per-status counts)
    "q_fn_map" ->
      """WITH s AS (
        |  SELECT o_custkey, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey,
        |       CAST(count(*) AS INTEGER) AS n_statuses,
        |       coalesce(max(CASE WHEN o_orderstatus = 'O' THEN n END), 0) AS n_open,
        |       coalesce(max(CASE WHEN o_orderstatus = 'F' THEN n END), 0) AS n_final,
        |       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM s GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    // predicate aggregates: DuckDB spells count_if as count(*) FILTER;
    // booleans cast to int on both sides
    "q_agg_bool" ->
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |       CAST(bool_and(o_totalprice > 1000.0) AS INTEGER) AS all_over_1k,
        |       CAST(bool_or(o_orderstatus = 'F') AS INTEGER) AS any_final
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // unpivot replayed as a wide aggregate + UNION ALL (the relational
    // definition of melt); DECIMAL money sum like every other oracle
    "q_agg_unpivot" ->
      """WITH w AS (
        |  SELECT o_orderstatus,
        |         CAST(count(*) AS DOUBLE) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |         CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_custs
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, metric, value FROM (
        |  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
        |  UNION ALL SELECT o_orderstatus, 'sum_price', sum_price FROM w
        |  UNION ALL SELECT o_orderstatus, 'n_custs', n_custs FROM w) t
        |ORDER BY o_orderstatus, metric""".stripMargin,

    "q_win_percent" ->
      """SELECT o_custkey, o_orderkey,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_fn_bitwise" ->
      """SELECT o_orderkey,
        |       o_orderkey & 255 AS and255,
        |       o_orderkey | 16 AS or16,
        |       xor(o_orderkey, o_custkey) AS xor_cust,
        |       o_orderkey << 2 AS shl2,
        |       o_orderkey >> 3 AS shr3,
        |       CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the salted join must produce EXACTLY the plain join's answer — the
    // oracle is the unsalted formulation.
    "q_join_skew_salted" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // the bucketed layout must not change the ANSWER: the oracle is the
    // plain join over the un-bucketed tables (the plan property — no
    // exchange — is pinned by ScaleJoinSpec)
    "q_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // data-quality audit ------------------------------------------------------
    "q_quality_audit" ->
      """SELECT check_name, n_violations FROM (
        |  SELECT 'lineitem_orphan_orderkey' AS check_name,
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
        |  UNION ALL SELECT 'lineitem_orphan_partkey',
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'orders_orphan_custkey',
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'orders_null_orderdate',
        |    (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        |  UNION ALL SELECT 'lineitem_null_quantity',
        |    (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL)
        |  UNION ALL SELECT 'orders_duplicate_pk',
        |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |      GROUP BY o_orderkey HAVING count(*) > 1) t)
        |  UNION ALL SELECT 'lineitem_duplicate_pk',
        |    (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1) t)
        |  UNION ALL SELECT 'lineitem_nonpositive_qty',
        |    (SELECT count(*) FROM lineitem WHERE l_quantity <= 0.0)
        |  UNION ALL SELECT 'lineitem_discount_range',
        |    (SELECT count(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0)
        |  UNION ALL SELECT 'orders_status_domain',
        |    (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P'))) t
        |ORDER BY check_name""".stripMargin,

    // §2.8 text analysis / dedup ---------------------------------------------
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |       CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |       CAST(n AS INTEGER) AS n_tokens,
        |       round(nd / n, 6) AS ttr,
        |       round(ns / n, 6) AS stopword_ratio,
        |       round((CAST(n_chars AS DOUBLE) - (n - 1.0)) / n, 6) AS avg_token_len,
        |       round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4 + (1.0 - ns / n) * 0.2, 6) AS quality
        |FROM (SELECT doc_id, n_chars,
        |        CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """SELECT doc_id, lang,
        |       round(ns / n, 6) AS en_score,
        |       CASE WHEN ns / n >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang
        |FROM (SELECT doc_id, lang,
        |        CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_doc
        |FROM (SELECT doc_id,
        |        list_reduce(list_transform(string_split_regex(text, ''),
        |          x -> CAST(ascii(x) AS BIGINT)),
        |          (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |      FROM documents) t
        |GROUP BY fp ORDER BY fp""".stripMargin,

    "q_text_tokens_bpe" ->
      """SELECT lang,
        |       CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS sum_subtokens,
        |       CAST(sum(len(regexp_extract_all(text, '[a-z]{1,4}'))) AS DOUBLE) / count(*) AS avg_subtokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // outer-generator semantics replayed as explode UNION empty-array
    // rows (pos is 0-based in both: generate_subscripts - 1)
    "q_gen_outer" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) >= 6) AS arr
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS INTEGER) AS pos,
        |         unnest(arr) AS tok
        |  FROM t),
        |empty AS (
        |  SELECT doc_id, CAST(NULL AS INTEGER) AS pos, CAST(NULL AS VARCHAR) AS tok
        |  FROM t WHERE len(arr) = 0)
        |SELECT doc_id, pos, tok FROM ex
        |UNION ALL SELECT doc_id, pos, tok FROM empty
        |ORDER BY doc_id, pos NULLS FIRST""".stripMargin,

    // digit-run masking: DuckDB regexp_replace needs the 'g' flag to
    // match Spark's replace-all default
    "q_text_redact" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_masked_runs,
        |       count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g')) AS n_distinct_masked,
        |       min(regexp_replace(props, '[0-9]+', '#', 'g')) AS sample_masked
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // repetition stats replayed with list lambdas (DuckDB lists are
    // 1-indexed: range(1, len) stops one short — exactly the bigram
    // positions); keep/reject compares the ROUNDED fractions like the
    // Spark side so a sub-ulp difference cannot flip a verdict
    "q_text_gopher" ->
      """SELECT doc_id, n_tokens, top_token_frac, dup_bigram_frac,
        |       CASE WHEN top_token_frac <= 0.12 AND dup_bigram_frac <= 0.05
        |            THEN 1 ELSE 0 END AS keep
        |FROM (
        |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
        |         round(CAST(list_max(list_transform(list_distinct(t),
        |             w -> len(list_filter(t, x -> x = w)))) AS DOUBLE) / len(t), 6)
        |           AS top_token_frac,
        |         round(CASE WHEN len(t) <= 2 THEN 0.0
        |           ELSE CAST(len(t) - 1 - len(list_distinct(list_transform(
        |                  range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS DOUBLE)
        |                / (len(t) - 1) END, 6) AS dup_bigram_frac
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) raw) s
        |ORDER BY doc_id""".stripMargin,

    // rank on the ROUNDED score + token tiebreak in BOTH engines, so a
    // 1-ulp ln() difference cannot flip a rank (see Text.textTfidf)
    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, rank, token, tfidf FROM (
        |  SELECT doc_id, token, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, token) AS INTEGER) AS rank
        |  FROM scored) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // conditional bigram LM replay: identical tokenization (1-indexed
    // list windows ↔ the compiled NgramRunLengths pass), c(w1 w2) and
    // c(w1 ·) counted exactly, -ln rounded at 6 dp after the per-doc
    // avg; docs with < 2 tokens drop out of both engines (empty
    // range() here, empty run array in Spark)
    "q_text_bigram_ll" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d),
        |big AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg FROM pos),
        |model AS (SELECT bg, count(*) AS cbg FROM big GROUP BY bg),
        |lft AS (SELECT string_split(bg, ' ')[1] AS w1, sum(cbg) AS cw1
        |        FROM model GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(CAST(m.cbg AS DOUBLE) / CAST(l.cw1 AS DOUBLE))), 6)
        |         AS avg_nll
        |FROM big b JOIN model m USING (bg)
        |JOIN lft l ON string_split(b.bg, ' ')[1] = l.w1
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // reciprocal-rank fusion replay: both legs rank on their 6-dp
    // ROUNDED scores with id tiebreaks (the same convention that makes
    // bm25/knn deterministic), so the fused ranks are engine-exact;
    // 1.0/(60+r) in double both sides
    "q_text_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, len(t) AS doclen, unnest(t) AS token FROM d),
        |tf AS (SELECT doc_id, min(doclen) AS doclen, token, count(*) AS tf
        |       FROM tok WHERE token IN ('merge', 'scan', 'vector')
        |       GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |stats AS (SELECT count(*) AS n_docs,
        |                 avg(len(string_split(text, ' '))) AS avgdl
        |          FROM documents),
        |scored AS (
        |  SELECT tf.doc_id,
        |         round(sum(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |                   * tf.tf * 2.2
        |                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doclen / stats.avgdl))), 6)
        |           AS bm25
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY tf.doc_id),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        |        FROM (SELECT doc_id, bm25 FROM scored
        |              ORDER BY bm25 DESC, doc_id LIMIT 50)),
        |probe AS (SELECT CAST(embedding AS DOUBLE[]) AS pe
        |          FROM embeddings WHERE vec_id = 0),
        |dense AS (SELECT vec_id AS doc_id,
        |                 row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS dense_rank
        |          FROM (SELECT vec_id,
        |                       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), pe), 6)
        |                         AS cos_sim
        |                FROM embeddings, probe WHERE vec_id <> 0
        |                ORDER BY cos_sim DESC, vec_id LIMIT 50))
        |SELECT doc_id,
        |       round(coalesce(1.0/(60 + l.lex_rank), 0) +
        |             coalesce(1.0/(60 + de.dense_rank), 0), 6) AS rrf,
        |       coalesce(l.lex_rank, -1) AS lex_rank,
        |       coalesce(de.dense_rank, -1) AS dense_rank
        |FROM lex l FULL OUTER JOIN dense de USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    // BM25 with the Lucene always-positive idf; rank on the ROUNDED
    // score + doc_id tiebreak in both engines (same ln-drift convention
    // as q_text_tfidf). avgdl is exact in both engines: integer token
    // counts summed exactly, one final division.
    "q_text_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, len(t) AS doclen, unnest(t) AS token FROM d),
        |tf AS (SELECT doc_id, min(doclen) AS doclen, token, count(*) AS tf
        |       FROM tok WHERE token IN ('merge', 'scan', 'vector')
        |       GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |stats AS (SELECT count(*) AS n_docs,
        |                 avg(len(string_split(text, ' '))) AS avgdl
        |          FROM documents),
        |scored AS (
        |  SELECT tf.doc_id,
        |         round(sum(ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |                   * tf.tf * 2.2
        |                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doclen / stats.avgdl))), 6)
        |           AS bm25
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, bm25 FROM scored
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    "q_text_decontaminate" -> {
      val probes = graft.ops.Text.contaminationProbes
        .map(p => s"('${p.replace("'", "''")}')").mkString(", ")
      s"""WITH probes(phrase) AS (VALUES $probes)
         |SELECT phrase,
         |       CAST(sum(CASE WHEN position(phrase IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_contaminated,
         |       coalesce(min(CASE WHEN position(phrase IN text) > 0 THEN doc_id END), -1)
         |         AS first_doc
         |FROM probes CROSS JOIN documents
         |GROUP BY phrase ORDER BY phrase""".stripMargin
    },

    // n-gram-overlap decontamination: the oracle rebuilds the SAME
    // data-derived eval set (leading 12 words of docs 0-3), the same
    // distinct 3-gram sets (the tok/sh join pattern shared with the
    // dedup oracles), and the same exact small-integer division for
    // the 0.5 flagging threshold
    "q_text_decontam_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |probes AS (
        |  SELECT doc_id AS probe_id,
        |         array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS ptext
        |  FROM documents WHERE doc_id < 4),
        |ptok AS (
        |  SELECT probe_id, generate_subscripts(string_split(ptext, ' '), 1) AS pos,
        |         unnest(string_split(ptext, ' ')) AS w FROM probes),
        |psh AS (
        |  SELECT DISTINCT a.probe_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM ptok a
        |  JOIN ptok b ON a.probe_id = b.probe_id AND b.pos = a.pos + 1
        |  JOIN ptok c ON a.probe_id = c.probe_id AND c.pos = a.pos + 2),
        |psz AS (SELECT probe_id, count(*) AS p_n FROM psh GROUP BY 1),
        |shared AS (
        |  SELECT s.doc_id, p.probe_id, count(*) AS n_shared
        |  FROM sh s JOIN psh p ON s.sh = p.sh GROUP BY 1, 2)
        |SELECT probe_id,
        |       CAST(count(*) AS BIGINT) AS n_touched,
        |       CAST(sum(CASE WHEN CAST(n_shared AS DOUBLE) / p_n >= 0.5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |       round(max(CAST(n_shared AS DOUBLE) / p_n), 6) AS max_overlap
        |FROM shared JOIN psz USING (probe_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // md5 of the id rendered as a string: same digest, same lowercase
    // hex, same string comparison in both engines (Sampling.stratifiedTopN)
    "q_sample_stratified" ->
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin,

    // the composed pipeline: quality >= 0.5 (rounded, same-order double
    // arithmetic) -> min-doc_id per normalized key -> md5-ordered cap of
    // 50 per lang -> 256-token chunk packing — each stage the same SQL
    // its standalone query uses
    "q_pipeline_curate" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |         round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4
        |           + (1.0 - ns / n) * 0.2, 6) AS quality
        |  FROM (SELECT doc_id, lang, text,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |          CAST(len(list_filter(string_split(text, ' '),
        |            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |        FROM documents) t
        |  WHERE round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4
        |          + (1.0 - ns / n) * 0.2, 6) >= 0.5),
        |ded AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           row_number() OVER (PARTITION BY
        |             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
        |             ORDER BY doc_id) AS rn
        |    FROM q) t WHERE rn = 1),
        |capped AS (
        |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM (
        |    SELECT lang, doc_id, text,
        |           row_number() OVER (PARTITION BY lang
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |    FROM ded) t WHERE rk <= 50),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_toks
        |  FROM capped)
        |SELECT lang, CAST(floor(before_toks / 256) AS BIGINT) AS chunk_id,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY lang, chunk_id""".stripMargin,

    // sequential Poisson weighted sample: the oracle replays the SAME
    // md5-derived 52-bit uniform and the SAME two IEEE divisions
    // (correctly rounded ⇒ bit-identical doubles in both engines; no
    // transcendentals anywhere), so xi compares exactly
    "q_sample_weighted" ->
      """SELECT doc_id, w, xi FROM (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |         (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
        |            / 4503599627370496.0)
        |           / CAST(len(string_split(text, ' ')) AS BIGINT) AS xi
        |  FROM documents) s
        |WHERE w > 0
        |ORDER BY xi, doc_id LIMIT 100""".stripMargin,

    "q_sample_mixture" -> {
      val quotas = graft.ops.Text.mixtureQuotas.toSeq.sorted
        .map { case (l, q) => s"('$l', $q)" }.mkString(", ")
      s"""WITH alloc(lang, quota) AS (VALUES $quotas),
         |ranked AS (
         |  SELECT d.lang, d.doc_id, a.quota,
         |         row_number() OVER (PARTITION BY d.lang
         |           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
         |  FROM documents d JOIN alloc a ON d.lang = a.lang)
         |SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM ranked WHERE rk <= quota
         |GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q_pack_chunks" ->
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_toks
        |  FROM d)
        |SELECT lang, CAST(floor(before_toks / 256) AS BIGINT) AS chunk_id,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY lang, chunk_id""".stripMargin,

    "q_text_editdist" ->
      """SELECT bucket, count(*) AS n_docs, min(doc_id) AS min_doc FROM (
        |  SELECT doc_id,
        |         CAST(floor(levenshtein(substring(text, 1, 40),
        |           'the fast key order sort table scan merge') / 5) AS INTEGER) AS bucket
        |  FROM documents) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // overlap-chunking replay: same coverage rule (1 chunk if ntok ≤ 32
    // else ceil((ntok−32)/24)+1 — // and div agree on the guarded
    // non-negatives), DuckDB's 1-based inclusive list slice ≡ Spark's
    // clamping slice(…, start, 32), md5 of the identical joined text
    "q_text_chunks_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN ntok <= 32 THEN 1
        |              ELSE (ntok - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM d),
        |ix AS (
        |  SELECT doc_id, toks,
        |         CAST(unnest(generate_series(0, n_chunks - 1)) AS INTEGER) AS chunk_idx
        |  FROM c),
        |e AS (
        |  SELECT doc_id, chunk_idx,
        |         toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)] AS chunk
        |  FROM ix)
        |SELECT doc_id, chunk_idx,
        |       CAST(len(chunk) AS INTEGER) AS n_tok,
        |       md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    // cross-corpus replay: the oracle is the PLAIN normalized-key
    // semi-join — the bloom stage on the Spark side is a work-pruning
    // device with exactly-zero output effect, which this row proves
    "q_dedup_crosscorpus" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS k
        |  FROM documents)
        |SELECT a.doc_id FROM k a
        |WHERE a.doc_id % 2 = 1
        |  AND EXISTS (SELECT 1 FROM k b WHERE b.doc_id % 2 = 0 AND b.k = a.k)
        |ORDER BY a.doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT canonical_doc, n_members FROM (
        |  SELECT min(doc_id) AS canonical_doc, count(*) AS n_members
        |  FROM (SELECT doc_id,
        |          array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS k
        |        FROM documents) t
        |  GROUP BY k) g
        |ORDER BY canonical_doc""".stripMargin,

    // mirrors the Spark side's df-capped candidate generation (df ≤ 100)
    // + exact verification over full shingle sets
    "q_dedup_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |dfok AS (
        |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) t
        |  WHERE df <= 100),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  JOIN dfok ON dfok.sh = a.sh),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  JOIN cand ON cand.a_id = a.doc_id AND cand.b_id = b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a_id, b_id,
        |         round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id) t
        |WHERE jaccard >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // MinHash+LSH output is exact (candidates verified with exact Jaccard,
    // recall at J≥0.8 is 1 - (1-J⁴)¹⁶ ≈ 1), so it shares the exact oracle.
    "q_dedup_minhash" ->
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        |SELECT a_id, b_id, jaccard FROM (
        |  SELECT a_id, b_id,
        |         round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id) t
        |WHERE jaccard >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    // cluster collapse: the same exact J≥0.8 pair set, closed transitively
    // (recursive reachability), each doc mapped to its component's min id
    // leakage-safe split replay: the exact-Jaccard closure above plus
    // the identical md5-hex-bucket assignment on the canonical id
    "q_split_leakage_safe" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON a_id = sa.doc_id
        |    JOIN sizes sb ON b_id = sb.doc_id) t
        |  WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |canon AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS canonical_doc
        |  FROM reach GROUP BY src),
        |asg AS (
        |  SELECT d.doc_id, coalesce(c.canonical_doc, d.doc_id) AS canon
        |  FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id),
        |s AS (
        |  SELECT canon, substr(md5(CAST(canon AS VARCHAR)), 1, 1) AS h FROM asg)
        |SELECT CASE WHEN h <= 'b' THEN 'train'
        |            WHEN h <= 'd' THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs, count(DISTINCT canon) AS n_clusters
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_cluster" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON a_id = sa.doc_id
        |    JOIN sizes sb ON b_id = sb.doc_id) t
        |  WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT doc_id, canonical_doc FROM (
        |  SELECT src AS doc_id, least(src, min(dst)) AS canonical_doc
        |  FROM reach GROUP BY src) t
        |ORDER BY doc_id""".stripMargin,

    // quality-canonical near-dup dedup: the q_dedup_cluster closure +
    // the q_text_quality composite + an exact struct-argmax
    "q_dedup_keep_best" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a_id, b_id FROM (
        |    SELECT a_id, b_id,
        |           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
        |    FROM inter
        |    JOIN sizes sa ON a_id = sa.doc_id
        |    JOIN sizes sb ON b_id = sb.doc_id) t
        |  WHERE jaccard >= 0.8),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |canon AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS canonical_doc
        |  FROM reach GROUP BY src),
        |q AS (
        |  SELECT doc_id,
        |         round(least(n / 50.0, 1.0) * 0.4 + (nd / n) * 0.4 + (1.0 - ns / n) * 0.2, 6) AS quality
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
        |          CAST(len(list_filter(string_split(text, ' '),
        |            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE) AS ns
        |        FROM documents) t),
        |m AS (
        |  SELECT c.canonical_doc AS cluster_canon, c.doc_id, q.quality
        |  FROM canon c JOIN q USING (doc_id))
        |SELECT cluster_canon,
        |       CAST(count(*) AS BIGINT) AS n_members,
        |       -max(struct_pack(q := quality, negid := -doc_id)).negid AS kept_doc,
        |       max(struct_pack(q := quality, negid := -doc_id)).q AS kept_quality
        |FROM m GROUP BY cluster_canon ORDER BY cluster_canon""".stripMargin,

    // §2.8 similarity search -------------------------------------------------
    "q_sim_knn" ->
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), pe), 6) AS cos_sim
        |FROM embeddings, probe
        |WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // MMR greedy re-rank, replayed EXACTLY: both cosine legs round to
    // 6 dp then scale to ×10⁶ BIGINTs, λ = 7/10 makes every selection
    // score the integer 7·c − 3·maxPair, and each of the 10 greedy
    // picks is one struct-max (lexicographic: score desc, then smaller
    // vec_id via negid) over the not-yet-chosen candidates — unrolled
    // as 10 chained CTEs carrying the chosen/scores lists (no
    // recursion, no float in any decision).
    "q_sim_mmr" -> {
      def pick(prev: String): String =
        s"""(SELECT max(struct_pack(
           |   sc := 7*c.c - 3*coalesce((SELECT max(p.p) FROM pair p
           |          WHERE p.ai = c.vec_id AND list_contains($prev.chosen, p.bi)), 0),
           |   negid := -c.vec_id))
           | FROM cand c WHERE NOT list_contains($prev.chosen, c.vec_id))""".stripMargin
      val steps = (2 to 10).map { i =>
        s"""sel$i AS (
           |  SELECT list_append(s.chosen, -(${pick("s")}).negid) AS chosen,
           |         list_append(s.scores, (${pick("s")}).sc) AS scores
           |  FROM sel${i - 1} s)""".stripMargin
      }.mkString(",\n")
      s"""WITH probe AS (
         |  SELECT CAST(embedding AS DOUBLE[]) AS pe FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id,
         |         CAST(round(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), pe), 6) * 1e6, 0) AS BIGINT) AS c
         |  FROM embeddings, probe
         |  WHERE vec_id <> 0
         |  ORDER BY c DESC, vec_id LIMIT 20),
         |pair AS (
         |  SELECT a.vec_id AS ai, b.vec_id AS bi,
         |         CAST(round(round(list_cosine_similarity(
         |             CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) * 1e6, 0) AS BIGINT) AS p
         |  FROM cand a JOIN embeddings ea ON ea.vec_id = a.vec_id,
         |       cand b JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE a.vec_id <> b.vec_id),
         |sel1 AS (
         |  SELECT [-(x.pk).negid] AS chosen, [(x.pk).sc] AS scores
         |  FROM (SELECT (SELECT max(struct_pack(sc := 7*c.c, negid := -c.vec_id)) FROM cand c) AS pk) x),
         |$steps
         |SELECT CAST(t.i AS BIGINT) AS rank, s.chosen[t.i] AS vec_id, s.scores[t.i] AS mmr_scaled
         |FROM sel10 s, (SELECT unnest(generate_series(1, 10)) AS i) t
         |ORDER BY rank""".stripMargin
    },

    // blocked by the sign-LSH sketch bucket (mirrors signLshBuckets) —
    // same-bucket candidates, exact cosine, hash-checked output
    "q_sim_pairs" ->
      s"""WITH ${signBucketCteDeep(6, 4, 32, 14)}
        |SELECT a_id, b_id, bucket, cos_sim FROM (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
        |         round(list_cosine_similarity(
        |           CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
        |WHERE cos_sim >= 0.25
        |ORDER BY a_id, b_id""".stripMargin,

    "q_dedup_embed" ->
      s"""WITH ${signBucketCteDeep(6, 4, 32, 14)},
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr
        |  FROM k a JOIN k b
        |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |  WHERE round(list_cosine_similarity(
        |          CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
        |with_self AS (
        |  SELECT vec_id, vec_id AS nbr FROM embeddings
        |  UNION ALL SELECT vec_id, nbr FROM pairs)
        |SELECT vec_id, canonical FROM (
        |  SELECT vec_id, min(nbr) AS canonical, count(*) AS n_nbrs
        |  FROM with_self GROUP BY vec_id) t
        |WHERE n_nbrs > 1
        |ORDER BY vec_id""".stripMargin,

    // semantic dedup: the q_sim_pairs pair set at threshold 0.4, closed
    // transitively (recursive reachability) and collapsed to min-id
    // components — the embedding twin of q_dedup_cluster's oracle
    "q_dedup_semantic" ->
      s"""WITH RECURSIVE ${signBucketCteDeep(6, 4, 32, 14)},
        |p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(
        |          CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION SELECT b_id, a_id FROM p),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT vec_id, canonical_vec FROM (
        |  SELECT src AS vec_id, least(src, min(dst)) AS canonical_vec
        |  FROM reach GROUP BY src) t
        |ORDER BY vec_id""".stripMargin,

    "q_udaf_centroid" ->
      """WITH flat AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (SELECT label, pos, sum(v) AS s, count(*) AS n FROM flat GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
        |       round(max(CASE WHEN pos = 1 THEN s / n END), 6) AS c1,
        |       round(max(CASE WHEN pos = 2 THEN s / n END), 6) AS c2,
        |       round(sqrt(sum((s / n) * (s / n))), 6) AS centroid_norm
        |FROM cent GROUP BY label ORDER BY label""".stripMargin,

    // §2.8 multimodal ---------------------------------------------------------
    "q_multimodal_join" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       round(sum(CAST(embedding[1] AS DOUBLE)), 6) AS sum_e1,
        |       count(DISTINCT label) AS n_labels
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // PNG encode→decode roundtrip: gray8 PNG is lossless, so decoded
    // width/mean-luma must equal per-character arithmetic on the source
    // text. The per-character arithmetic equates characters with BYTES
    // (the Spark side operates on UTF-8 bytes), which only holds for an
    // ASCII corpus — so the assumption is ASSERTED per row: a future
    // generator change emitting one non-ASCII character fails with an
    // explicit error() instead of a mute hash mismatch.
    "q_multimodal_decode" ->
      """WITH src AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN octet_length(encode(text)) <> length(text)
        |              THEN error('non-ASCII document breaks the byte=char oracle assumption: doc_id=' || doc_id)
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, lang AS container,
        |       CAST(CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS INTEGER) AS width,
        |       CAST(1 AS INTEGER) AS height,
        |       round(CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE CAST(list_sum(list_transform(string_split_regex(text, ''),
        |                    x -> CAST(ascii(x) AS BIGINT))) AS DOUBLE) / length(text)
        |             END, 6) AS mean_luma
        |FROM src ORDER BY doc_id""".stripMargin,

    // frame sampling over the decoded PNG row: frame f = pixels
    // [f*64, f*64+64) of a width-N image, sampled at stride 2; lossless
    // PNG ⇒ frame luma = mean of the matching 64-char window of text.
    // Both engines sum frames in ascending frame order, so the double
    // accumulation inside avg() agrees exactly. Same per-row ASCII
    // assertion as q_multimodal_decode (byte=char assumption).
    "q_multimodal_frames" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN octet_length(encode(text)) <> length(text)
        |              THEN error('non-ASCII document breaks the byte=char oracle assumption: doc_id=' || doc_id)
        |              ELSE text END AS text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |         CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END AS width,
        |         unnest(range(0,
        |           CASE WHEN length(text) < 64 THEN 1 ELSE length(text) // 64 END,
        |           2)) AS frame_idx
        |  FROM src),
        |w AS (
        |  SELECT doc_id, width, frame_idx,
        |         substring(text, frame_idx * 64 + 1, 64) AS win
        |  FROM f),
        |l AS (
        |  SELECT doc_id, width, frame_idx,
        |         CASE WHEN length(win) = 0 THEN 0.0
        |              ELSE CAST(list_sum(list_transform(string_split_regex(win, ''),
        |                     x -> CAST(ascii(x) AS BIGINT))) AS DOUBLE) / length(win)
        |         END AS luma
        |  FROM w)
        |SELECT doc_id, count(*) AS n_frames, round(avg(luma), 6) AS avg_luma,
        |       CAST(max(width) AS INTEGER) AS width
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // §2.9 batch twins of streaming -------------------------------------------
    "q_stream_tumbling_batch" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |       event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // resample + LOCF replayed with generate_series for the grid and
    // last_value IGNORE NULLS for the fill; the filled measure is a MAX
    // (order-independent double) so it cross-checks exactly
    "q_ts_resample" ->
      """WITH hourly AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |         count(*) AS n, max(value) AS hmax
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(hour_start) AS lo, max(hour_start) AS hi
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |         CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP) AS hour_start
        |  FROM spans)
        |SELECT g.event_type, g.hour_start,
        |       coalesce(h.n, 0) AS n_events,
        |       round(last_value(h.hmax IGNORE NULLS) OVER (
        |         PARTITION BY g.event_type ORDER BY g.hour_start), 6) AS filled_max,
        |       CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS is_gap
        |FROM grid g LEFT JOIN hourly h
        |  ON g.event_type = h.event_type AND g.hour_start = h.hour_start
        |ORDER BY g.event_type, g.hour_start""".stripMargin,

    // sliding windows expanded by explicit bucket arithmetic: an event in
    // 15-min bucket B belongs to the 1h windows starting at B-45m..B
    "q_stream_sliding_batch" ->
      """SELECT CAST(to_timestamp((epoch_ms(ts) // 900000) * 900 - k * 900) AS TIMESTAMP) AS win_start,
        |       event_type, count(*) AS n_events
        |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the incremental-maintenance contract: merging the base+delta
    // partial states must equal the full recompute — so the oracle IS
    // the full recompute
    "q_agg_incremental" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    // session_window semantics: NEW session at gap >= 30 min, compared
    // in exact MICROSECONDS (the events have sub-second parts; a
    // second-truncated diff would misclassify boundary-adjacent pairs);
    // session_end = last event + gap (the merged window's end)
    "q_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |              THEN 1 ELSE 0 END AS ns
        |  FROM g),
        |sid AS (
        |  SELECT user_id, ts,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id,
        |       CAST(min(ts) AS TIMESTAMP) AS session_start,
        |       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |       count(*) AS n_events
        |FROM sid GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_sessionize_batch" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL
        |                OR date_diff('second', prev_ts, ts) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM g)
        |SELECT user_id,
        |       CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the custom DSv2 connector's deterministic generator, replayed from
    // first principles: range() ids, md5 of the decimal id string, hex
    // windows folded to BIGINT (same 16-ary digit fold as the simhash
    // oracle — DuckDB has no hex cast), then the identical filter +
    // aggregate. Spark reads this through graft.sources.DocsSource with
    // the id range pushed into the scan; DuckDB recomputes every row.
    "q_source_dsv2" ->
      s"""WITH g AS (
         |  SELECT range AS id, md5(CAST(range AS VARCHAR)) AS h FROM range(20000)),
         |d AS (
         |  SELECT id,
         |         'c' || CAST(${hexFoldExpr("h", 1)} % 8 AS VARCHAR) AS cat,
         |         ${hexFoldExpr("h", 9)} % 1000 AS val,
         |         substring(h, 17, 8) AS payload
         |  FROM g)
         |SELECT cat, count(*) AS n, CAST(sum(val) AS BIGINT) AS sum_val,
         |       min(payload) AS min_payload
         |FROM d
         |WHERE id >= 2500 AND id < 17500 AND cat IN ('c1', 'c3', 'c5')
         |GROUP BY cat ORDER BY cat""".stripMargin,

    // profile replay: one aggregate per column unioned to the long
    // shape; numeric min/max go through DECIMAL(18,2)/plain-string
    // before casting so double formatting never enters the hash
    "q_profile_table" ->
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        |       count(o_custkey) AS n_nonnull,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(min(o_custkey) AS VARCHAR) AS min_val,
        |       CAST(max(o_custkey) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |       min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice),
        |       CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |       CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |       CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin,

    // NULL-semantics replay: IS NOT DISTINCT FROM ↔ Spark's <=>, same
    // nullif-derived nulls, null group kept, null-safe LEFT join
    "q_fn_nullsafe" ->
      """WITH l AS (
        |  SELECT nullif(l_returnflag, 'N') AS rf_n,
        |         count(*) AS n_rows,
        |         count(nullif(l_linestatus, 'O')) AS n_ls_nonnull,
        |         CAST(sum(CASE WHEN nullif(l_returnflag, 'N')
        |                        IS NOT DISTINCT FROM nullif(l_linestatus, 'O')
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT nullif(l_linestatus, 'O') AS k2, count(*) AS n_r
        |  FROM lineitem GROUP BY 1)
        |SELECT l.rf_n, l.n_rows, l.n_ls_nonnull, l.n_nullsafe_eq, r.n_r
        |FROM l LEFT JOIN r ON l.rf_n IS NOT DISTINCT FROM r.k2
        |ORDER BY l.rf_n NULLS FIRST""".stripMargin,

    // funnel replay: identical two-pass window formulation; epoch_us on
    // DuckDB's TIMESTAMP_NS truncates to the same microseconds Spark's
    // reader produces, so the 1h step arithmetic is integer-exact
    "q_events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us FROM events),
        |w1 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lv_us
        |  FROM e),
        |w2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND lv_us IS NOT NULL
        |                  AND us - lv_us <= 3600000000 THEN us END AS qc_us
        |  FROM w1),
        |w3 AS (
        |  SELECT *, max(qc_us)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS lqc_us
        |  FROM w2),
        |f AS (
        |  SELECT *, (event_type = 'purchase' AND lqc_us IS NOT NULL
        |             AND us - lqc_us <= 3600000000) AS completed
        |  FROM w3)
        |SELECT user_id,
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        |       count(CASE WHEN completed THEN 1 END) AS n_completed,
        |       CAST(min(CASE WHEN completed THEN ts END) AS TIMESTAMP) AS first_completion
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the typed-Dataset pipeline reduces to a plain grouped aggregate;
    // all three measures are order-exact (integral-double sum, count,
    // max) so no DECIMAL detour is needed on either side
    "q_typed_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       count(*) AS n_items,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // SCD2 replay: identical lead() window; the as-of filter picks the
    // single interval covering the snapshot (zero-length intervals from
    // tied timestamps exclude themselves: valid_to = ts is never > T
    // when ts <= T)
    "q_scd2_asof" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id, value,
        |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events),
        |cnt AS (SELECT user_id, count(*) AS n_versions FROM v GROUP BY user_id),
        |cur AS (SELECT user_id, value AS current_value FROM v WHERE valid_to IS NULL),
        |ao AS (
        |  SELECT user_id, event_id AS asof_event, value AS asof_value
        |  FROM v
        |  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |    AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00'))
        |SELECT cnt.user_id, cnt.n_versions, cur.current_value,
        |       ao.asof_event, ao.asof_value
        |FROM cnt JOIN cur USING (user_id) LEFT JOIN ao USING (user_id)
        |ORDER BY cnt.user_id""".stripMargin,

    // the completely-pushed aggregate: DuckDB computes the same three
    // values by actually scanning range(); Spark's scan answers from
    // its pushed bounds without generating a row (DsV2SourceSpec pins
    // the zero-rows claim; this oracle pins the VALUES)
    "q_source_dsv2_agg" ->
      """SELECT count(*) AS n, min(range) AS min_id, max(range) AS max_id
        |FROM range(20000) WHERE range >= 2500 AND range < 17500""".stripMargin,

    // TPC-H Q5: identical text modulo the view mechanism — the check is
    // that a 6-table join tree with a non-key residual produces the
    // same exact-decimal revenue in both engines
    "q_sql_tpch_q5" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_sql_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_sql_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       c_acctbal, n_name
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    // width_bucket is re-derived from first principles (explicit
    // floor(x/w)+1 with under/overflow buckets) rather than trusting a
    // twin builtin; width = 600000/12 = 50000 exactly in doubles, so
    // the two formulations are the same IEEE arithmetic
    "q_agg_hist" ->
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |            WHEN o_totalprice >= 600000.0 THEN 13
        |            ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
        |       count(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // unigram model replay: identical tokenization, tf/total in double,
    // -ln rounded at 6 dp after the per-doc avg (libm drift convention)
    "q_text_unigram_ll" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w, count(*) AS tf FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tf)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       round(avg(-ln(CAST(f.tf AS DOUBLE) / tot.total)), 6) AS avg_nll
        |FROM tok t JOIN tf f ON t.w = f.w CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // duplicated-span replay: same 8-token spans (DuckDB list slices ↔
    // Spark's shingle lambda), distinct per doc so count = document
    // frequency; docs shorter than 8 tokens drop out of BOTH engines
    // (empty shingle set ↔ WHERE len >= 8)
    "q_dedup_spans" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS sh
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) u
        |  WHERE len(t) >= 8),
        |df AS (SELECT sh, count(*) AS df FROM sp GROUP BY sh),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM sp JOIN df USING (sh) GROUP BY doc_id)
        |SELECT doc_id, n_spans, CAST(n_dup AS BIGINT) AS n_dup,
        |       CASE WHEN n_spans = 0 THEN 0.0
        |            ELSE round(CAST(n_dup AS DOUBLE) / n_spans, 6) END AS dup_frac,
        |       CASE WHEN CAST(n_dup AS DOUBLE) < n_spans * 0.5 THEN 1 ELSE 0 END AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    // int8 quantization replay: same affine q/dequant arithmetic in
    // double, per-vector error folded SEQUENTIALLY in list order
    // (list_reduce ↔ Spark's aggregate HOF — addition order matters for
    // bit-equality), label avg rounded at 6 dp, max exact
    "q_vec_quantize" ->
      """WITH d AS (
        |  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |s AS (
        |  SELECT label, dv, list_min(dv) AS mn,
        |         greatest((list_max(dv) - list_min(dv)) / 255.0, 1e-30) AS scale
        |  FROM d),
        |m AS (
        |  SELECT label,
        |         list_reduce(
        |           list_prepend(CAST(0.0 AS DOUBLE),
        |             list_transform(dv, x ->
        |               abs(mn + floor((x - mn) / scale + 0.5) * scale - x))),
        |           (a, b) -> a + b) / CAST(len(dv) AS DOUBLE) AS mean_err
        |  FROM s)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(mean_err), 6) AS avg_err,
        |       round(max(mean_err), 9) AS max_err
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    // k-means replay: both Lloyd rounds unrolled as CTEs. Exactness
    // rests on the quantize-to-integers design (Clustering.kmeansAssign
    // scaladoc): distances/sums are exact integer arithmetic in doubles,
    // centroid updates floor one IEEE division of exact operands, ties
    // break to the smaller cluster id — so list_inner_product's
    // accumulation order cannot matter and the hash-match is exact.
    "q_vec_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |                        x -> floor(x * 1000.0)) AS q
        |  FROM embeddings),
        |c0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, q AS c
        |  FROM (SELECT vec_id, q FROM q ORDER BY vec_id LIMIT 8)),
        |d1 AS (
        |  SELECT v.vec_id, c0.cl,
        |         list_inner_product(v.q, v.q)
        |           - 2 * list_inner_product(v.q, c0.c)
        |           + list_inner_product(c0.c, c0.c) AS dist
        |  FROM q v CROSS JOIN c0),
        |a1 AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        |    FROM d1) WHERE rn = 1),
        |e1 AS (
        |  -- dim derived from the data (len(q.q)), not hard-coded, so a
        |  -- non-64-dim embeddings fixture still grades correctly
        |  SELECT a1.cl, i.i, q.q[i.i] AS x
        |  FROM a1 JOIN q USING (vec_id)
        |  CROSS JOIN (SELECT unnest(range(1, (SELECT len(q) + 1 FROM q LIMIT 1))) AS i) i),
        |c1 AS (
        |  SELECT cl, list(fx ORDER BY i) AS c
        |  FROM (SELECT cl, i, floor(sum(x) / count(*)) AS fx FROM e1 GROUP BY cl, i)
        |  GROUP BY cl),
        |d2 AS (
        |  SELECT v.vec_id, c1.cl,
        |         list_inner_product(v.q, v.q)
        |           - 2 * list_inner_product(v.q, c1.c)
        |           + list_inner_product(c1.c, c1.c) AS dist
        |  FROM q v CROSS JOIN c1),
        |a2 AS (
        |  SELECT vec_id, cl, dist FROM (
        |    SELECT vec_id, cl, dist,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cl AS cluster, count(*) AS n_members, min(vec_id) AS min_vec,
        |       CAST(sum(dist) AS DOUBLE) AS inertia
        |FROM a2 GROUP BY cl ORDER BY cl""".stripMargin,

    // MERGE replay: the same deterministic change feed (delete %13,
    // update %7 at DECIMAL-exact price*1.10, insert %11 at key+1e9)
    // resolved through an identical full-outer CASE
    "q_merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders),
        |existing AS (
        |  SELECT o_orderkey AS m_key,
        |         CASE WHEN o_orderkey % 13 = 0 THEN 'delete'
        |              WHEN o_orderkey % 7 = 0 THEN 'update' END AS op,
        |         CAST(price * CAST('1.10' AS DECIMAL(18,2)) AS DECIMAL(18,4))
        |           AS new_price
        |  FROM target WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 = 0),
        |inserts AS (
        |  SELECT o_orderkey + 1000000000 AS m_key, 'insert' AS op,
        |         CAST(price AS DECIMAL(18,4)) AS new_price
        |  FROM target WHERE o_orderkey % 11 = 0),
        |changes AS (SELECT * FROM existing UNION ALL SELECT * FROM inserts)
        |SELECT CAST(coalesce(t.o_orderkey, c.m_key) AS BIGINT) AS o_orderkey,
        |       CASE WHEN c.op = 'update' THEN 'U' WHEN c.op = 'insert' THEN 'N'
        |            ELSE t.o_orderstatus END AS o_orderstatus,
        |       CAST(CASE WHEN c.op IN ('update', 'insert') THEN c.new_price
        |                 ELSE t.price END AS DOUBLE) AS o_totalprice,
        |       coalesce(c.op, 'keep') AS src
        |FROM target t FULL OUTER JOIN changes c ON t.o_orderkey = c.m_key
        |WHERE coalesce(c.op, '') <> 'delete'
        |ORDER BY o_orderkey""".stripMargin,

    // transition-matrix replay: identical lead window under the
    // (ts, event_id) unique ordering; probability rounds at 6 dp
    "q_events_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n,
        |       round(CAST(count(*) AS DOUBLE) /
        |             CAST(sum(count(*)) OVER (PARTITION BY from_type)
        |                  AS DOUBLE), 6) AS p
        |FROM nxt WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,

    // the bucket-and-offset enumeration collapses to one global
    // row_number by construction (order-preserving buckets + exact
    // cumulative offsets) — the oracle states the SPEC, not the plan
    "q_ids_global" ->
      """SELECT doc_id, lang,
        |       row_number() OVER (ORDER BY lang, doc_id) - 1 AS global_id
        |FROM documents ORDER BY global_id""".stripMargin,

    // PMI replay: identical bigram/unigram models (the bigram_ll CTEs),
    // identical support filter, ln at 6 dp with a bigram tiebreak
    "q_text_pmi" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d),
        |big AS (SELECT t[i] || ' ' || t[i+1] AS bg FROM pos),
        |model AS (SELECT bg, count(*) AS cbg FROM big GROUP BY bg),
        |tok AS (SELECT unnest(t) AS w FROM d),
        |uni AS (SELECT w, count(*) AS tf FROM tok GROUP BY w),
        |tot AS (SELECT (SELECT sum(cbg) FROM model) AS nb,
        |               (SELECT sum(tf) FROM uni) AS nu)
        |SELECT m.bg, m.cbg,
        |       round(ln(CAST(m.cbg AS DOUBLE) / CAST(tot.nb AS DOUBLE))
        |             - ln(CAST(u1.tf AS DOUBLE) / CAST(tot.nu AS DOUBLE))
        |             - ln(CAST(u2.tf AS DOUBLE) / CAST(tot.nu AS DOUBLE)), 6)
        |         AS pmi
        |FROM model m
        |JOIN uni u1 ON string_split(m.bg, ' ')[1] = u1.w
        |JOIN uni u2 ON string_split(m.bg, ' ')[2] = u2.w
        |CROSS JOIN tot
        |WHERE m.cbg >= 5
        |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin,

    // DPP replay: the pruning is a plan property (PlanShapeSpec pins
    // it); the ANSWER is this ordinary join-aggregate
    "q_join_dpp" ->
      """WITH dim AS (SELECT DISTINCT o_orderpriority FROM orders
        |            WHERE o_orderkey <= 2)
        |SELECT o.o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |         AS sum_price
        |FROM orders o JOIN dim USING (o_orderpriority)
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,

    // Zipf replay: identical unigram model + (tf DESC, w) rank;
    // regression sums ride engine-native numerics, 6-dp round
    "q_text_zipf" ->
      """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT unnest(t) AS w FROM d),
        |uni AS (SELECT w, count(*) AS tf FROM tok GROUP BY w),
        |rk AS (SELECT w, tf,
        |              row_number() OVER (ORDER BY tf DESC, w) AS rank
        |       FROM uni)
        |SELECT count(*) AS n_vocab, CAST(max(tf) AS BIGINT) AS max_tf,
        |       round(regr_slope(ln(CAST(tf AS DOUBLE)),
        |                        ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
        |       round(regr_intercept(ln(CAST(tf AS DOUBLE)),
        |                            ln(CAST(rank AS DOUBLE))), 6) AS zipf_intercept
        |FROM rk""".stripMargin,

    // Welch replay: conditional aggregates in one pass; means through
    // DECIMAL (order-exact), z rounded at 6 dp
    "q_ab_ztest" ->
      """SELECT count(*) FILTER (o_orderkey % 2 = 0) AS n_a,
        |       count(*) FILTER (o_orderkey % 2 = 1) AS n_b,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |                    FILTER (o_orderkey % 2 = 0) AS DOUBLE)
        |             / count(*) FILTER (o_orderkey % 2 = 0), 6) AS mean_a,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |                    FILTER (o_orderkey % 2 = 1) AS DOUBLE)
        |             / count(*) FILTER (o_orderkey % 2 = 1), 6) AS mean_b,
        |       round((CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |                     FILTER (o_orderkey % 2 = 0) AS DOUBLE)
        |                / count(*) FILTER (o_orderkey % 2 = 0)
        |              - CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |                       FILTER (o_orderkey % 2 = 1) AS DOUBLE)
        |                / count(*) FILTER (o_orderkey % 2 = 1))
        |             / sqrt(var_samp(o_totalprice) FILTER (o_orderkey % 2 = 0)
        |                      / count(*) FILTER (o_orderkey % 2 = 0)
        |                    + var_samp(o_totalprice) FILTER (o_orderkey % 2 = 1)
        |                      / count(*) FILTER (o_orderkey % 2 = 1)), 6)
        |         AS welch_z
        |FROM orders""".stripMargin,

    // adaptive-quality replay: identical histogram + cumulative window +
    // integer rank arithmetic (// = Spark's div), so the cutoffs are
    // engine-exact integers
    "q_text_quality_adaptive" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
        |  FROM documents),
        |h AS (SELECT n_tok, count(*) AS cnt FROM t GROUP BY n_tok),
        |c AS (SELECT n_tok, sum(cnt) OVER (ORDER BY n_tok) AS cum,
        |             sum(cnt) OVER () AS total FROM h),
        |th AS (
        |  SELECT min(CASE WHEN cum >= (total + 19) // 20 THEN n_tok END) AS lo,
        |         min(CASE WHEN cum >= (19 * total + 19) // 20 THEN n_tok END) AS hi
        |  FROM c)
        |SELECT lang, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept,
        |       CAST(min(th.lo) AS INT) AS lo, CAST(min(th.hi) AS INT) AS hi
        |FROM t CROSS JOIN th WHERE t.n_tok >= th.lo AND t.n_tok <= th.hi
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // model-quality replay: the same portable per-token polynomial fold
    // the fingerprint oracle uses (code-point walk, mod 1e9+7), feature
    // = fold % 1024, the identical LCG weight arithmetic, all integer —
    // the keep decision is engine-exact. DuckDB's % can return negative
    // only for negative operands; every operand here is non-negative.
    "q_text_quality_model" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |         list_reduce(list_transform(string_split_regex(w, ''),
        |           x -> CAST(ascii(x) AS BIGINT)),
        |           (a, b) -> (a * 31 + b) % 1000000007) % 1024 AS feat
        |  FROM tok),
        |s AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum((feat * 1103515245 + 12345) % 2001 - 1000) AS score
        |  FROM f GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // longest-dup-span replay: enumerate EVERY (position, length) span
    // as its exact string (no digests anywhere — an independent
    // derivation that also re-proves the Spark side's digest-steered
    // search landed on the true maximum), keep the duplicated ones,
    // report the rows at the maximum length
    "q_text_longest_dup_span" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |ls AS (SELECT unnest(generate_series(1, (SELECT max(n) FROM t))) AS L),
        |pos AS (
        |  SELECT doc_id, toks, n, unnest(generate_series(1, n)) AS p FROM t),
        |spans AS (
        |  SELECT pos.doc_id, ls.L,
        |         array_to_string(list_slice(toks, p, p + ls.L - 1), ' ') AS span
        |  FROM pos JOIN ls ON p + ls.L - 1 <= n),
        |dup AS (
        |  SELECT L, span, count(*) AS occ, count(DISTINCT doc_id) AS nd,
        |         min(doc_id) AS fd
        |  FROM spans GROUP BY 1, 2 HAVING count(*) >= 2),
        |mx AS (SELECT max(L) AS lmax FROM dup)
        |SELECT span, CAST(L AS INT) AS span_len,
        |       CAST(occ AS BIGINT) AS n_occurrences,
        |       CAST(nd AS BIGINT) AS n_docs, fd AS first_doc
        |FROM dup, mx WHERE L = mx.lmax ORDER BY span""".stripMargin,

    // dedup-trim replay: the full decision from scratch, no digests —
    // enumerate every 8-token window, rank occurrences globally by
    // (doc_id, position), mark everything past rank 1, union the
    // covered intervals, and rebuild the survivors as contiguous
    // segments (gaps-and-islands). 1-based positions throughout (the
    // Spark side is 0-based; only CONSISTENCY of the (doc_id, p)
    // order matters, and both are ascending).
    "q_text_dedup_trim" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, p, array_to_string(list_slice(toks, p, p + 7), ' ') AS span
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 7)) AS p
        |        FROM t WHERE n >= 8)),
        |marked AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |           row_number() OVER (PARTITION BY span ORDER BY doc_id, p) AS rn,
        |           count(*) OVER (PARTITION BY span) AS c
        |    FROM spans) WHERE c >= 2 AND rn >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, p + i AS q
        |  FROM marked, (SELECT unnest(generate_series(0, 7)) AS i)),
        |tok AS (
        |  SELECT doc_id, toks[q] AS tok, q
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, n)) AS q FROM t)),
        |surv AS (
        |  SELECT tok.doc_id, tok.q, tok.tok
        |  FROM tok ANTI JOIN covered
        |    ON tok.doc_id = covered.doc_id AND tok.q = covered.q),
        |segtext AS (
        |  SELECT doc_id, isl, min(q) AS q0, string_agg(tok, ' ' ORDER BY q) AS text
        |  FROM (SELECT doc_id, q, tok,
        |               q - row_number() OVER (PARTITION BY doc_id ORDER BY q) AS isl
        |        FROM surv)
        |  GROUP BY doc_id, isl)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY q0) - 1 AS INT) AS seg_id,
        |       text
        |FROM segtext ORDER BY doc_id, seg_id""".stripMargin,
  )
}
