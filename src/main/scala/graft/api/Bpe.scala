package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Public BPE tokenizer-training surface over any (id, text) relation —
  * the library form of the graded q_text_bpe_train / q_text_bpe_tokens
  * pipeline (graft.ops.Text holds the kernels and their scale notes).
  *
  * Shape at 100 TB: [[train]]'s only corpus-sized stage is the initial
  * word-frequency aggregate (words are the partial-agg key, so each
  * task collapses to its distinct words before the exchange); training
  * then runs on the |vocab|-row relation in supersteps of up to 64
  * merges, each costing one top-M collect and a pair-count update over
  * the affected words only, O(affected words).
  * [[segmentation]] is the vocab-bounded (word → subtokens) artifact;
  * apply it to a corpus with a broadcast join against exploded words
  * (the q_text_bpe_tokens pattern) — never row-at-a-time. */
object Bpe {

  /** One learned merge rule: at `step` (1-based; order matters) the
    * adjacent pair (lhs, rhs) had the corpus-maximal frequency-weighted
    * count `pair_count` and was fused into `merged` = lhs + rhs. */
  final case class Merge(step: Int, lhs: String, rhs: String,
    merged: String, pair_count: Long)

  /** Train `nMerges` byte-pair merges on the whitespace words of
    * `textCol`. Deterministic: integer pair counts, (count DESC, lhs,
    * rhs) tie-break. The merge table is classic one-merge-at-a-time
    * BPE's, although each superstep admits a batch of merges: the
    * admission rule and its exactness proof are on
    * graft.ops.Text.bpeAdmitBatch, and BpeSpec pins the trainer
    * merge-for-merge against a plain-Scala replay of classic BPE. */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[Merge] =
    graft.ops.Text.bpeTrain(
      graft.ops.Text.bpeWords(docs.select(col(textCol).as("text"))), nMerges)._1

  /** The trained tokenizer as a relation: one row per distinct word
    * with its subtoken array under `merges`. Vocab-bounded — broadcast
    * it onto the corpus to tokenize. */
  def segmentation(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val words = graft.ops.Text.bpeWords(docs.select(col(textCol).as("text")))
    graft.ops.Text.bpeApply(words, merges)
      .select(col("w").as("word"), col("freq"),
        graft.ops.Text.bpeSymArray(col("syms")).as("subtokens"))
  }
}
