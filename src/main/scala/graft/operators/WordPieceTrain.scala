package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer TRAINING (Schuster & Nakajima 2012;
  * the BERT tokenizer, Devlin et al. 2019) — the third production
  * tokenizer family next to BPE ([[BpeTrain]], frequency argmax) and
  * unigram-LM ([[UnigramLm]], EM): WordPiece is BPE's loop with a
  * LIKELIHOOD objective — each round merges the adjacent pair maximizing
  *   score(l, r) = count(lr) / (count(l) · count(r))
  * (the corpus-LM likelihood gain of fusing the pair), and non-initial
  * subwords carry the `##` continuation marker.
  *
  * Training is [[BpeTrain]]'s shared pair-merge trainer under that
  * [[BpeTrain.MergeScheme]] — scale shape, exact quantized score and
  * argmax order are documented there once.
  *
  * Reference scope: EXT (north-star LLM-pipeline surface, SURVEY §2.10);
  * the reference engine has no text operators.
  */
object WordPieceTrain {

  /** One learned rule: at `rank`, adjacent (`left`, `right`) fused into
    * left + right-without-`##`; `count` = the pair's weighted occurrence
    * count, `score` the quantized likelihood objective it won with. */
  final case class WpMerge(rank: Int, left: String, right: String,
      count: Long, score: Long)

  private[operators] val Scheme = BpeTrain.MergeScheme("##", likelihood = true)

  /** word → WordPiece symbol array: one string per code point, every
    * non-initial one `##`-prefixed ("abc" → [a, ##b, ##c]). */
  def wpSyms(word: Column): Column = BpeTrain.seedSyms(word, Scheme.marker)

  /** Weighted per-symbol occurrence counts over a (`syms`, `w`)
    * vocabulary — columns (sym, c). The denominator side of the score;
    * one map-side-combined aggregation, symbols-sized output. */
  def symCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("w"), explode_outer(col("syms")).as("sym"))
      .where(col("sym").isNotNull)
      .groupBy("sym").agg(sum(col("w")).as("c"))

  /** [[BpeTrain.mergeExpr]] with the WordPiece fuse rule: the fused
    * element is left + right-stripped-of-`##`. */
  def wpMergeExpr(syms: Column, left: Column, right: Column): Column =
    BpeTrain.fuseExpr(syms, left, right, Scheme.marker)

  /** Learn up to `numMerges` WordPiece rules from the corpus (pre-
    * tokenization shared with the BPE side: [[BpeTrain.wordVocab]]).
    * Stops early when no pair reaches `minPairCount`. */
  def trainMerges(
      docs: DataFrame,
      textCol: String = "text",
      numMerges: Int = 50,
      minPairCount: Long = 2L): Seq[WpMerge] =
    trainMergesFromVocab(BpeTrain.wordVocab(docs, textCol), numMerges, minPairCount)

  /** Same, from a prepared (`word`, `w`) vocabulary. */
  def trainMergesFromVocab(
      wordWeights: DataFrame,
      numMerges: Int,
      minPairCount: Long = 2L): Seq[WpMerge] =
    BpeTrain.trainVocab(wordWeights, numMerges, minPairCount, Scheme)
      .map(m => WpMerge(m.rank, m.left, m.right, m.count, m.score))

  // ---- encode (apply a trained vocabulary) ----

  /** The vocabulary a trained merge table induces: all single-character
    * pieces seen plus every merged piece — what [[encodeWord]] matches
    * against. Driver-side; call with the `syms` the trainer started from
    * (or rebuild from words). */
  def vocabFromMerges(seedSyms: Iterable[String], merges: Seq[WpMerge]): Set[String] =
    seedSyms.toSet ++ merges.map(m => m.left + m.right.stripPrefix(Scheme.marker))

  /** WordPiece ENCODING is greedy longest-match-first against the final
    * vocabulary (the BERT tokenizer), NOT merge replay: consume the
    * longest vocab piece prefixing the remainder, `##`-form for
    * non-initial positions; a position with no match yields `unk` for
    * the WHOLE word (the original algorithm's bail-out). */
  def encodeWord(word: String, vocab: Set[String], unk: String = "[UNK]"): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else "##"
      var j = word.length
      var hit: String = null
      while (j > i && hit == null) {
        val cand = prefix + word.substring(i, j)
        if (vocab.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq(unk)
      out += hit
      i = j
    }
    out.result()
  }

  /** text → WordPiece token array: pre-tokenize exactly like the train
    * side ([[graft.functions.TextOps.BpeTokenPattern]] over lowercased
    * text), then longest-match each pre-token. Scala UDF — the per-word
    * consume loop has a data-dependent trip count (SURVEY §2.11); the
    * vocab rides the closure as model state. */
  def encodeUdf(vocab: Set[String], unk: String = "[UNK]")
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val pattern = graft.functions.TextOps.BpeTokenPattern.r
    udf { (text: String) =>
      if (text == null) null
      else pattern.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
        .flatMap(w => encodeWord(w, vocab, unk)).toSeq
    }
  }

  /** The DuckDB replay of [[trainMerges]] ([[BpeTrain.schemeSqlCtes]]
    * under the WordPiece scheme). Output matches
    * `trainMerges(...).toDF()`: (rank, left, right, count, score)
    * ordered by rank, early-stop included. */
  def mergesSqlCtes(table: String, numMerges: Int, minPairCount: Long = 2L): String =
    BpeTrain.schemeSqlCtes(table, numMerges, minPairCount, Scheme)
}
