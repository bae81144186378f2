package graft.operators

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

/** [[WordPieceTrain]] gates: distributed training equals a sequential
  * reference under the exact quantized-score contract on randomized
  * corpora; the likelihood objective diverges from BPE's frequency
  * objective where it should; encode is greedy longest-match with the
  * UNK bail-out; partition invariance. */
class WordPieceTrainSpec extends SparkSpecBase {

  private val s_ = spark
  import s_.implicits._

  /** Sequential reference trainer replicating the operator's exact
    * contract: ##-marked code-point symbols, weighted pair + symbol
    * counts, score = (cnt·10^12) div (cl·cr) in BigInt, argmax by
    * (score DESC, cnt DESC, l, r), greedy non-overlapping left-to-right
    * merge, early stop below minPairCount. */
  private def refTrain(words: Map[String, Long], numMerges: Int,
      minPairCount: Long = 2L): Seq[(Int, String, String, Long, Long)] = {
    val K = BigInt("1000000000000")
    var vocab: Map[Vector[String], Long] = words.toSeq.map { case (w, n) =>
      val cs = w.map(_.toString).toVector
      cs.zipWithIndex.map { case (c, i) => if (i == 0) c else "##" + c } -> n
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    var stop = false
    for (rank <- 0 until numMerges if !stop) {
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      val symCnt = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (syms, n) =>
        syms.foreach(s => symCnt(s) = symCnt.getOrElse(s, 0L) + n)
        syms.sliding(2).foreach {
          case Vector(a, b) => pairCnt((a, b)) = pairCnt.getOrElse((a, b), 0L) + n
          case _ => ()
        }
      }
      val cands = pairCnt.toSeq.filter(_._2 >= minPairCount).map { case ((l, r), c) =>
        val score = (BigInt(c) * K / (BigInt(symCnt(l)) * BigInt(symCnt(r)))).toLong
        (l, r, c, score)
      }
      if (cands.isEmpty) stop = true
      else {
        val (l, r, c, sc) =
          cands.minBy { case (l, r, c, s) => (-s, -c, l, r) }
        out += ((rank, l, r, c, sc))
        vocab = vocab.toSeq.map { case (syms, n) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += l + r.stripPrefix("##"); i += 2
            } else { b += syms(i); i += 1 }
          }
          b.result() -> n
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.result()
  }

  private def engineTrain(words: Map[String, Long], numMerges: Int,
      parts: Int = 4): Seq[(Int, String, String, Long, Long)] = {
    val df = words.toSeq.toDF("word", "w").repartition(parts)
    WordPieceTrain.trainMergesFromVocab(df, numMerges)
      .map(m => (m.rank, m.left, m.right, m.count, m.score))
  }

  private def randomWords(seed: Long): Map[String, Long] = {
    val r = new scala.util.Random(seed)
    val alphabet = "abcde"
    (1 to 40).map { _ =>
      val len = 1 + r.nextInt(7)
      val w = Seq.fill(len)(alphabet(r.nextInt(alphabet.length))).mkString
      w -> (1L + r.nextInt(20))
    }.toMap // Map collapses duplicate words; weights are per distinct word
  }

  test("distributed training equals the sequential reference on randomized corpora") {
    for (seed <- Seq(5L, 17L)) {
      val words = randomWords(seed)
      assert(engineTrain(words, 8) === refTrain(words, 8), s"seed=$seed")
    }
  }

  test("likelihood argmax differs from BPE's frequency argmax where it should") {
    // "ab" is the most FREQUENT pair but its symbols are everywhere;
    // "xq" is rarer but its symbols occur nowhere else -> WordPiece
    // must pick the exclusive pair, BPE the frequent one
    val words = Map("ab" -> 10L, "axx" -> 30L, "byy" -> 30L, "xq" -> 5L)
    // chars: a appears in ab(10)+axx(30)=40, b in ab+byy=40,
    //        x in axx(60)+xq(5)=65, q only in xq(5)
    // score(a,##b) = 10/(40*40); score(x,##q) = 5/(65*5) -> x,##q wins
    val wp = engineTrain(words, 1)
    assert(wp.head._2 === "x" && wp.head._3 === "##q")
    val bpe = BpeTrain.trainMergesFromVocab(
      words.toSeq.toDF("word", "w"), numMerges = 1)
    assert((bpe.head.left, bpe.head.right) !== ("x", "q"))
  }

  test("training is invariant to input partitioning") {
    val words = randomWords(23L)
    assert(engineTrain(words, 6, parts = 1) === engineTrain(words, 6, parts = 7))
  }

  test("driver-side and distributed merge loops produce identical tables") {
    // both branches of trainMergesFromVocab must agree on the same vocab
    // (and with the sequential reference) so the size gate can never
    // change a result
    for (seed <- Seq(5L, 17L, 99L)) {
      val words = randomWords(seed)
      val dist = BpeTrain.trainMergesDistributed(
        words.toSeq.toDF("word", "w").repartition(3), 8, 2L, WordPieceTrain.Scheme)
      val drv = BpeTrain.trainMergesDriver(words.toArray, 8, 2L, WordPieceTrain.Scheme)
      assert(drv === dist, s"seed=$seed")
      assert(drv.map(m => (m.rank, m.left, m.right, m.count, m.score)) ===
        refTrain(words, 8), s"seed=$seed vs reference")
    }
  }

  test("driver argmax tiebreak uses the engine's UTF-8 order, not UTF-16") {
    // (\uE000, ##x) and (🙂, ##x) tie on score and count; U+E000 sorts
    // below U+1F642 in code-point order (Spark, DuckDB) but above it in
    // Java String order, so both branches must resolve it by code point
    val words = Seq(("\uE000x", 3L), ("🙂x", 3L))
    val dist = BpeTrain.trainMergesDistributed(
      words.toDF("word", "w"), 1, 2L, WordPieceTrain.Scheme)
    val drv = BpeTrain.trainMergesDriver(words.toArray, 1, 2L, WordPieceTrain.Scheme)
    assert(drv === dist)
    assert(drv.head.left === "\uE000", "code-point order must win the tie")
  }

  test("vocabFromMerges over the seed symbols encodes every training word") {
    val docs = Tables.load(spark, sfDir, "documents")
    val words = BpeTrain.wordVocab(docs).select("word").as[String].collect().toSeq
    val merges = WordPieceTrain.trainMerges(docs, numMerges = 24)
    val seeds = words.flatMap(w => BpeTrain.codePointSyms(w).zipWithIndex.map {
      case (c, i) => if (i == 0) c else "##" + c
    })
    val vocab = WordPieceTrain.vocabFromMerges(seeds, merges)
    words.foreach { w =>
      val pieces = WordPieceTrain.encodeWord(w, vocab)
      assert(!pieces.contains("[UNK]"), s"word '$w' -> $pieces")
      assert(pieces.map(_.stripPrefix("##")).mkString === w, s"word '$w' -> $pieces")
    }
    val continued = merges.filter(_.left.startsWith("##"))
    assert(continued.nonEmpty, "fixture must train a ##-initial left piece")
    continued.foreach { m =>
      val piece = m.left + m.right.stripPrefix("##")
      assert(vocab.contains(piece), s"merge $m")
      assert(piece.startsWith("##") && !piece.drop(2).contains("##"), s"piece '$piece'")
    }
  }

  test("merged continuation pairs keep exactly one ## and re-merge correctly") {
    // force the chain a ##b -> ab, then ab ##c -> abc on a skewed corpus
    val words = Map("abc" -> 50L, "zq" -> 2L)
    val got = engineTrain(words, 3)
    val pieces = got.map(m => m._2 + m._3.stripPrefix("##"))
    assert(pieces.contains("abc") || pieces.contains("bc"))
    got.foreach { case (_, l, r, _, _) =>
      assert(r.startsWith("##"), s"right side '$r' must be a continuation")
      assert(!l.drop(2).contains("##") && !r.drop(2).contains("##"),
        s"no interior ## in '$l'/'$r'")
    }
  }

  test("encodeWord: greedy longest match, ## continuations, UNK bail-out") {
    val vocab = Set("un", "##aff", "##able", "##ff", "a", "##b", "b")
    assert(WordPieceTrain.encodeWord("unaffable", vocab) ===
      Seq("un", "##aff", "##able"))
    // no piece covers position 0 -> whole word collapses to UNK
    assert(WordPieceTrain.encodeWord("qab", vocab) === Seq("[UNK]"))
    // mid-word dead end also bails out
    assert(WordPieceTrain.encodeWord("az", vocab) === Seq("[UNK]"))
    assert(WordPieceTrain.encodeWord("", vocab) === Seq.empty)
    assert(WordPieceTrain.encodeWord("ab", vocab) === Seq("a", "##b"))
  }

  test("encodeUdf: pre-tokenizes like the train side and segments per word") {
    val vocab = Set("he", "##llo", "w", "##orld", "1", "##2")
    val got = Seq("Hello world 12").toDF("text")
      .select(WordPieceTrain.encodeUdf(vocab)(col("text")))
      .as[Seq[String]].head()
    assert(got === Seq("he", "##llo", "w", "##orld", "1", "##2"))
  }

  test("wpSyms marks every non-initial code point") {
    val got = Seq("abc").toDF("w")
      .select(WordPieceTrain.wpSyms(col("w"))).as[Seq[String]].head()
    assert(got === Seq("a", "##b", "##c"))
  }
}
