package graft.operators

import graft.SparkSpecBase
import graft.core.Tables
import graft.functions.TextOps
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** BPE training gates: the distributed trainer against an independent
  * sequential reference, the Catalyst merge fold against the driver-side
  * greedy scan, pair-count weighting, rank-order encode equivalence, and
  * partition invariance. */
class BpeTrainSpec extends SparkSpecBase {

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  /** Independent sequential BPE trainer: its own pre-tokenize, pair
    * count, and argmax (shares only [[BpeTrain.applyMerge]], which the
    * fold-equivalence test below gates separately). Returns the merge
    * list and the final per-word segmentation. */
  private def refTrain(
      texts: Seq[String], numMerges: Int, minPairCount: Long)
      : (Seq[(String, String, Long)], Map[String, List[String]]) = {
    val pat = TextOps.BpeTokenPattern.r
    val wc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach(t => pat.findAllIn(t.toLowerCase).foreach(w => wc(w) += 1L))
    var syms: Map[String, List[String]] =
      wc.keysIterator.map(w => w -> BpeTrain.codePointSyms(w)).toMap
    val out = Seq.newBuilder[(String, String, Long)]
    var done = false
    var rank = 0
    while (rank < numMerges && !done) {
      val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((w, c) <- wc; s = syms(w); i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) += c
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minPairCount) done = true
        else {
          out += ((l, r, c))
          syms = syms.map { case (w, s) => w -> BpeTrain.applyMerge(s, l, r) }
          rank += 1
        }
      }
    }
    (out.result(), syms)
  }

  private lazy val fixtureTexts =
    docs.select("text").collect().map(_.getString(0)).toSeq
  private lazy val reference = refTrain(fixtureTexts, 24, 2L)
  private lazy val trained = BpeTrain.trainMerges(docs, numMerges = 24)

  test("trainMerges equals the sequential reference trainer on the fixture corpus") {
    val got = trained.map(m => (m.left, m.right, m.count))
    assert(got === reference._1)
    assert(trained.map(_.rank) === trained.indices.toSeq)
  }

  test("mergeExpr (Catalyst fold) equals the driver-side greedy scan, overlaps included") {
    val s = spark; import s.implicits._
    val words = Seq("aaaa", "aab", "ababab", "ba", "a", "", "abba", "aabbaabb")
    val cases = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("ab", "c"))
    for ((l, r) <- cases) {
      val got = words.toDF("word")
        .select(BpeTrain.mergeExpr(BpeTrain.charSyms(col("word")), l, r).as("m"))
        .collect().map(_.getSeq[String](0).toList)
      val want = words.map(w => BpeTrain.applyMerge(BpeTrain.codePointSyms(w), l, r))
      assert(got.toSeq === want, s"merge ($l,$r)")
    }
  }

  test("charSyms keeps control characters (DOTALL), matching the driver-side split") {
    val s = spark; import s.implicits._
    val got = Seq("a\nb", "\n", "xy").toDF("word")
      .select(BpeTrain.charSyms(col("word")).as("cs"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toSeq === Seq(List("a", "\n", "b"), List("\n"), List("x", "y")))
  }

  test("charSyms and codePointSyms agree on non-BMP text (no lone surrogates)") {
    val s = spark; import s.implicits._
    val words = Seq("a\ud83d\ude42b", "\ud83d\ude00", "mixed\ud83c\udf55slice")
    val got = words.toDF("word")
      .select(BpeTrain.charSyms(col("word")).as("cs"))
      .collect().map(_.getSeq[String](0).toList)
    val want = words.map(BpeTrain.codePointSyms)
    assert(got.toSeq === want, "distributed and driver-side splits must agree")
    assert(want.head === List("a", "\ud83d\ude42", "b"), "emoji stays one symbol")
  }

  test("pairCounts weights adjacent pairs by word occurrence") {
    val s = spark; import s.implicits._
    val vocab = Seq(("ab", 3L), ("abc", 2L), ("x", 9L))
      .toDF("word", "w")
      .select(BpeTrain.charSyms(col("word")).as("syms"), col("w"))
    val got = BpeTrain.pairCounts(vocab).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === Map(("a", "b") -> 5L, ("b", "c") -> 2L))
  }

  test("encodeWord in rank order reproduces the trainer's final segmentation") {
    val merges = trained.map(m => (m.left, m.right))
    val (_, finalSyms) = reference
    finalSyms.foreach { case (w, want) =>
      assert(BpeTrain.encodeWord(w, merges) === want, s"word '$w'")
    }
  }

  test("encodeUdf segments text with the trained table") {
    val s = spark; import s.implicits._
    val merges = trained.map(m => (m.left, m.right))
    val enc = BpeTrain.encodeUdf(merges)
    val got = Seq("Hello, world!").toDF("text")
      .select(enc(col("text")).as("toks")).collect().head.getSeq[String](0)
    val pat = TextOps.BpeTokenPattern.r
    val want = pat.findAllIn("hello, world!").toSeq
      .flatMap(w => BpeTrain.encodeWord(w, merges))
    assert(got === want)
    assert(got.mkString === "hello, world!".replace(" ", ""))
  }

  test("encodeWord (skip-optimized) equals the naive rank-order fold on randomized inputs") {
    // the optimized encoder skips ranks whose symbols are absent and
    // merges in place; the naive fold is the spec — ANY divergence is a
    // wrong segmentation, including on untrained/adversarial tables
    // (rules referencing never-produced symbols, duplicate rules,
    // overlapping runs like "aaaa", non-BMP code points)
    val rnd = new scala.util.Random(0xb9e5)
    val alphabet = Vector("a", "b", "c", "🙂")
    for (_ <- 1 to 400) {
      val word = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString
      // grow a table whose later rules may (or may not) reference
      // earlier merged symbols — both trained-shaped and junk rules
      val table = Seq.newBuilder[(String, String)]
      var produced = alphabet
      for (_ <- 0 until rnd.nextInt(8)) {
        val l = produced(rnd.nextInt(produced.size))
        val r = produced(rnd.nextInt(produced.size))
        table += ((l, r))
        produced = produced :+ (l + r)
      }
      val merges = table.result()
      assert(BpeTrain.encodeWord(word, merges) === BpeTrain.encodeWordNaive(word, merges),
        s"word '$word' table $merges")
    }
  }

  private lazy val fixtureWords = fixtureTexts.take(60)
    .flatMap(t => TextOps.BpeTokenPattern.r.findAllIn(t.toLowerCase))
    .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq

  test("driver-side and distributed merge loops produce identical tables") {
    // the public trainMergesFromVocab picks a branch by vocab size; this
    // pins the two branches EQUAL on the same vocab so the size gate can
    // never change a declared result
    val s = spark; import s.implicits._
    val words = fixtureWords
    val df = words.toDF("word", "w").repartition(5)
    val dist = BpeTrain.trainMergesDistributed(df, 12, 2L, BpeTrain.Scheme)
    val drv = BpeTrain.trainMergesDriver(words.toArray, 12, 2L, BpeTrain.Scheme)
    assert(drv === dist)
    assert(drv.nonEmpty, "fixture must actually train some merges")
  }

  private def cacheEntries(): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("the distributed merge loop persists nothing that outlives it, under both objectives") {
    // 12 rounds cross the round-8 checkpoint, so both release paths (the
    // lagged persist and the eager checkpoint) run
    val s = spark; import s.implicits._
    for (scheme <- Seq(BpeTrain.Scheme, WordPieceTrain.Scheme)) {
      // an identical plan cached by an earlier test would absorb a new persist
      spark.catalog.clearCache()
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
      val cache0 = cacheEntries()
      val got = BpeTrain.trainMergesDistributed(
        fixtureWords.toDF("word", "w").repartition(3), 12, 2L, scheme)
      assert(got.size === 12, s"$scheme must run all 12 rounds")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
      assert(leaked.isEmpty, s"$scheme: persisted RDDs left behind: $leaked")
      assert(cacheEntries() === cache0, s"$scheme: CacheManager entries left behind")
    }
  }

  test("driver argmax tiebreak uses the engine's UTF-8 order, not UTF-16") {
    // U+E000 (BMP private use) sorts BELOW U+1F642 (emoji) in UTF-8 /
    // code-point order — the order Spark's orderBy and DuckDB use — but
    // ABOVE it in Java String order (the emoji's lead surrogate is
    // 0xD83D < 0xE000). Two pairs tied on count must resolve the same
    // way in both branches.
    assert(BpeTrain.utf8Compare("\uE000", "🙂") < 0)
    assert("\uE000".compareTo("🙂") > 0, "Java order differs — the test is live")
    val s = spark; import s.implicits._
    val words = Seq(("\uE000x", 3L), ("🙂x", 3L))
    val dist = BpeTrain.trainMergesDistributed(
      words.toDF("word", "w"), 1, 2L, BpeTrain.Scheme)
    val drv = BpeTrain.trainMergesDriver(words.toArray, 1, 2L, BpeTrain.Scheme)
    assert(drv === dist)
    assert(drv.head.left === "\uE000", "code-point order must win the tie")
  }

  test("training is invariant to input partitioning") {
    val again = BpeTrain.trainMerges(docs.repartition(7), numMerges = 8)
    assert(again.map(m => (m.left, m.right, m.count)) ===
      trained.take(8).map(m => (m.left, m.right, m.count)))
  }

  test("q116's pinned merge table equals a fresh train on the pin fixture") {
    // the pin exists so q116's DuckDB oracle can replay the greedy scan
    // with a literal table; a fixture regeneration would silently stale it
    val fresh = BpeTrain.trainMerges(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"), numMerges = 16)
    assert(fresh.map(m => (m.left, m.right)) === graft.queries.LlmQueries.Q116Merges,
      "re-pin LlmQueries.Q116Merges from this train")
  }
}
