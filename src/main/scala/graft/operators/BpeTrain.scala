package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed BPE tokenizer TRAINING — merge-rule induction (Sennrich,
  * Haddow, Birch — "Neural Machine Translation of Rare Words with Subword
  * Units", ACL 2016). [[graft.functions.TextOps.bpeTokens]] is the apply
  * side's PRE-tokenizer (q46); this is the other half a training-data
  * pipeline needs: learning the merge table itself from the corpus.
  *
  * Scale shape, in order:
  *  1. corpus → word vocabulary with occurrence weights — ONE corpus-wide
  *     aggregation, the only step that ever touches 100 TB; everything
  *     after runs on the vocabulary (≪ corpus: ~10⁷ distinct words for a
  *     web-scale crawl), which is also why weighting by word count is not
  *     an approximation — it IS the corpus pair count.
  *  2. per merge round: adjacent-pair counts over the vocab, an argmax,
  *     and a greedy merge applied to each word's symbol array — on the
  *     driver for a model-sized vocabulary, as Spark rounds above the
  *     driver caps.
  *
  * The merge loop is a [[MergeScheme]]'s pair-merge trainer, shared with
  * [[WordPieceTrain]]: BPE is the scheme with no continuation marker and
  * the frequency objective.
  */
object BpeTrain {

  /** One learned rule: at `rank` (0-based), adjacent (`left`, `right`)
    * symbols — `count` weighted occurrences at learn time — fuse. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** The greedy adjacent-pair merge trainer's scheme: the two facts that
    * tell BPE and WordPiece apart. Every layer of the trainer — the
    * driver loop, the distributed loop and the oracle SQL — is written
    * once against it.
    *
    *  - `marker`, the continuation marker ("" for BPE, "##" for
    *    WordPiece): every non-initial seed symbol carries it, and a merge
    *    fuses (l, r) into `l + r.stripPrefix(marker)`, so a fused piece
    *    keeps its left part's position class.
    *  - `likelihood`, the pair objective. Frequency scores a pair by its
    *    weighted count `cnt`; likelihood by the exact integer
    *    `(cnt · 10¹²) div (c_l · c_r)` over the weighted symbol counts —
    *    BigInt on the driver, DECIMAL(38,0) `div` in Spark, HUGEINT `//`
    *    in the SQL, the same truncating division on these positive
    *    operands. Exact, so two pairs whose rational scores agree to 12
    *    digits fall to the tiebreak identically everywhere; bounded, as
    *    score ≤ 10¹² (c_l, c_r ≥ cnt) and the products stay ≤ 10²⁶ ≪ the
    *    DECIMAL(38) / int128 range even at 10¹³-token corpora.
    *
    * Each round merges the argmax over the pairs with
    * `cnt ≥ minPairCount` under the total order (score DESC, cnt DESC,
    * l, r), symbols compared in the engine's binary UTF-8 order; a round
    * with no such pair ends training. The order is total, so the merge
    * table is a pure function of the corpus at any parallelism. Under
    * frequency score = cnt: BPE's (count DESC, l, r) order and its
    * noise-floor stop. */
  private[operators] final case class MergeScheme(marker: String, likelihood: Boolean)

  private[operators] val Scheme = MergeScheme("", likelihood = false)

  /** A rule as the shared trainer learns it; `score` equals `count`
    * under the frequency objective. */
  private[operators] final case class PairMerge(
      rank: Int, left: String, right: String, count: Long, score: Long)

  /** The likelihood score's quantization: 12 digits of relative precision. */
  private val ScoreScale = "1000000000000" // 10^12

  /** Word vocabulary with occurrence weights — the corpus→vocab
    * reduction (step 1 above). `explode_outer` + null-filter on the
    * generator OUTPUT: the non-outer form triggers
    * InferFiltersFromGenerate, whose inferred scan filter re-evaluates
    * the tokenizer regex per element (the q55 lesson, BASELINE.md). */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode_outer(TextOps.bpeTokens(col(textCol))).as("word"))
      .where(col("word").isNotNull && col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("w"))

  /** `word` (string) → `syms` (array of single-character strings).
    * DOTALL: a pre-token can be a lone control char (the `[^a-z0-9 ]`
    * class matches "\n"), and plain `.` would drop it — giving the
    * distributed trainer an empty symbol array where [[encodeWord]]'s
    * `word.map(_.toString)` keeps the char. */
  def charSyms(word: Column): Column =
    regexp_extract_all(word, lit("(?s)."), lit(0))

  /** A scheme's seed symbols: [[charSyms]] with every non-initial code
    * point `marker`-prefixed. */
  private[operators] def seedSyms(word: Column, marker: String): Column =
    transform(charSyms(word), (c, i) => when(i === 0, c).otherwise(concat(lit(marker), c)))

  /** Adjacent symbol-pair counts over a (`syms`, `w`) vocabulary,
    * weighted by word occurrence — columns (l, r, cnt). */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val n = size(col("syms"))
    val pairs = zip_with(
      slice(col("syms"), lit(1), n - 1),
      slice(col("syms"), lit(2), n - 1),
      (a, b) => struct(a.as("l"), b.as("r")))
    vocab.where(n >= 2)
      .select(col("w"), explode_outer(pairs).as("p"))
      .where(col("p").isNotNull)
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("w")).as("cnt"))
  }

  /** One greedy left-to-right merge round over a `syms` array: every
    * non-overlapping adjacent (left, right) becomes left+right. A fold is
    * exactly the greedy scan: a merged element's VALUE is left+right ≠
    * left (symbols are non-empty), so the fold never re-merges an element
    * it just created — "aaa" under (a,a) yields [aa, a], not [aa, aa].
    *
    * The pair arrives as COLUMNS, not literals: the training loop feeds
    * it from a broadcast 1-row frame, so every round compiles to the
    * structurally identical plan and whole-stage codegen's cache serves
    * rounds 2..n — with per-round literals each round generated and
    * JIT-compiled a fresh class, which dominated small-vocab round time. */
  def mergeExpr(syms: Column, left: Column, right: Column): Column =
    fuseExpr(syms, left, right, Scheme.marker)

  def mergeExpr(syms: Column, left: String, right: String): Column =
    mergeExpr(syms, lit(left), lit(right))

  /** [[mergeExpr]] under a scheme's fuse rule: left + right stripped of
    * `marker`. The strip is conditional — a right element without the
    * marker (a malformed row) degrades to plain concat, not a mangle. */
  private[operators] def fuseExpr(syms: Column, left: Column, right: Column,
      marker: String): Column = {
    val fused = concat(left, when(right.startsWith(marker),
      right.substr(lit(marker.length + 1), length(right))).otherwise(right))
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === left && s === right,
          concat(slice(acc, lit(1), size(acc) - 1), array(fused)))
          .otherwise(concat(acc, array(s))))
  }

  /** Learn up to `numMerges` merge rules from the corpus. Stops early
    * when the best remaining pair's weighted count drops below
    * `minPairCount` (vocabulary exhausted / noise floor). */
  def trainMerges(
      docs: DataFrame,
      textCol: String = "text",
      numMerges: Int = 50,
      minPairCount: Long = 2L): Seq[Merge] =
    trainMergesFromVocab(wordVocab(docs, textCol), numMerges, minPairCount)

  /** Same, from a prepared (`word`, `w`) vocabulary — lets callers train
    * several tokenizers (per language, per domain) off one corpus pass. */
  def trainMergesFromVocab(
      wordWeights: DataFrame,
      numMerges: Int,
      minPairCount: Long = 2L): Seq[Merge] =
    trainVocab(wordWeights, numMerges, minPairCount, Scheme)
      .map(m => Merge(m.rank, m.left, m.right, m.count))

  /** Lineage-truncate every this-many merge rounds. Between checkpoints
    * rounds only PERSIST: unlike the CC loop (which references each
    * round's frame twice, doubling the plan per round), a merge round
    * references its predecessor once, so the plan grows LINEARLY and a
    * cache is enough — the argmax job materializes it as a side effect,
    * halving the jobs per round. The periodic checkpoint still bounds
    * plan depth, so numMerges can reach vocabulary scale (thousands)
    * without analyzer-stack or treeString blowup. */
  private val CheckpointEvery = 8

  /** Execution-strategy gate for the merge loop: the vocabulary after
    * the one corpus pass is MODEL-SIZED, and every merge round over it
    * is otherwise a full driver-coordinated Spark job (plan + schedule +
    * collect) whose fixed cost dwarfs the vocab-sized work — 16 rounds
    * ≈ 33 jobs for q78. At or below these caps the vocab is collected
    * once and the whole loop runs driver-side; above them the
    * distributed loop is the path (a 100 TB crawl's ~10⁸-word vocab
    * stays out of driver memory). BOTH branches compute the identical
    * merge table — spec-asserted across the threshold (BpeTrainSpec and
    * WordPieceTrainSpec force each branch on the same vocab), unlike the
    * result-degrading guard class (boundedProbeBudget) this must not be
    * confused with. */
  private[operators] val DriverVocabMaxWords: Int = 1 << 20
  private[operators] val DriverVocabMaxChars: Long = 1L << 26

  /** Collect a (`word`, `w`) vocabulary for the driver-side loop when it
    * fits the caps, else None. ONE job (`limit(cap+1)` guards the
    * row count the mmrSelect way — fail-safe, not fail-loud: over-cap
    * falls back to the distributed loop rather than erroring); the char
    * cap bounds the per-round rescan cost and is checked post-collect
    * (rows are words — kilobyte "words" would take a degenerate
    * pre-tokenizer, but the loop must not be quadratic-ish on one). */
  private def collectVocabIfSmall(
      wordWeights: DataFrame): Option[Array[(String, Long)]] = {
    val rows = wordWeights
      .select(col("word").cast("string"), col("w").cast("long"))
      .limit(DriverVocabMaxWords + 1).collect()
    if (rows.length > DriverVocabMaxWords) None
    else {
      val vocab = rows.map { r =>
        (if (r.isNullAt(0)) "" else r.getString(0),
          if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val chars = vocab.iterator.map(_._1.length.toLong).sum
      if (chars <= DriverVocabMaxChars) Some(vocab) else None
    }
  }

  /** The shared trainer's entry: model-sized vocabularies (at most
    * [[DriverVocabMaxWords]] words and [[DriverVocabMaxChars]] chars)
    * run the loop driver-side after one collect, larger ones keep the
    * distributed rounds. */
  private[operators] def trainVocab(
      wordWeights: DataFrame,
      numMerges: Int,
      minPairCount: Long,
      scheme: MergeScheme): Seq[PairMerge] = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    require(minPairCount >= 1L, s"minPairCount $minPairCount must be >= 1")
    collectVocabIfSmall(wordWeights) match {
      case Some(vocab) => trainMergesDriver(vocab, numMerges, minPairCount, scheme)
      case None => trainMergesDistributed(wordWeights, numMerges, minPairCount, scheme)
    }
  }

  /** The engine's string total order, driver-side: Spark's `orderBy` on
    * strings compares UTF8String bytes — unsigned UTF-8, i.e. CODE POINT
    * order. `String.compareTo` compares UTF-16 units, which ranks
    * supplementary code points (surrogate pairs, 0xD800-prefixed) BELOW
    * BMP chars in [U+E000, U+FFFF] — the opposite. The argmax tiebreak
    * must match the distributed plan (and the DuckDB oracle, also binary
    * UTF-8) exactly, so compare by code point. */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The merge loop, driver-side, on a collected vocabulary — the same
    * rounds as the distributed loop, job-free: symbols interned to ints,
    * adjacent pairs packed into one long, the scheme's argmax with ties
    * on the symbol STRINGS under [[utf8Compare]] (never on interning-order
    * ids), then the greedy non-overlapping left-to-right replace
    * ([[applyMerge]]'s semantics) in place. Spec-gated equal to the
    * distributed loop and to each spec's independent sequential
    * reference. */
  private[operators] def trainMergesDriver(
      vocab: Array[(String, Long)],
      numMerges: Int,
      minPairCount: Long,
      scheme: MergeScheme): Seq[PairMerge] = {
    val scoreScale = BigInt(ScoreScale)
    val symIdx = new java.util.HashMap[String, Integer]
    val symStr = scala.collection.mutable.ArrayBuffer.empty[String]
    def sid(s: String): Int = {
      val e = symIdx.get(s)
      if (e != null) e.intValue
      else { symIdx.put(s, symStr.size); symStr += s; symStr.size - 1 }
    }
    def left(k: Long): Int = (k >>> 32).toInt
    def right(k: Long): Int = (k & 0xffffffffL).toInt
    val words = vocab.map { case (w, _) =>
      codePointSyms(w).iterator.zipWithIndex
        .map { case (c, i) => sid(if (i == 0) c else scheme.marker + c) }.toArray
    }
    val weights = vocab.map(_._2)
    val merges = Seq.newBuilder[PairMerge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val cnt = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val symCnt =
        if (scheme.likelihood) new java.util.HashMap[Integer, java.lang.Long]() else null
      var i = 0
      while (i < words.length) {
        val a = words(i)
        val w = weights(i)
        var j = 0
        while (j < a.length) {
          if (symCnt != null) symCnt.merge(a(j), w, (x, y) => x + y)
          if (j < a.length - 1)
            cnt.merge((a(j).toLong << 32) | (a(j + 1).toLong & 0xffffffffL),
              w, (x, y) => x + y)
          j += 1
        }
        i += 1
      }
      var bestK = -1L
      var bestC = 0L
      var bestS = Long.MinValue
      val it = cnt.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue
        if (c >= minPairCount) {
          val k = e.getKey.longValue
          val s =
            if (symCnt == null) c
            else ((BigInt(c) * scoreScale) /
              (BigInt(symCnt.get(Integer.valueOf(left(k))).longValue) *
                BigInt(symCnt.get(Integer.valueOf(right(k))).longValue))).toLong
          val better =
            if (s != bestS) s > bestS
            else if (c != bestC) c > bestC
            else if (bestK < 0L) true
            else {
              val lc = utf8Compare(symStr(left(k)), symStr(left(bestK)))
              lc < 0 || (lc == 0 &&
                utf8Compare(symStr(right(k)), symStr(right(bestK))) < 0)
            }
          if (better) { bestK = k; bestC = c; bestS = s }
        }
      }
      if (bestK < 0L) exhausted = true
      else {
        val li = left(bestK)
        val ri = right(bestK)
        val l = symStr(li)
        val r = symStr(ri)
        merges += PairMerge(rank, l, r, bestC, bestS)
        val ni = sid(l + r.stripPrefix(scheme.marker))
        var i2 = 0
        while (i2 < words.length) {
          val a = words(i2)
          val n = a.length
          if (n >= 2) {
            var rd = 0
            var wr = 0
            var merged = false
            while (rd < n) {
              if (rd + 1 < n && a(rd) == li && a(rd + 1) == ri) {
                a(wr) = ni; rd += 2; merged = true
              } else { a(wr) = a(rd); rd += 1 }
              wr += 1
            }
            if (merged) words(i2) = java.util.Arrays.copyOf(a, wr)
          }
          i2 += 1
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** The distributed merge loop — the path for vocabularies past the
    * driver caps (nothing here ever holds the vocab in one place). Per
    * round: pair counts (plus, under likelihood, symbol counts —
    * alphabet-sized, so broadcast-joined onto the pairs), a
    * TakeOrdered(1) argmax whose per-partition heads meet at the driver
    * (one row of traffic, no full sort), and the [[fuseExpr]] fold.
    * Rounds persist between [[CheckpointEvery]]-spaced checkpoints, and
    * every working frame is released on any exit path. */
  private[operators] def trainMergesDistributed(
      wordWeights: DataFrame,
      numMerges: Int,
      minPairCount: Long,
      scheme: MergeScheme): Seq[PairMerge] = {
    val merges = Seq.newBuilder[PairMerge]
    var vocab = wordWeights
      .select(seedSyms(col("word"), scheme.marker).as("syms"), col("w"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    var vocabIsCheckpoint = true
    // a lazily-persisted round still READS its predecessor's blocks when
    // the next argmax first materializes it — the predecessor's release
    // must wait until after that job, or every round would recompute the
    // whole segment since the last checkpoint
    var lagged: Option[(DataFrame, Boolean)] = None
    def release(df: DataFrame, isCheckpoint: Boolean): Unit =
      if (isCheckpoint) org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(df)
      else { df.unpersist(false); () }
    val mergeSchema = StructType(Seq(
      StructField("ml_", StringType), StructField("mr_", StringType)))
    try {
      var rank = 0
      var exhausted = false
      while (rank < numMerges && !exhausted) {
        val pc = pairCounts(vocab).where(col("cnt") >= minPairCount)
        val scored =
          if (!scheme.likelihood) pc.withColumn("score", col("cnt"))
          else {
            val sc = WordPieceTrain.symCounts(vocab)
            pc.join(broadcast(sc.select(col("sym").as("l"), col("c").as("cl"))), Seq("l"))
              .join(broadcast(sc.select(col("sym").as("r"), col("c").as("cr"))), Seq("r"))
              .withColumn("score",
                expr(s"CAST(CAST(cnt AS DECIMAL(38,0)) * $ScoreScale AS DECIMAL(38,0))" +
                  " div (CAST(cl AS DECIMAL(38,0)) * CAST(cr AS DECIMAL(38,0)))"))
          }
        // this job also materializes the round's lazily-persisted vocab,
        // after which the lagged predecessor has no reader left
        val top = scored
          .orderBy(col("score").desc, col("cnt").desc, col("l"), col("r"))
          .limit(1).select("l", "r", "cnt", "score").collect()
        lagged.foreach { case (df, ck) => release(df, ck) }
        lagged = None
        if (top.isEmpty) exhausted = true
        else {
          val row = top.head
          val (l, r) = (row.getString(0), row.getString(1))
          merges += PairMerge(rank, l, r, row.getLong(2), row.getLong(3))
          val checkpointRound = (rank + 1) % CheckpointEvery == 0
          // the round's pair as a broadcast 1-row frame (see mergeExpr:
          // identical plan per round ⇒ codegen cache hit)
          val mrow = vocab.sparkSession.createDataFrame(
            java.util.Arrays.asList(Row(l, r)), mergeSchema)
          val transformed = vocab.crossJoin(broadcast(mrow))
            .withColumn("syms", fuseExpr(col("syms"), col("ml_"), col("mr_"), scheme.marker))
            .drop("ml_", "mr_")
          val next =
            if (checkpointRound) transformed.localCheckpoint(true, StorageLevel.DISK_ONLY)
            else transformed.persist(StorageLevel.DISK_ONLY)
          if (checkpointRound) release(vocab, vocabIsCheckpoint) // next is eager
          else lagged = Some((vocab, vocabIsCheckpoint))
          vocab = next
          vocabIsCheckpoint = checkpointRound
          rank += 1
        }
      }
      merges.result()
    } finally {
      // the merge table is the model; the working frames have no further
      // reader on ANY exit path (normal or throwing)
      lagged.foreach { case (df, ck) => release(df, ck) }
      release(vocab, vocabIsCheckpoint)
    }
  }

  // ---- encode (apply a trained merge table) ----

  /** [[mergeExpr]]'s greedy scan, driver-side — shared by the reference
    * encoder and the specs' equivalence checks. */
  def applyMerge(syms: List[String], left: String, right: String): List[String] = {
    val out = List.newBuilder[String]
    var rest = syms
    while (rest.nonEmpty) {
      rest match {
        case a :: b :: tail if a == left && b == right =>
          out += left + right; rest = tail
        case a :: tail => out += a; rest = tail
        case Nil => ()
      }
    }
    out.result()
  }

  /** One string per CODE POINT — the driver-side twin of [[charSyms]]
    * (whose `(?s).` regex matches code points). `word.map(_.toString)`
    * would split by UTF-16 code units, cutting every non-BMP char
    * (emoji, astral CJK) into two lone surrogates — symbols the trainer
    * never produced, so trained merges could never match at encode time. */
  def codePointSyms(word: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Segment one pre-token with a trained merge table, applying rules in
    * rank order, one full greedy pass each. For TRAINED tables this
    * equals the priority-queue BPE encoder: a rule's constituent symbols
    * only ever come from strictly earlier-ranked rules (that is how they
    * entered the vocabulary), so a later rule can never create a match
    * for an earlier one — rank order is already priority order.
    *
    * Allocation-lean: array-based with a symbol-presence skip — a rank
    * whose left or right symbol is absent from the word is a no-op pass
    * by definition, and for realistic tables most ranks miss most words,
    * so the common path is one HashSet probe per rank, not a full scan
    * + list rebuild per rank (the q116 contended-box cost). The presence
    * set is an over-approximation (consumed symbols are not evicted) —
    * an extra scan occasionally, never a missed merge. Spec-asserted
    * equal to the reference fold ([[encodeWordNaive]]) on randomized
    * words and tables. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val syms0 = codePointSyms(word)
    if (syms0.lengthCompare(2) < 0 || merges.isEmpty) return syms0
    var out = syms0.toArray
    val present = new java.util.HashSet[String](out.length * 2)
    out.foreach(present.add)
    val it = merges.iterator
    while (it.hasNext && out.length >= 2) {
      val (l, r) = it.next()
      if (present.contains(l) && present.contains(r)) {
        var i = 0
        var w = 0
        val n = out.length
        var merged = false
        while (i < n) {
          if (i + 1 < n && out(i) == l && out(i + 1) == r) {
            val lr = l + r
            out(w) = lr; present.add(lr); i += 2; merged = true
          } else { out(w) = out(i); i += 1 }
          w += 1
        }
        if (merged) out = java.util.Arrays.copyOf(out, w)
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** The direct rank-ordered fold — the spec oracle for [[encodeWord]]
    * and the line-for-line twin of the q116 SQL replay. */
  private[graft] def encodeWordNaive(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(codePointSyms(word)) {
      case (syms, (l, r)) => applyMerge(syms, l, r)
    }

  /** Per-thread pre-token memo for [[encodeUdf]]: word frequencies are
    * Zipfian, so the same pre-tokens recur constantly within a task and
    * the encode loop re-derives identical segmentations millions of
    * times. Keyed by (merge-table content hash, word) — two UDFs with
    * different tables sharing a thread cannot collide; a static object
    * so nothing non-serializable rides the UDF closure. Size-capped and
    * cleared wholesale on overflow (bounded memory per thread; the
    * Zipf head repopulates in microseconds). */
  private object EncodeCache {
    final val MaxEntries = 1 << 16
    val tl: ThreadLocal[java.util.HashMap[(Long, String), Seq[String]]] =
      ThreadLocal.withInitial(() => new java.util.HashMap[(Long, String), Seq[String]]())
  }

  /** 64-bit content fingerprint of a merge table for the cache key —
    * two independent 32-bit MurmurHash3 passes over an unambiguous
    * flattening (NUL/SOH separators can't appear in trained symbols).
    * A bare `Seq.hashCode` is 32 bits: two distinct tables colliding at
    * ~2⁻³² would silently serve one table's segmentations to the other;
    * at 64 bits the class is gone for any real session. */
  private def tableFingerprint(merges: Seq[(String, String)]): Long = {
    val flat = merges.map { case (l, r) => l + "\u0000" + r }.mkString("\u0001")
    val a = scala.util.hashing.MurmurHash3.stringHash(flat, 0x9747b28c)
    val b = scala.util.hashing.MurmurHash3.stringHash(flat, 0x85ebca6b)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** text → BPE token array under a trained merge table: pre-tokenize
    * with [[TextOps.BpeTokenPattern]] (the q46 apply side), then segment
    * each pre-token. A Scala UDF, deliberately — the per-word rule loop
    * is iterative with data-dependent trip count; the codegen'd
    * alternative is a numMerges-deep nested HOF expression (SURVEY §2.11
    * places UDFs below native expressions, above everything else). The
    * merge table rides the closure — model state, like the k-means
    * centroids, broadcast once per stage. */
  def encodeUdf(merges: Seq[(String, String)]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val pattern = TextOps.BpeTokenPattern.r
    // content fingerprint computed once, driver-side: the cache key must
    // be stable across the per-task closure deserializations that each
    // get their own Seq instance
    val tableHash = tableFingerprint(merges)
    udf { (text: String) =>
      if (text == null) null
      // Locale.ROOT: default-locale toLowerCase is box-dependent (the
      // Turkish-İ mapping) — this must match Spark's locale-independent
      // lower() used by the q46/q116 train side and the DuckDB oracle
      else {
        val cache = EncodeCache.tl.get()
        pattern.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
          .flatMap { w =>
            val key = (tableHash, w)
            var e = cache.get(key)
            if (e == null) {
              e = encodeWord(w, merges)
              if (cache.size >= EncodeCache.MaxEntries) cache.clear()
              cache.put(key, e)
            }
            e
          }.toSeq
      }
    }
  }

  /** The DuckDB replay of [[trainMerges]], generated from the same round
    * structure (the kCenterSqlCtes / hilbertSqlCtes one-source-of-truth
    * rule). `table` must expose a `text` column; output matches
    * `trainMerges(...).toDF()`: (rank, left, right, count) ordered by
    * rank, early-stop included. */
  def mergesSqlCtes(table: String, numMerges: Int, minPairCount: Long = 2L): String =
    schemeSqlCtes(table, numMerges, minPairCount, Scheme)

  /** A scheme's trainer unrolled into a DuckDB CTE chain, one
    * (pair-count, argmax, greedy-merge) block per round — plus the
    * symbol-count block the likelihood objective joins in — under the
    * [[MergeScheme]] contract. A round whose best pair falls below
    * `minPairCount` emits nothing and every later round is empty too:
    * the argmax CTE runs dry exactly where the engine loop breaks. The
    * likelihood objective appends a `score` column to the output.
    *
    * The greedy fold is replayed relationally: match positions i where
    * (syms[i], syms[i+1]) = the round's pair, gaps-and-islands over
    * consecutive matches (only possible when left = right), keep the
    * odd ranks within each island — byte-for-byte the fold's
    * non-overlapping left-to-right selection — then rebuild each word
    * as fused tokens at selected positions + untouched symbols
    * anti-joined against the covered set. CTEs are MATERIALIZED: the
    * inlined form re-evaluates v₀ per reference (and re-opens the
    * parquet until the fd limit), the materialized chain runs each
    * round once. */
  private[operators] def schemeSqlCtes(table: String, numMerges: Int,
      minPairCount: Long, scheme: MergeScheme): String = {
    require(numMerges >= 1 && numMerges <= 64,
      s"numMerges $numMerges outside [1, 64]")
    require(minPairCount >= 1L, s"minPairCount $minPairCount must be >= 1")
    val m = scheme.marker
    val ctes = Seq.newBuilder[String]
    ctes += s"""wv AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM (SELECT unnest(regexp_extract_all(lower(text),
      |          '${TextOps.BpeTokenPattern}')) AS word FROM $table)
      |  WHERE word <> '' GROUP BY word)""".stripMargin
    ctes += s"""v0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY word) AS wid,
      |  [CASE WHEN i = 1 THEN cs[i] ELSE '$m' || cs[i] END
      |   for i in generate_series(1, len(cs))] AS syms, w
      |  FROM (SELECT word, string_split(word, '') AS cs, w FROM wv))""".stripMargin
    for (r <- 0 until numMerges) {
      val (score, joins) =
        if (!scheme.likelihood) ("cnt", "")
        else {
          ctes += s"""sc$r AS (SELECT syms[i] AS sym, CAST(SUM(w) AS BIGINT) AS c
            |  FROM v$r, unnest(generate_series(1, len(syms))) AS u(i)
            |  GROUP BY 1)""".stripMargin
          ("""CAST((CAST(cnt AS HUGEINT) * """ + ScoreScale +
            ") // (CAST(cl.c AS HUGEINT) * CAST(cr.c AS HUGEINT)) AS BIGINT)",
            s" JOIN sc$r cl ON cl.sym = pc$r.lc JOIN sc$r cr ON cr.sym = pc$r.rc")
        }
      ctes += s"""pc$r AS (SELECT syms[i] AS lc, syms[i+1] AS rc,
        |    CAST(SUM(w) AS BIGINT) AS cnt
        |  FROM v$r, unnest(generate_series(1, len(syms)-1)) AS u(i)
        |  GROUP BY 1, 2)""".stripMargin
      ctes += s"""a$r AS MATERIALIZED (SELECT lc, rc, cnt, $score AS score
        |  FROM pc$r$joins
        |  WHERE cnt >= $minPairCount
        |  ORDER BY score DESC, cnt DESC, lc, rc LIMIT 1)""".stripMargin
      ctes += s"""m$r AS (SELECT wid, i
        |  FROM v$r, a$r, unnest(generate_series(1, len(syms)-1)) AS u(i)
        |  WHERE syms[i] = lc AND syms[i+1] = rc)""".stripMargin
      ctes += s"""sel$r AS MATERIALIZED (SELECT wid, i FROM (
        |    SELECT wid, i, ROW_NUMBER() OVER (PARTITION BY wid, g ORDER BY i) AS rn
        |    FROM (SELECT wid, i,
        |            i - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY i) AS g
        |          FROM m$r))
        |  WHERE rn % 2 = 1)""".stripMargin
      ctes += s"""cov$r AS (SELECT wid, i AS pos FROM sel$r
        |  UNION ALL SELECT wid, i + 1 FROM sel$r)""".stripMargin
      ctes += s"""v${r + 1} AS MATERIALIZED (SELECT wid,
        |    list(tok ORDER BY pos) AS syms, any_value(w) AS w FROM (
        |    SELECT v.wid, s.i AS pos,
        |        v.syms[s.i] || CASE WHEN starts_with(v.syms[s.i+1], '$m')
        |          THEN substr(v.syms[s.i+1], ${m.length + 1}) ELSE v.syms[s.i+1] END AS tok, v.w
        |      FROM v$r v JOIN sel$r s USING (wid)
        |    UNION ALL
        |    SELECT p.wid, p.pos, p.tok, p.w FROM (
        |      SELECT v.wid, u.i AS pos, v.syms[u.i] AS tok, v.w
        |        FROM v$r v, unnest(generate_series(1, len(v.syms))) AS u(i)) p
        |      ANTI JOIN cov$r c ON p.wid = c.wid AND p.pos = c.pos
        |  ) GROUP BY wid)""".stripMargin
    }
    val scoreCol = if (scheme.likelihood) ", score" else ""
    val finals = (0 until numMerges).map(r =>
      s"""SELECT CAST($r AS INTEGER) AS rank, lc AS "left", rc AS "right",
         |  cnt AS "count"$scoreCol FROM a$r""".stripMargin)
      .mkString("\nUNION ALL ")
    s"WITH ${ctes.result().mkString(",\n")}\n$finals\nORDER BY rank"
  }
}
