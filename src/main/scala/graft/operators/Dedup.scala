package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Document deduplication for the LLM-pipeline surface (SURVEY.md §2.10 L1/
  * L2): exact (content hash), n-gram Jaccard (exact, candidate-pruned),
  * MinHash+LSH (approximate, scale path), and SimHash (bit-signature).
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-groupBy — a single shuffle on the 256-bit
  *    content hash; no text ever shuffles, only (hash, id).
  *  - jaccardPairs prunes to pairs sharing ≥1 shingle HASH (8 bytes on
  *    the wire, never the shingle string; a collision only adds a
  *    candidate the exact verify rejects). The optional `maxShingleDf`
  *    drops shingle hashes present in more than that many docs before
  *    the self-join — the standard hot-key guard: a shingle shared by 1M
  *    docs would otherwise emit 10^12 candidate rows.
  *  - minHashLshPairs replaces the shingle join with a (numHashes)-int
  *    signature + banded bucket join: candidate volume is governed by the
  *    band collision probability (~j^rowsPerBand per band), independent of
  *    document length; the exact-Jaccard verify runs only on candidates.
  *  - simHashPairs is constant-size state per doc (one 64-bit signature);
  *    the 4×16-bit band join finds all pairs with Hamming distance ≤ 3 by
  *    pigeonhole and any-distance pairs probabilistically.
  */
object Dedup {

  /** Exact dedup: one row per distinct text — canonical (minimum) id and
    * copy count, keyed by sha2-256 of the content. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-slice duplication matrix — which slices (sources, scrapes,
    * snapshots) duplicate into which: per slice pair, the number of
    * shared distinct contents and the content-set Jaccard. The curation
    * read on a multi-scrape corpus: a pair with high Jaccard is the same
    * crawl ingested twice (drop one), a one-sided overlap
    * (shared ≈ n_a ≪ n_b) is a subset mirror — both invisible to
    * per-slice dedup accounting ([[dedupAccounting]]) which only says
    * HOW MUCH is duplicated, not WITH WHOM.
    *
    * Scale shape: the corpus collapses to DISTINCT (content-hash, slice)
    * pairs first (one map-side-combined aggregation; 32-byte hash
    * currency, text never shuffles); the self-join on the hash is
    * co-partitioned, and its fan-out per hash is bounded by the SLICE
    * count (C(s,2) pairs worst-case for a content present everywhere) —
    * never corpus². Per-slice totals are a slices-sized broadcast.
    * Pairs emit once with `slice_a < slice_b`; disjoint pairs emit
    * nothing (an absent row IS the zero). */
  def crossSliceOverlap(
      df: DataFrame,
      textCol: String = "text",
      sliceCol: String = "source",
      roundTo: Int = 4): DataFrame = {
    val hs = df.select(sha2(col(textCol), 256).as("h"), col(sliceCol).as("sl"))
      .distinct()
    val per = hs.groupBy("sl").agg(count(lit(1)).as("n"))
    val shared = hs.select(col("h"), col("sl").as("sl_a"))
      .join(hs.select(col("h"), col("sl").as("sl_b")), Seq("h"))
      .where(col("sl_a") < col("sl_b"))
      .groupBy("sl_a", "sl_b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(per.select(col("sl").as("sl_a"), col("n").as("n_a"))), "sl_a")
      .join(broadcast(per.select(col("sl").as("sl_b"), col("n").as("n_b"))), "sl_b")
      .select(col("sl_a"), col("sl_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared") * lit(1.0) /
          (col("n_a") + col("n_b") - col("shared")), roundTo).as("jaccard"))
      .orderBy("sl_a", "sl_b")
  }

  /** Incremental exact dedup — the ingest-time form: keep only rows of
    * `incoming` whose content hash does NOT appear in the historical
    * corpus. `incoming` may be a STREAMING frame (stream–static left-anti
    * joins are append-mode legal), which makes this the standing
    * new-content gate of an incremental ingest pipeline; the static side
    * is reduced to its distinct hash set (32 bytes per distinct text —
    * corpus text never enters the join). Duplicates WITHIN the incoming
    * stream are deliberately out of scope here: that is [[exact]] for
    * batches and the watermarked `dropDuplicates` surface for streams
    * (SessionDedupStreamSpec) — unbounded cross-batch state is a choice
    * the caller must make explicitly, not a default this helper hides. */
  def newContentOnly(
      incoming: DataFrame,
      corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val seen = corpus.select(sha2(col(textCol), 256).as("text_sha_")).distinct()
    incoming.withColumn("text_sha_", sha2(col(textCol), 256))
      .join(seen, Seq("text_sha_"), "left_anti")
      .drop("text_sha_")
  }

  /** Distinct shingle-hash sets per doc: (id, hs) via the fused
    * [[graft.expressions.ShingleHashesKernel]] one-pass byte loop — no
    * token/shingle string arrays ever materialize. Docs with fewer than n
    * tokens yield an empty array: `explode` drops them and their size-0
    * never reaches a pair (no exploded rows → no candidacy), reproducing
    * the shingle-set drop rule with no filter (a size filter above the
    * projection would get pushed below it and re-inline the kernel into
    * the scan filter — the round-2 double-evaluation trap). */
  private def shingleHashSets(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      sorted: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val kernel = ColumnGlue.column(graft.expressions.ShingleHashesKernel(
      ColumnGlue.expression(col("text_")), n))
    // ascending order costs one per-row sort at build time and buys the
    // allocation-free sorted-merge verify kernel (SortedLongIntersect)
    val hashes = if (sorted) array_sort(kernel) else kernel
    df.select(col(idCol).as("id"), col(textCol).as("text_"))
      // fan-out barrier: a compact doc table often arrives in one or few
      // input splits, and the kernel+explode would otherwise run single-
      // task. Explicit N pins the fan-out — REPARTITION_BY_COL is AQE-
      // coalescible and a few-MB doc table would fold back to ~1 partition.
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), hashes.as("hs"))
      // one-shot materialization: the pair pipeline references this frame
      // from 3 branches (explode + two size joins), each re-deriving it
      // otherwise. DISK_ONLY, not memory: signature blocks held on-heap
      // across a many-query session are pure GC pressure (the round-2
      // driver bench degraded 56s -> 95s under exactly that); lineage is
      // kept, so a lost executor recomputes instead of failing the job.
      .persist(StorageLevel.DISK_ONLY)
  }

  /** Exact n-gram Jaccard near-dup pairs (ia < ib, jaccard ≥ minJaccard).
    * Candidates = pairs sharing at least one 64-bit shingle hash;
    * shared-hash count per pair comes from one self-equi-join on the hash
    * + a map-side-combining count aggregation (NEVER per-pair document
    * re-verification: candidate volume is quadratic in hot-shingle doc
    * frequency, and counting is O(join rows) with partial aggregation,
    * while re-shingling both texts per pair measured 10-50× slower at
    * sf0.1). Sizes join back from the per-doc hash sets, so Jaccard is
    * exact over distinct shingle hashes: |A∩B| / (|A|+|B|-|A∩B|) —
    * identical to string-shingle Jaccard unless two distinct shingles of
    * the same doc pair collide in 64 bits (~2^-64 per pair; the DuckDB
    * oracle cross-check computes the string form and agrees).
    *
    * The join currency is 8 bytes per shingle — variable-width shingle
    * strings never ride a shuffle and never materialize at all.
    *
    * @param maxShingleDf drop shingle hashes occurring in more than this
    *   many docs before pairing (hot-key guard; None = keep all, exact
    *   result).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minJaccard: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame =
    jaccardPairsImpl(df, idCol, textCol, n, minJaccard, maxShingleDf)._1

  /** [[jaccardPairs]] plus a handle on the per-call hash-set cache, so
    * eager consumers ([[dedupClusters]]) can unpersist it once the pair
    * graph is materialized. The public [[jaccardPairs]] result is lazy and
    * keeps referencing the cache — its blocks live until the caller drops
    * the session cache (`spark.catalog.clearCache()`); that is the
    * documented cost of a lazy result over a shared scan. */
  private def jaccardPairsImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxShingleDf: Option[Int]): (DataFrame, DataFrame) = {
    val (base, docs) = sharedPairCounts(df, idCol, textCol, n, maxShingleDf)
    val pairs = base
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
      .select("ia", "ib", "shared", "na", "nb", "jaccard")
    (pairs, docs)
  }

  /** PPJoin-style prefix-filtered exact Jaccard pairs — the same output
    * contract as [[jaccardPairs]] (ia < ib over distinct n-gram shingle
    * hashes, exact jaccard ≥ minJaccard) through the canonical scale
    * path for set-similarity joins (SSJoin, Chaudhuri et al. ICDE 2006;
    * PPJoin, Xiao et al. WWW 2008).
    *
    * Why a second exact path: [[jaccardPairs]]'s self-join emits a row
    * per shared shingle per pair, Σ_h df(h)² over shingle document
    * frequency — quadratic in the df head, and a crawl's head (template
    * chrome, boilerplate banners) is exactly the shingles that never
    * decide a match. `maxShingleDf` caps that by DROPPING hot shingles
    * (approximate sizes). Prefix filtering keeps exactness: order the
    * shingle universe by ascending global df (rarest first, ties on
    * hash — any total order works, the frequency order minimizes
    * candidates), and join only each doc's first |x| − ⌈t·|x|⌉ + 1
    * ordered shingles. The prefix-filtering principle guarantees recall
    * 1: if a qualifying pair (J ≥ t ⟹ shared ≥ ⌈t·max(na,nb)⌉) shared
    * nothing across the two prefixes, its shared shingles would all sit
    * in the ordered tails, at most ⌈t·na⌉−1 < t·na of them —
    * contradiction. Every candidate is then verified on the FULL
    * per-doc hash arrays (one sorted-merge intersection per pair, the
    * [[sortedNeighborhoodPairs]] verify currency), so false candidates
    * cost one array intersection, never a text re-shingle.
    *
    * Scale shape: the prefix under the HASH total order (`dfOrder =
    * false`, default) is a pure per-row `array_sort` + `slice` over the
    * persisted hash sets — ZERO passes beyond [[jaccardPairs]]'s own,
    * and a candidate join whose volume is Σ_h df_prefix(h)²: at t = 0.8
    * a 100-shingle doc joins on 21 shingles instead of 100 (~25× fewer
    * self-join rows). `dfOrder = true` additionally computes global
    * shingle document frequency (one 8-byte-key aggregation) and ranks
    * each doc's shingles rarest-first (one window shuffle by id) —
    * frequency order is the candidate-MINIMIZING order (the hot df head
    * lands in every tail cut), worth the two extra exchanges exactly
    * when the corpus shingle df is skewed (real crawls: boilerplate);
    * hash order is the data-independent choice for near-uniform df. The
    * length filter (⌈t·na⌉ ≤ nb ≤ na/t, a J ≥ t necessity) prunes at
    * candidate time from sizes carried on the prefix rows. */
  def prefixFilterPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minJaccard: Double = 0.8,
      dfOrder: Boolean = false): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val t = minJaccard
    val docs = shingleHashSets(df, idCol, textCol, n, sorted = true)
    // ⌈t·n⌉ with an epsilon guard: the IEEE product can overshoot an
    // exact integer (0.55 × 100 = 55.000000000000007, ceil → 56), which
    // would shorten the prefix and tighten the length filter past the
    // true bound — dropping exactly-at-threshold pairs and breaking the
    // recall-1 contract. Subtracting 1e-9 before ceil can only SLACKEN
    // the bound by one in the genuinely-fractional cases it touches
    // (extra candidates, which the exact verify rejects), never tighten.
    def ceilT(x: org.apache.spark.sql.Column) = ceil(lit(t) * x - lit(1e-9))
    val prefixLen = (size(col("hs")) - ceilT(size(col("hs"))) + 1).cast("int")
    val prefix =
      if (!dfOrder)
        docs.select(col("id"), size(col("hs")).cast(LongType).as("nsh"),
          explode(slice(col("hs"), lit(1), prefixLen)).as("h"))
      else {
        val ex = docs.select(col("id"), size(col("hs")).cast(LongType).as("nsh"),
          explode(col("hs")).as("h"))
        val dfreq = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
        ex.join(dfreq, "h")
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("id").orderBy(col("dfh"), col("h"))))
          .filter(col("pos") <= col("nsh") - ceilT(col("nsh")) + 1)
          .select("id", "nsh", "h")
      }
    // Self-join discipline as in sharedPairCounts: one canonical
    // exchange under both sides (ReusedExchange), forced shuffled join —
    // both sides are corpus-scale.
    val pS = prefix.repartition(
      prefix.sparkSession.sparkContext.defaultParallelism, col("h"))
    val left = pS.select(col("id").as("ia"), col("nsh").as("na_"), col("h"))
    val right = pS.select(col("id").as("ib"), col("nsh").as("nb_"), col("h").as("h2"))
    val cand = left.hint("shuffle_hash")
      .join(right, col("h") === col("h2") && col("ia") < col("ib") &&
        col("nb_") >= ceilT(col("na_")) &&
        col("na_") >= ceilT(col("nb_")))
      .select("ia", "ib")
      .dropDuplicates("ia", "ib")
    val intersect = org.apache.spark.sql.graftglue.ColumnGlue.column(
      graft.expressions.SortedLongIntersect(
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col("ha")),
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col("hb"))))
    cand
      .join(docs.select(col("id").as("ia"), col("hs").as("ha")), Seq("ia"))
      .join(docs.select(col("id").as("ib"), col("hs").as("hb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        intersect.as("shared"),
        size(col("ha")).cast(LongType).as("na"),
        size(col("hb")).cast(LongType).as("nb"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= t)
      .select("ia", "ib", "shared", "na", "nb", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: C(A→B) = |A∩B| / |A| over
    * distinct n-gram shingle hashes, emitted per unordered pair (ia < ib)
    * as `c_ab` (smaller-id doc inside larger-id doc) and `c_ba`, kept
    * when either direction ≥ `minContainment`. The quote/subset detector
    * Jaccard structurally misses: a 50-token doc verbatim inside a
    * 5000-token doc has J ≈ 0.01 but C ≈ 1.0 — resemblance vs containment
    * is Broder's original distinction (syntactic clustering, 1997).
    *
    * Same exchange discipline and cost shape as [[jaccardPairs]] (shared
    * candidate/count machinery): one hash self-join with map-side
    * combining, 8-byte shingle currency, size joins over the per-doc
    * sets. The measure is a row-local projection over (shared, na, nb) —
    * no extra shuffle versus Jaccard. */
  def containmentPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val (base, _) = sharedPairCounts(df, idCol, textCol, n, maxShingleDf)
    base
      .withColumn("c_ab", col("shared").cast("double") / col("na"))
      .withColumn("c_ba", col("shared").cast("double") / col("nb"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
      .select("ia", "ib", "shared", "na", "nb", "c_ab", "c_ba")
  }

  /** Subset PRUNING — the curation action on [[containmentPairs]]: drop
    * every doc that is near-contained (containment ≥ `minContainment`)
    * in a LARGER doc, keeping the superset (the quote/aggregator page
    * survives, its embedded snippets go). Decision rule per flagged pair,
    * made deterministic by (size, id): drop the smaller shingle set; on
    * equal sizes drop the larger id (mutual near-containment of
    * equal-sized sets ⇒ the pair is an ordinary near-dup, min-id keep —
    * [[exact]]'s rule). Transitive chains resolve conservatively: a doc
    * is dropped if ANY flagged pair condemns it, so A⊂B⊂C drops A and B
    * even if the A–C pair fell below candidacy.
    *
    * Scale shape: [[containmentPairs]]'s self-join machinery + one
    * left-anti join of the corpus against the (typically tiny) condemned
    * id set — the anti join shuffles (id, id) pairs, never text. */
  def removeContained(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // persist the flagged pairs: the two condemnation filters below each
    // reference them, and unpersisted the whole candidate/count core
    // (shingle self-join + size joins) re-runs per direction (measured
    // 5.6 -> 4.1 s scoped at sf0.1); pair-set-sized, session-managed
    val pairs = containmentPairs(df, idCol, textCol, n, minContainment, maxShingleDf)
      .persist(StorageLevel.DISK_ONLY)
    val dropA = col("c_ab") >= minContainment &&
      (col("na") < col("nb") || (col("na") === col("nb") && col("ib") < col("ia")))
    val dropB = col("c_ba") >= minContainment &&
      (col("nb") < col("na") || (col("na") === col("nb") && col("ia") < col("ib")))
    val condemned = pairs.filter(dropA).select(col("ia").as("cid"))
      .union(pairs.filter(dropB).select(col("ib").as("cid")))
      .distinct()
    df.join(condemned, df(idCol) === condemned("cid"), "left_anti")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS fingerprint): slide a window of `w` consecutive n-gram hashes
    * and keep each window's MINIMUM; the distinct kept values are the
    * document's fingerprint set. The winnowing GUARANTEE: any token run
    * of ≥ w+n−1 tokens shared by two docs shares ≥1 fingerprint — a
    * LOCALITY guarantee MinHash does not give (MinHash samples the
    * whole-doc set and can miss a short plagiarized span entirely;
    * winnowing covers every span). Expected density ~2/(w+1) of the gram
    * volume, so `w` tunes index size against the guarantee length. Docs
    * with 0 < grams < w keep the min over all their grams.
    *
    * Engine-portable by construction: gram hash = `ascii_poly_hash` (the
    * q47 family) and window-min needs no tie-break on VALUES (equal mins
    * select the same value), so the pipeline replays in SQL (q97).
    *
    * Scale shape: ALL NARROW — tokenize → ordered grams → per-gram hash
    * → window mins → distinct, one projection chain per document; rows
    * leave as (id, 8-byte fp) pairs. */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      w: Int = 4): DataFrame = {
    require(w >= 1, "window must be >= 1")
    val staged = df
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("tk"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      // ordered, NON-distinct grams — winnowing is positional (the
      // distinct set of shinglesFromTokens would break window geometry)
      .select(col("id"),
        when(size(col("tk")) >= n,
          transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n)))))
          .otherwise(array().cast("array<string>")).as("sh"))
      .select(col("id"), expr("transform(sh, s -> ascii_poly_hash(s))").as("g"))
    // explode_OUTER + null-filter, not plain explode: a non-outer
    // Generate's inferred size(...)>0 filter re-inlines the whole token
    // pipeline into the scan filter with per-element re-evaluation — the
    // O(tokens²) hazard documented at Quality.repetitionMetrics.
    staged
      .select(col("id"),
        explode_outer(
          when(size(col("g")) >= w,
            array_distinct(transform(sequence(lit(1), size(col("g")) - (w - 1)),
              i => array_min(slice(col("g"), i, lit(w))))))
          .otherwise(when(size(col("g")) > 0, array(array_min(col("g"))))
            .otherwise(array().cast("array<bigint>")))).as("fp"))
      .where(col("fp").isNotNull)
  }

  /** Local-overlap candidate pairs over [[winnowingFingerprints]]: docs
    * sharing ≥ `minShared` fingerprints, with the shared count — the
    * MOSS-style plagiarism/quote detector (by the guarantee, any shared
    * run of ≥ w+n−1 tokens surfaces; rank by `shared` to triage). One
    * fp-keyed self-join on 8-byte currency; `maxFpDf` drops fingerprints
    * in more than that many docs before the join — the corpus-scale
    * guard against a boilerplate banner's fingerprint joining
    * quadratically ([[jaccardPairs]]'s maxShingleDf rule). */
  def winnowingPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      w: Int = 4,
      minShared: Long = 1L,
      maxFpDf: Option[Int] = None): DataFrame = {
    val fps0 = winnowingFingerprints(df, idCol, textCol, n, w)
    val fps = maxFpDf match {
      case Some(cap) =>
        val hot = fps0.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("fp")
        fps0.join(hot, Seq("fp"), "left_anti")
      case None => fps0
    }
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ia"), col("b.id").as("ib"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Ingest-time LOCAL-overlap gate — [[winnowingPairs]] across two
    * corpora, completing the admission-gate family ([[newContentOnly]]
    * exact, [[nearDupAgainst]] whole-doc fuzzy, this one span-local):
    * every (incoming, corpus) pair sharing ≥ `minShared` winnowing
    * fingerprints. By the winnowing guarantee, an incoming doc that
    * QUOTES ≥ w+n−1 consecutive tokens of a landed doc surfaces here
    * even when its whole-doc Jaccard is far below any MinHash threshold
    * — the copy-paste/aggregator case the q81 gate structurally misses.
    *
    * Scale shape: fingerprint the corpus ONCE ([[winnowingFingerprints]],
    * pass it via `corpusFps` — the precompute-once contract of
    * `minHashBandsPortable` / `newContentOnly`'s sha set); each batch
    * pays fingerprinting itself (all narrow) + one fp-keyed shuffle-hash
    * join on 8-byte currency. Output: (in_id, corpus_id, shared). */
  def overlapAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      w: Int = 4,
      minShared: Long = 1L,
      corpusFps: Option[DataFrame] = None): DataFrame = {
    val cf = corpusFps.getOrElse(winnowingFingerprints(corpus, idCol, textCol, n, w))
    val inf = winnowingFingerprints(incoming, idCol, textCol, n, w)
    inf.as("a").join(cf.as("b"), Seq("fp"))
      .groupBy(col("a.id").as("in_id"), col("b.id").as("corpus_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The corpus's distinct shingle-hash set — (h) frame for
    * [[noveltyGate]]'s precompute-once contract (the `corpusFps` /
    * `minHashBandsPortable` pattern in novelty space): compute over the
    * historical corpus once, persist/materialize, probe per batch. */
  def corpusShingles(
      corpus: DataFrame,
      textCol: String = "text",
      n: Int = 3): DataFrame = {
    // inline kernel, not shingleHashSets: the per-doc frame has exactly
    // one reader here, so its DISK_ONLY persist would leak corpus-scale
    // blocks for nothing (callers persist the small distinct RESULT).
    // The fan-out barrier stays: a compact corpus arrives in few input
    // splits, and without it the kernel scan + distinct's partial
    // aggregation would run single-task (shingleHashSets' rationale).
    val hs = org.apache.spark.sql.graftglue.ColumnGlue.column(
      graft.expressions.ShingleHashesKernel(
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col(textCol)), n))
    corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(explode(hs).as("h")).distinct()
  }

  /** Novelty-based ingest gate — the AGGREGATE-redundancy member of the
    * admission family (L11 exact sha, L25 whole-doc fuzzy/semantic, L41
    * span-local): score each incoming doc by the fraction of its
    * distinct shingles ABSENT from the corpus's shingle set, admit at
    * `minNovelty`. The case the pairwise gates structurally miss: a doc
    * stitched from fragments of MANY corpus docs has near-zero Jaccard
    * to each one and no long shared span, yet adds nothing — its
    * novelty is ~0 here because membership is tested against the
    * corpus's UNION of shingles, not per-pair.
    *
    * Output: (idCol, n_shingles, n_novel, novelty, admit) per incoming
    * doc with ≥1 shingle; sub-shingle-width docs are ABSENT (novelty
    * undefined — route them through the exact sha gate, the
    * [[newContentOnlyNear]] composition rule).
    *
    * Scale shape: corpus touched only through its distinct-hash frame
    * ([[corpusShingles]], precompute once); per batch one LEFT join of
    * the incoming exploded shingles against it (8-byte currency) and a
    * per-doc count aggregation. Streaming: stream-static left joins are
    * append-legal, and per-micro-batch ≡ batch because each doc's score
    * depends only on its own shingles and the STATIC corpus frame. */
  def noveltyGate(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minNovelty: Double = 0.5,
      corpusHashes: Option[DataFrame] = None,
      roundTo: Int = 4): DataFrame = {
    require(minNovelty >= 0.0 && minNovelty <= 1.0,
      s"minNovelty $minNovelty must be in [0, 1]")
    // dropDuplicates defends against a caller-supplied frame built with a
    // plain explode: duplicate hashes would inflate join multiplicity and
    // deflate novelty (a no-op on corpusShingles output, which is distinct)
    val ch = corpusHashes.getOrElse(corpusShingles(corpus, textCol, n))
      .select(col("h")).dropDuplicates("h")
      .select(col("h"), lit(true).as("seen_"))
    // inline kernel, no shingleHashSets: the incoming frame is referenced
    // ONCE (no persist needed), and skipping the persist keeps this legal
    // on a raw streaming frame, not just under foreachBatch
    val hs = org.apache.spark.sql.graftglue.ColumnGlue.column(
      graft.expressions.ShingleHashesKernel(
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col(textCol)), n))
    incoming.select(col(idCol).as("id"), explode(hs).as("h"))
      .join(ch, Seq("h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("seen_").isNull, lit(1))).as("n_novel"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel") * lit(1.0) / col("n_shingles"), roundTo).as("novelty"))
      .withColumn("admit",
        col("n_novel") * lit(1.0) / col("n_shingles") >= minNovelty)
  }

  /** Candidate pairs sharing ≥1 shingle hash, with the shared-hash count
    * and both set sizes — the measure-agnostic core of [[jaccardPairs]] /
    * [[containmentPairs]]. Returns (pairs, docs-cache handle). */
  private def sharedPairCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDf: Option[Int]): (DataFrame, DataFrame) = {
    val docs = shingleHashSets(df, idCol, textCol, n)
    val ex0 = docs.select(col("id"), explode(col("hs")).as("h"))
    val ex = maxShingleDf match {
      case Some(m) =>
        val keep = ex0.groupBy("h").agg(count(lit(1)).as("df_")).filter(col("df_") <= m)
        ex0.join(keep.select("h"), "h")
      case None => ex0
    }
    // Self-join discipline: shuffle by the join key BELOW the renames so
    // both sides canonicalize to one identical exchange (computed once,
    // ReusedExchange on the other side), and force a shuffled join — both
    // sides scale with the corpus, broadcasting either would collect an
    // exploded corpus-sized stream to the driver.
    val exS = ex.repartition(ex.sparkSession.sparkContext.defaultParallelism, col("h"))
    val left = exS.select(col("id").as("ia"), col("h"))
    val right = exS.select(col("id").as("ib"), col("h").as("h2"))
    val shared = left.hint("shuffle_hash")
      .join(right, col("h") === col("h2") && col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("shared"))
    val sizes = docs.select(col("id"), size(col("hs")).cast(LongType).as("nsh"))
    val base = shared
      .join(sizes.select(col("id").as("ia"), col("nsh").as("na")), "ia")
      .join(sizes.select(col("id").as("ib"), col("nsh").as("nb")), "ib")
    (base, docs)
  }

  /** SOFT exact dedup: keep up to `maxCopies` members of each identical-
    * content group (id-ordered), not just one — the data-constrained-
    * scaling policy (Muennighoff et al. 2023: repeating data up to ~4
    * epochs retains most of its value, so capped duplication beats full
    * dedup when tokens are scarce). `maxCopies = 1` degenerates to
    * [[exact]]'s keep-one decision.
    *
    * Scale shape: content reduces map-side to its sha256 before any
    * exchange (the [[exact]]/[[Changes.snapshotDelta]] digest currency),
    * then the [[graft.plans.TopK]] heap operator at k = maxCopies trims
    * every input partition to ≤ k rows per digest BEFORE the shuffle —
    * the window idiom would sort and shuffle every copy of every hot
    * duplicate (exactly the skewed key a crawl's boilerplate produces). */
  def exactCapped(
      df: DataFrame,
      maxCopies: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    graft.plans.TopK.perKey(
        df.select(col(idCol), sha2(col(textCol), 256).as("text_sha")),
        Seq(col("text_sha")),
        Seq(col(idCol)),
        k = maxCopies, rankName = "copy_rank")
      .select(col("text_sha"), col(idCol), col("copy_rank"))
  }

  /** Survivor selection per dedup cluster — the curation ACTION on
    * [[dedupClusters]] / [[Similarity.nearDupClusters]]'s decision
    * output. The clustering's `keep` flag marks the MIN-ID member
    * (deterministic but arbitrary); production pipelines keep the
    * BEST member — highest quality score, longest, freshest — so this
    * re-selects the survivor by `scoreCol` (desc, id-tiebroken).
    *
    * Scale shape: one id-keyed shuffle join attaching scores to cluster
    * labels, then the [[graft.plans.TopK]] heap operator at k=1 — the
    * map-side partial heap trims every input partition to one row per
    * cluster BEFORE the exchange, so the shuffle moves ≤ partitions rows
    * per cluster, never the corpus (the window idiom would sort and
    * shuffle every row). */
  def clusterSurvivors(
      clusters: DataFrame,
      scored: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "quality"): DataFrame =
    graft.plans.TopK.perKey(
        clusters.select(col(idCol), col("cluster_id")).join(scored, idCol),
        Seq(col("cluster_id")),
        Seq(col(scoreCol).desc, col(idCol)),
        k = 1, rankName = "rank")
      .select(col("cluster_id"), col(idCol), col(scoreCol))

  /** MinHash signatures as (id, sig array) via the fused
    * [[graft.expressions.MinHashSigKernel]] byte loop: the whole signature
    * is computed in ONE pass over the document — no shingle explode, no
    * numHashes-column aggregation, no shuffle. Short docs (< n tokens)
    * yield null and are dropped, reproducing the shingle-set rule.
    * Bit-identical to the round-3 explode+MIN-aggregate form
    * (min over all shingles == min over distinct; unit-tested). */
  private def minHashSigsNative(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, portable: Boolean): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val kernel = ColumnGlue.column(graft.expressions.MinHashSigKernel(
      ColumnGlue.expression(col(textCol)), n, numHashes, portable))
    // Known, deliberate 2× kernel cost: predicate pushdown rewrites the
    // null-drop `isnotnull(sig)` by alias substitution, shipping
    // `isnotnull(minhash_sig(text))` into the scan filter — one extra
    // kernel pass per row (and even with the filter removed, the band
    // join's key constraints would infer the same isnotnull). Measured
    // both ways at sf0.1: a DISK_ONLY persist barrier on the projection
    // removes the duplicate eval but costs MORE (q38 2.3 → 5.7 s,
    // q47 1.6 → 2.6 s — stage barrier + materialization + lost
    // pipelining vs one cheap fused byte loop), the same verdict as the
    // round-7 candidate-frame measurement. A constant-factor CPU cost
    // that scales linearly, not a shuffle or a scale cliff.
    df.select(col(idCol).as("id"), kernel.as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Exact-Jaccard verification of banded candidate pairs via the fused
    * [[graft.expressions.JaccardShinglesKernel]]: candidates rejoin their
    * raw TEXT by id and the distinct-shingle overlap [shared,|A|,|B|] is
    * computed locally in one pass per pair — no shingle arrays ever
    * materialize or ride a shuffle (the round-3..5 form built per-doc
    * shingle arrays for the candidates and verified with array_intersect;
    * allocation-profiled as the signature family's contended-box cost).
    * The candIds semi-join keeps the corpus streamed ONCE (candIds
    * broadcast into the scan); the repartition below both renames gives
    * the two verify joins one canonicalized exchange (computed once,
    * ReusedExchange on the other side). Emits (ia, ib, ta, tb, shared,
    * na, nb, jaccard) filtered to minJaccard: the candidate texts
    * `ta`/`tb` stay available for further per-pair kernels
    * ([[sigAgreement]]) and prune away when a caller drops them.
    * Bit-equality of the kernel against the declarative
    * shinglesFromTokens + array_intersect form is unit-tested (DedupSpec). */
  private def verifyCandidatesExact(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      cand: DataFrame, minJaccard: Double): DataFrame = {
    // cand is referenced three times (both candIds branches + the verify
    // join): affordable because every caller's candidate pipeline is a
    // cheap BAND join (LSH-limited) — and only when every reference
    // prunes to the SAME columns. Then the three copies are one plan and
    // AQE reuses its stages; a column carried by `cand` that the candIds
    // branches prune away (a signature, an estimate) makes three
    // different plans, and the band join, its dedup aggregate and the
    // signature scans all re-run per reference (measured on q122: 56
    // Spark jobs instead of 10). Compute per-pair values from `ta`/`tb`
    // after the verify instead. Do NOT route a corpus-wide candidate
    // generator through here unpersisted — and never per-pair-verify an
    // unbanded candidate stream at all (see jaccardPairs, which counts
    // shared hashes by aggregation instead: 10-50× faster at sf0.1).
    val candIds = cand.select(col("ia").as("id"))
      .union(cand.select(col("ib").as("id"))).distinct()
    val txt = df.select(col(idCol).as("id"), col(textCol).as("text_"))
      .join(candIds, "id")
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
    scoreShingleOverlap(cand
      .join(txt.select(col("id").as("ia"), col("text_").as("ta")), "ia")
      .join(txt.select(col("id").as("ib"), col("text_").as("tb")), "ib"),
      n, Seq("ia", "ib", "ta", "tb"), minJaccard)
  }

  /** Signature-agreement Jaccard estimate of a verified pair's texts
    * `ta`/`tb`: matching MinHash positions / numHashes, an exact multiple
    * of 1/numHashes. The signature kernel runs per pair, like the verify. */
  private def sigAgreement(n: Int, numHashes: Int, portable: Boolean): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    def sig(t: String) = ColumnGlue.column(graft.expressions.MinHashSigKernel(
      ColumnGlue.expression(col(t)), n, numHashes, portable))
    size(filter(zip_with(sig("ta"), sig("tb"), (x, y) => x === y), m => m)) * lit(1.0) / numHashes
  }

  /** (keep, shared, na, nb, jaccard) of each pair of texts `ta`/`tb`,
    * filtered to minJaccard, from the fused [shared,|A|,|B|]
    * [[graft.expressions.JaccardShinglesKernel]]. The kernel runs inside a
    * generator: predicate pushdown never moves a filter on generator
    * output below its Generate, so the jaccard filter is not inlined into
    * the join condition below, where it would call the kernel four more
    * times per pair. The kernel runs once per pair (pinned by a DedupSpec
    * plan test). */
  private def scoreShingleOverlap(
      pairs: DataFrame, n: Int, keep: Seq[String], minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val jc = ColumnGlue.column(graft.expressions.JaccardShinglesKernel(
      ColumnGlue.expression(col("ta")), ColumnGlue.expression(col("tb")), n))
    pairs.select(keep.map(col) :+ explode(array(jc)).as("jc_"): _*)
      .select(keep.map(col) ++ Seq(
        element_at(col("jc_"), 1).as("shared"),
        element_at(col("jc_"), 2).as("na"),
        element_at(col("jc_"), 3).as("nb")): _*)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Banded-bucket candidate pairs for [[minHashLshPairs]] — exposed at
    * package level so the geometry property tests can measure CANDIDATE
    * volume (the scale-governing quantity) directly, not just the
    * verified survivors. Output: (ia, ib), deduplicated. */
  private[operators] def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = minHashSigsNative(df, idCol, textCol, n, numHashes, portable = false)
    // Band join carries (id, band, bkey) only; the verify rejoins texts
    // by id for the candidates.
    val banded = sigs.select(
      col("id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), j -> xxhash64(slice(sig, j * $r + 1, $r), j))"))
        .as(Seq("band", "bkey")))
    // same self-join discipline as jaccardPairs: one shared exchange under
    // both renamed sides + shuffled join (both sides are corpus-sized)
    val bandedS = banded.repartition(
      banded.sparkSession.sparkContext.defaultParallelism, col("band"), col("bkey"))
    val a = bandedS.select(col("id").as("ia"), col("band"), col("bkey"))
    val b = bandedS.select(col("id").as("ib"), col("band").as("band2"), col("bkey").as("bkey2"))
    a.hint("shuffle_hash")
      .join(b,
        col("band") === col("band2") && col("bkey") === col("bkey2") && col("ia") < col("ib"))
      .select("ia", "ib")
      .dropDuplicates("ia", "ib")
  }

  /** MinHash + LSH near-dup pairs: banded signature buckets generate
    * candidates, exact Jaccard (on the true shingle sets) verifies them.
    * Result ⊆ jaccardPairs(minJaccard); recall is the LSH S-curve
    * 1-(1-j^r)^b (r = numHashes/bands rows per band, b = bands).
    * Also returns `est_jaccard`, the signature-agreement estimate.
    *
    * GEOMETRY CONTRACT: r governs how sharply dissimilar pairs are
    * suppressed from candidacy. At r ≤ 2 with a permissive threshold the
    * curve admits a noticeable fraction of ALL pairs (r=2, b=16 admits
    * ~15% at j≈0.1) — a QUADRATIC candidate stream at corpus scale.
    * Correctness survives any geometry (the exact verify rejects false
    * candidates); the shuffle does not. Such configs warn on stderr and
    * must be a deliberate recall choice (q38 opts in: the fixture's
    * planted pairs sit just above j=0.4, where r=4 recall is only ~19%).
    * The default 32/8 (r=4) is the defensible corpus-scale geometry. */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    if (r <= 2 && minJaccard < 0.5) {
      val admittedAtJ01 = 100.0 * (1 - math.pow(1 - math.pow(0.1, r), bands))
      System.err.println(
        f"[Dedup.minHashLshPairs] permissive LSH geometry: rowsPerBand=$r with " +
          f"minJaccard=$minJaccard%.2f admits $admittedAtJ01%.1f%% of ALL pairs at " +
          "j=0.1 (S-curve 1-(1-j^r)^b) — candidate volume grows quadratically " +
          "with the corpus; prefer rowsPerBand >= 4 (e.g. numHashes=32, bands=8) " +
          "unless this recall choice is deliberate")
    }
    verifyCandidatesExact(df, idCol, textCol, n,
        minHashCandidates(df, idCol, textCol, n, numHashes, bands), minJaccard)
      .withColumn("est_jaccard", sigAgreement(n, numHashes, portable = false))
      .select("ia", "ib", "shared", "jaccard", "est_jaccard")
  }

  /** 64-bit SimHash of the whitespace token stream: per bit, sign of the
    * ±1 vote sum across token hashes. Pure Catalyst expression; tokens are
    * hashed ONCE up front (inner transform) — hashing inside the per-bit
    * lambda would xxhash each token 64 times. */
  def simHash64(textCol: String): org.apache.spark.sql.Column =
    expr(s"""aggregate(
      zip_with(
        aggregate(transform(split($textCol, '\\\\s+'), t -> xxhash64(t)),
          transform(sequence(0, 63), b -> 0L),
          (acc, h) -> zip_with(acc, sequence(0, 63),
            (c, b) -> c + IF(((h >> b) & 1) = 1, 1L, -1L))),
        sequence(0, 63),
        (c, b) -> IF(c >= 0, shiftleft(1L, cast(b as int)), 0L)),
      0L, (h, x) -> h | x)""")

  /** Per-band LSH key columns over the materialized `sig` array: base-131
    * fold of the band's signature slice mod P — shared by every portable
    * banding path so self-join and cross-corpus candidacy are identical. */
  private def portableBandKeyCols(numHashes: Int, bands: Int): Seq[Column] = {
    // the guard lives HERE, once: every banded entry point funnels
    // through this geometry, and a non-dividing bands value would
    // silently drop trailing signature positions from candidacy
    require(numHashes % bands == 0, "bands must divide numHashes")
    val P = 1000000007L
    val r = numHashes / bands
    (0 until bands).map { j =>
      (0 until r).map(i => element_at(col("sig"), j * r + i + 1))
        .reduce((acc, m) => pmod(acc * 131 + m, lit(P)))
    }
  }

  /** Engine-portable banded MinHash rows (id, band, bkey) — the reusable
    * LSH artifact. One-pass fused signature (shingle poly-hash ×
    * numHashes affine permutations — MinHashSigKernel(portable = true));
    * the band keys fold declaratively over the constant-width sig array,
    * which is referenced numHashes times and therefore stays a
    * materialized attribute (CollapseProject's multi-reference guard).
    * Persist the CORPUS's rows once (bands·8 bytes + key per doc) and
    * reuse them across ingest batches via [[nearDupAgainst]]'s
    * `corpusBands` — the same precompute-once contract as
    * [[duplicatedWindowHashes]] for spans and [[newContentOnly]]'s sha set. */
  def minHashBandsPortable(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2): DataFrame = {
    val sig = minHashSigsNative(df, idCol, textCol, n, numHashes, portable = true)
    sig.select(col("id"),
      posexplode(array(portableBandKeyCols(numHashes, bands): _*)).as(Seq("band", "bkey")))
  }

  /** Ingest-time NEAR-dup gate — the fuzzy counterpart of
    * [[newContentOnly]]: every (incoming, corpus) pair whose n-gram
    * Jaccard reaches `minJaccard`, found by banded MinHash so the two
    * sides meet only inside shared LSH buckets, never all-against-all.
    * Uses the engine-portable hash family ([[portableMinHashPairs]]):
    * an ingest ADMISSION decision should be auditable outside the
    * engine, and q81 replays the whole pipeline in SQL.
    *
    * Scale shape: band the corpus ONCE ([[minHashBandsPortable]], pass
    * it via `corpusBands`) — then each batch pays banding the batch, one
    * band-keyed shuffle-hash join against the corpus bands, and the
    * fused exact verify on candidate texts only. Geometry discipline
    * applies (rowsPerBand ≥ 4 for low thresholds — the S-curve lint).
    *
    * Output: (in_id, corpus_id, shared, jaccard). */
  def nearDupAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      minJaccard: Double = 0.8,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val bIn = minHashBandsPortable(incoming, idCol, textCol, n, numHashes, bands)
      .select(col("id").as("in_id"), col("band"), col("bkey"))
      .repartition(par, col("band"), col("bkey"))
    val bC = corpusBands
      .getOrElse(minHashBandsPortable(corpus, idCol, textCol, n, numHashes, bands))
      .select(col("id").as("corpus_id"), col("band").as("band2"), col("bkey").as("bkey2"))
    // both sides can be corpus-scale: forbid an estimate-driven broadcast
    val cand = bIn.hint("shuffle_hash")
      .join(bC.hint("shuffle_hash"),
        col("band") === col("band2") && col("bkey") === col("bkey2"))
      .select("in_id", "corpus_id").dropDuplicates("in_id", "corpus_id")
    // exact verify on candidate texts only, one fused pairwise kernel pass
    val txtIn = incoming.select(col(idCol).as("in_id"), col(textCol).as("ta"))
      .join(cand.select("in_id").distinct(), "in_id")
      .repartition(par, col("in_id"))
    val txtC = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("tb"))
      .join(cand.select("corpus_id").distinct(), "corpus_id")
      .repartition(par, col("corpus_id"))
    scoreShingleOverlap(cand.join(txtIn, "in_id").join(txtC, "corpus_id"),
      n, Seq("in_id", "corpus_id"), minJaccard)
      .select("in_id", "corpus_id", "shared", "jaccard")
  }

  /** Fuzzy [[newContentOnly]]: drop incoming rows that NEAR-duplicate any
    * corpus doc. The exact sha gate composes FIRST, deliberately: a doc
    * with fewer than n tokens has no shingles and therefore no bands —
    * the near path alone would wave a byte-identical short doc through;
    * the sha anti-join catches every exact dup regardless of length, and
    * the near path then only has to judge the already-novel remainder
    * (which also shrinks its banding input). */
  def newContentOnlyNear(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      minJaccard: Double = 0.8,
      corpusBands: Option[DataFrame] = None): DataFrame = {
    // `novel` is referenced three times downstream (banding, the text
    // verify, the outer anti-join) — unpersisted, each reference would
    // re-run the sha gate over the incoming side. Batch-scale DISK_ONLY
    // blocks, live until the session cache clears (the jaccardPairs
    // lazy-result contract).
    val novel = newContentOnly(incoming, corpus, textCol)
      .persist(StorageLevel.DISK_ONLY)
    novel.join(
      nearDupAgainst(corpus, novel, idCol, textCol, n, numHashes, bands,
          minJaccard, corpusBands)
        .select(col("in_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** MinHash+LSH with an engine-portable hash family, so the WHOLE
    * pipeline (signatures → bands → candidates → exact-Jaccard verify) is
    * replayable in ANSI-ish SQL and hash-gated by the DuckDB oracle (q47)
    * — the cross-engine-verifiable counterpart of [[minHashLshPairs]]
    * (whose xxhash64 family is faster but Spark-only).
    *
    * Hash family: shingle hash h = polynomial char hash mod P (P=1e9+7);
    * permutation i = (Aᵢ·h + Bᵢ) mod P with Aᵢ = 2i+3, Bᵢ = 1000i+7;
    * band key = base-131 fold of the band's signature slice mod P. */
  def portableMinHashPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      minJaccard: Double = 0.8): DataFrame =
    verifyCandidatesExact(df, idCol, textCol, n,
      portableCandidates(df, idCol, textCol, n, numHashes, bands), minJaccard)
      .select("ia", "ib", "shared", "jaccard")

  /** (ia, ib) pairs sharing a portable LSH bucket, ia < ib, deduplicated:
    * the band self-join over [[minHashBandsPortable]]'s rows. */
  private def portableCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int): DataFrame = {
    val banded = minHashBandsPortable(df, idCol, textCol, n, numHashes, bands)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("band"), col("bkey"))
    val a = banded.select(col("id").as("ia"), col("band"), col("bkey"))
    val b = banded.select(col("id").as("ib"), col("band").as("band2"), col("bkey").as("bkey2"))
    a.hint("shuffle_hash")
      .join(b, col("band") === col("band2") && col("bkey") === col("bkey2") && col("ia") < col("ib"))
      .select("ia", "ib").dropDuplicates("ia", "ib")
  }

  /** MinHash calibration audit — [[Similarity.rankingRecall]]'s role for
    * the MinHash geometry: per banded candidate pair, the SIGNATURE
    * Jaccard estimate (matching positions / numHashes — the unbiased
    * estimator the S-curve math assumes) next to the exact shingle
    * Jaccard, plus the absolute error. The number a (numHashes, bands)
    * choice is tuned by: estimator spread at the decision threshold
    * tells you whether candidates are being admitted/rejected for the
    * right reason, BEFORE a production sweep bets on the geometry.
    * Engine-portable hash family throughout ([[portableMinHashPairs]]'s
    * rationale: an audit is worthless if only the engine can replay it).
    *
    * Output: (ia, ib, est_jaccard, exact_jaccard, abs_err) per candidate
    * pair — est is an exact multiple of 1/numHashes (no float hazard);
    * exact/err rounded as genuine quotients.
    *
    * Scale shape: the production pair pipeline ([[portableMinHashPairs]])
    * at j ≥ 0, so it audits exactly the production candidacy; `est` is
    * computed per pair from the two candidate texts the verify already
    * joins, with the same portable signature kernel that banded them. No
    * signature frame is persisted or joined by id; only candidate texts
    * are shuffled. */
  def minHashCalibration(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      roundTo: Int = 4): DataFrame = {
    verifyCandidatesExact(df, idCol, textCol, n,
        portableCandidates(df, idCol, textCol, n, numHashes, bands), 0.0)
      .select(col("ia"), col("ib"), col("jaccard"),
        sigAgreement(n, numHashes, portable = true).as("est"))
      .select(col("ia"), col("ib"),
        col("est").as("est_jaccard"),
        round(col("jaccard"), roundTo).as("exact_jaccard"),
        round(abs(col("est") - col("jaccard")), roundTo).as("abs_err"))
  }

  /** Edit-similarity near-dup pairs — the ORIGINAL shingle→verify
    * refinement (Broder's resemblance candidates re-scored by edit
    * distance): LSH candidates from the engine-portable banded MinHash,
    * verified by normalized Levenshtein similarity
    * 1 − dist/max(len_a, len_b) ≥ `minSim`. Set-based Jaccard is
    * order-blind — "a b c d" and "d c b a" tie at Jaccard 1.0; edit
    * similarity restores the ORDER axis, splitting true re-encodings
    * from shuffled boilerplate. Levenshtein is O(len²) per pair, so it
    * NEVER runs corpus-wide — only inside the candidate set the banding
    * already bounded (the cost discipline of every verify step here).
    *
    * Scale shape: banding + candidate join as [[portableMinHashPairs]];
    * then ONE id-keyed join attaches the two texts to each candidate
    * and Spark's codegen'd levenshtein scores them — texts move only
    * for candidates, never all-against-all.
    *
    * `maxBandDf` is the SELF-PRICING guard the shingle joins already
    * carry (`maxShingleDf`'s discipline applied to LSH buckets): a band
    * bucket with b members emits b·(b−1)/2 candidates, so one hot
    * template family makes candidate volume quadratic in the family
    * size — the r12 10×-scale study measured exactly this (candidates
    * ~100× for 10× data while per-pair cost FELL; the blocking key, not
    * the kernel, is the scale killer). With the cap, buckets larger
    * than `maxBandDf` are DROPPED before the self-join: per-bucket work
    * is bounded at cap²/2 and total candidates grow linearly in the
    * bucket count. Recall tradeoff, stated plainly: pairs living only
    * inside dropped hot buckets are lost — the standard df-cap
    * trade (a >cap template family is better served by exact dedup
    * first). Default None preserves the uncapped contract. */
  def editSimilarityPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 8,
      bands: Int = 2,
      minSim: Double = 0.8,
      maxBandDf: Option[Int] = None): DataFrame = {
    maxBandDf.foreach(c => require(c >= 2, s"maxBandDf $c must be >= 2"))
    val banded0 = minHashBandsPortable(df, idCol, textCol, n, numHashes, bands)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("band"), col("bkey"))
    val banded = maxBandDf match {
      case None => banded0
      case Some(cap) =>
        // bucket-size gate: one extra aggregation on the (band, bkey)
        // frame, then a semi-join keeps only calm buckets — same shape
        // as the maxShingleDf posting-list cap
        val calm = banded0.groupBy("band", "bkey")
          .agg(count(lit(1)).as("__bn"))
          .where(col("__bn") <= cap)
          .select("band", "bkey")
        banded0.join(calm, Seq("band", "bkey"), "left_semi")
    }
    val a = banded.select(col("id").as("ia"), col("band"), col("bkey"))
    val b = banded.select(col("id").as("ib"), col("band").as("band2"), col("bkey").as("bkey2"))
    val cand = a.hint("shuffle_hash")
      .join(b, col("band") === col("band2") && col("bkey") === col("bkey2") && col("ia") < col("ib"))
      .select("ia", "ib").dropDuplicates("ia", "ib")
    val texts = df.select(col(idCol).as("tid"), col(textCol).as("ttext"))
    cand
      .join(texts.select(col("tid").as("ia"), col("ttext").as("ta")), Seq("ia"))
      .join(texts.select(col("tid").as("ib"), col("ttext").as("tb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("maxlen"))
      .where(col("maxlen") > 0)
      .select(col("ia"), col("ib"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") / col("maxlen"), 4).as("edit_sim"))
      .filter(col("edit_sim") >= minSim)
  }

  /** Sorted-neighborhood near-dup pairs (Hernández/Stolfo's merge/purge
    * blocking, SIGMOD 1995) — the complementary BLOCKING family to LSH:
    * sort the corpus by a discriminating key (default: token count,
    * then text — near-dups have near-equal length and near-equal
    * prefixes), then compare only rows within `window` positions of
    * each other in that order, verified by exact n-gram Jaccard.
    * Where LSH recall is probabilistic in the SIMILARITY, sorted-
    * neighborhood recall is structural in the KEY: any near-dup pair
    * whose keys land within `window` sorted positions is found with
    * certainty, however low its Jaccard — and a pair with wildly
    * different keys is never compared, however similar. Run both
    * families and union when recall matters (the standard multi-pass
    * merge/purge).
    *
    * Scale shape: the global sort-order index comes from
    * [[Zip.seqByOrder]] (range exchange + two-pass contiguous
    * numbering — never a one-task window), neighborhood candidacy is
    * an EQUI-join on rank blocks of size `window` (each row probes its
    * block and the next, so every ≤`window`-apart pair meets exactly
    * once and no corpus-sized nested-loop join exists), and the exact
    * verify runs on that linear (≤ n·window) candidate set. Unlike the
    * LSH callers' pairwise string kernel, the verify here intersects
    * PRECOMPUTED per-doc hash arrays (ShingleHashesKernel, one kernel
    * pass per doc): each doc sits in ~2·window pairs, so per-pair
    * re-tokenization would pay the string work 2·window times per doc
    * (measured ~2× on the whole query at sf0.1, window 16). */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      window: Int = 4,
      minJaccard: Double = 0.4): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val keyed = Zip.seqByOrder(
        df.select(col(idCol).as("id"), col(textCol).as("text_"),
          size(split(col(textCol), "\\s+")).as("ntok_")),
        Seq(col("ntok_"), col("text_"), col("id")), "rk")
      .select("id", "rk")
    val blocked = keyed.withColumn("blk", floor(col("rk") / window))
    val probes = blocked.select(col("id"), col("rk"),
      explode(array(col("blk"), col("blk") + 1)).as("jblk"))
    // persist the candidate frame: verifyCandidatesExact reads it three
    // times (both id-set branches + the verify join), and unlike the
    // cheap LSH band joins of the other callers this pipeline carries a
    // range exchange + zipWithIndex hop + self-join — unpersisted, all
    // of it re-runs per reference (measured 11.6 s vs ~3 s at sf0.1);
    // n·window×16 B, session-cache managed like every persist here
    val cand = probes.as("a").hint("shuffle_hash")
      .join(blocked.as("b"),
        col("a.jblk") === col("b.blk") &&
          col("b.rk") > col("a.rk") && col("b.rk") <= col("a.rk") + window)
      .select(
        least(col("a.id"), col("b.id")).as("ia"),
        greatest(col("a.id"), col("b.id")).as("ib"))
      .dropDuplicates("ia", "ib")
      .persist(StorageLevel.DISK_ONLY)
    // sorted arrays + the sorted-merge kernel (the q115 verify currency):
    // array_intersect hashes boxed Longs per pair, the merge is
    // allocation-free over the unsafe words
    val hk = org.apache.spark.sql.graftglue.ColumnGlue.column(
      graft.expressions.ShingleHashesKernel(
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col(textCol)), n))
    val hashes = df.select(col(idCol).as("id"), array_sort(hk).as("hs"))
    val intersect = org.apache.spark.sql.graftglue.ColumnGlue.column(
      graft.expressions.SortedLongIntersect(
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col("ha")),
        org.apache.spark.sql.graftglue.ColumnGlue.expression(col("hb"))))
    cand
      .join(hashes.select(col("id").as("ia"), col("hs").as("ha")), Seq("ia"))
      .join(hashes.select(col("id").as("ib"), col("hs").as("hb")), Seq("ib"))
      .select(col("ia"), col("ib"),
        intersect.as("shared"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
      .select("ia", "ib", "shared", "jaccard")
  }

  /** Corpus novelty: per doc, the fraction of its distinct shingles
    * whose FIRST occurrence (min doc id over the corpus) is this doc —
    * the redundancy-growth audit: as a crawl grows, marginal novelty
    * decays, and the per-source novelty trend says which feeds still
    * contribute new content vs re-serving what the corpus already has
    * (the L60 accounting asks what dedup removes; this asks what ingest
    * ADDS). Id order stands in for arrival order — with a time column,
    * pass its rank as the id.
    *
    * Output: (idCol, n_shingles, n_novel, novelty_frac), frac a genuine
    * quotient rounded, ordered by id. Docs shorter than the shingle
    * width have no shingles and are ABSENT (novelty undefined).
    *
    * Scale shape: one (shingle-hash → min id) aggregation over the
    * exploded distinct sets (8-byte currency, map-side min), one hash
    * join back, one per-doc count aggregation — the [[jaccardPairs]]
    * exchange discipline without the quadratic pair join. */
  def noveltyPerDoc(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      roundTo: Int = 4): DataFrame = {
    val docs = shingleHashSets(df, idCol, textCol, n)
    val ex = docs.select(col("id"), explode(col("hs")).as("h"))
    val firstSeen = ex.groupBy("h").agg(min("id").as("first_id"))
    ex.join(firstSeen, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_id") === col("id"), lit(1))).as("n_novel"))
      .select(col("id").as(idCol),
        col("n_shingles"), col("n_novel"),
        round(col("n_novel") * lit(1.0) / col("n_shingles"), roundTo)
          .as("novelty_frac"))
      .orderBy(idCol)
  }

  /** Dedup ACCOUNTING: what near-dup clustering would actually remove,
    * as token mass per slice — the report a dedup decision ships with
    * ("clustering at t removes X% of source Y's tokens") and the input
    * to the L34 capped-copy tradeoff. Removal rule = [[dedupClusters]]'
    * canonical policy (cluster member ≠ min-id canonical ⇒ removed);
    * accounting is corpus-global (a doc's canonical may live in another
    * slice — the cross-slice duplicate is precisely the interesting
    * row).
    *
    * Output: (sliceCol, n_docs, n_removed, total_toks, removed_toks,
    * removed_frac), frac a genuine quotient rounded, ordered by slice.
    *
    * Scale shape: the cluster frame is the [[dedupClusters]] pipeline
    * (its cost dominates); accounting adds ONE id-keyed join of the
    * (id, slice, token-count) projection against the (id, keep) frame —
    * 16-byte-ish currency, text never moves — and one slice
    * aggregation.
    *
    * Precompute-once contract (the [[corpusShingles]]/[[corpusFps]]
    * pattern): a pipeline that already holds the clustering decision
    * passes it via `clusters` — (idCol, keep) and whatever else — and the
    * accounting joins against THAT frame instead of re-deriving the
    * shingle self-join + connected components. [[dedupClusters]] output
    * is lineage-truncated, so the passed frame never re-plans the pair
    * pipeline. */
  def dedupAccounting(
      df: DataFrame,
      sliceCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minJaccard: Double = 0.8,
      roundTo: Int = 4,
      clusters: Option[DataFrame] = None): DataFrame = {
    val cl = clusters
      .getOrElse(dedupClusters(df, idCol, textCol, n, minJaccard))
      .select(col(idCol).as("id_"), col("keep"))
    df.select(col(idCol).as("id_"), col(sliceCol).as("slice"),
        graft.functions.TextOps.tokenCount(col(textCol)).as("nt"))
      .join(cl, "id_")
      .groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        count(when(!col("keep"), lit(1))).as("n_removed"),
        sum("nt").cast(LongType).as("total_toks"),
        coalesce(sum(when(!col("keep"), col("nt"))), lit(0L)).cast(LongType)
          .as("removed_toks"))
      .select(col("slice").as(sliceCol), col("n_docs"), col("n_removed"),
        col("total_toks"), col("removed_toks"),
        round(col("removed_toks") * lit(1.0) / col("total_toks"), roundTo)
          .as("removed_frac"))
      .orderBy(sliceCol)
  }

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: comp(v) starts at v and contracts to the
    * minimum id reachable — the clustering step that turns near-dup PAIRS
    * into dedup GROUPS (each group keeps its min-id canonical doc).
    *
    * Scale shape: each iteration is one (edge ⋈ label) shuffle join + a
    * map-side min aggregation; convergence needs graph-diameter rounds,
    * and near-dup components are overwhelmingly pairs/triangles in
    * practice, so 2–3 rounds close the fixpoint (at extreme diameters
    * you'd switch to large-star/small-star, same join shape). The sum of
    * labels is strictly decreasing until the fixpoint, so convergence is
    * detected with a cheap scalar aggregate instead of a change-count
    * join. */
  def connectedComponents(
      pairs: DataFrame,
      nodes: DataFrame,
      maxIters: Int = 30,
      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col("ia").as("u"), col("ib").as("v"))
      .union(pairs.select(col("ib").as("u"), col("ia").as("v")))
      // referenced once per iteration: without the cut, every round would
      // re-run the (possibly expensive) pair pipeline upstream
      .persist(StorageLevel.DISK_ONLY)
    // comp holds the live lineage-truncated label frame across rounds;
    // hoisted so the failure path below can release its checkpoint blocks
    var comp: DataFrame = null
    try {
    // Adaptive small-graph path — the same small-side rule Spark applies
    // to broadcast joins: near-dup edge sets are usually ≪ corpus (sparse
    // by construction), and each distributed propagation round costs a
    // fixed plan+codegen+job round-trip that dwarfs the data work on a
    // small graph. Below the threshold the component labels come from one
    // collect + union-find over primitive arrays; every label is exact
    // and identical to the distributed fixpoint (min id per component).
    // Driver footprint at the default 2^20-pair cap: one specialized
    // (Long,Long) tuple array (~32 B/edge ≈ 34 MB) + sorted id array
    // (8 B) and int parent array (4 B) per vertex (≤ 2^21 vertices
    // ≈ 25 MB) — ~60 MB transient, bounded and far below driver heap,
    // but NOT free: raise localEdgeThreshold with that math in mind.
    // Larger graphs take the distributed rounds below, so the 100 TB
    // path never collects. Set localEdgeThreshold = 0 to force
    // distribution.
    val nDirected = edges.count() // one cheap job; also materializes the cache
    // divide the count, never double the threshold: 2 * Long.MaxValue
    // wraps negative and would silently disable the local path for a
    // caller who passed the max to mean "always local"
    if (nDirected / 2 <= localEdgeThreshold) {
      val sess = pairs.sparkSession
      import sess.implicits._
      // one direction suffices (read back from the cache, pairs upstream
      // never re-runs); Tuple2[Long,Long] is @specialized — no boxing
      val collected: Array[(Long, Long)] =
        edges.where(col("u") < col("v")).as[(Long, Long)].collect()
      val ids: Array[Long] =
        collected.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
      val parent = Array.range(0, ids.length)
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i // path compression
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      collected.foreach { case (u, v) =>
        val ru = find(java.util.Arrays.binarySearch(ids, u))
        val rv = find(java.util.Arrays.binarySearch(ids, v))
        // ids is sorted, so union by min INDEX is union by min id: the
        // root IS the component label
        if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      }
      edges.unpersist()
      val labels = Array.tabulate(ids.length)(i => (ids(i), ids(find(i)))).toSeq
        .toDF("id", "comp")
      return nodes.select(col("id"))
        .join(labels.withColumnRenamed("comp", "comp_"), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp_"), col("id")).as("comp"))
    }
    // iterate only over nodes that occur in the pair graph — near-dup
    // graphs are sparse (≪ corpus), so the propagation rounds touch
    // O(pairs) rows, never the corpus; singletons rejoin at the end.
    // Seeding with least(id, min neighbor) IS the first propagation round
    // as a single aggregation (no join against a label table), so
    // pair/triangle components — the overwhelming near-dup case — are
    // already at their fixpoint before the loop starts.
    // Per-round frames are LINEAGE-TRUNCATED (eager DISK_ONLY local
    // checkpoint), not merely persisted: every round references the prior
    // round's frame 2+ times, so keeping lineage would double the logical
    // plan per round — exponential plan trees long before the data is big
    // (the cache-name treeString alone OOMs around round ~15). DISK_ONLY
    // keeps the blocks off-heap; the ContextCleaner reaps each round's
    // blocks once the loop drops its reference.
    comp = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(org.apache.spark.sql.functions.sum("comp")).collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0) // null on an edgeless graph
    }
    // labels only ever decrease, so a non-decreasing sum == fixpoint; the
    // seed's sum is the baseline — worth its small job, because the seed
    // is already the fixpoint for pair/triangle components and the first
    // loop round then detects convergence immediately
    var sum = labelSum(comp)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(comp, edges("v") === comp("id"))
        .groupBy(col("u")).agg(min(col("comp")).as("nbr_comp"))
      val next = comp.join(nbrMin, comp("id") === nbrMin("u"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      // next is eagerly materialized (localCheckpoint(true)) and
      // lineage-free: the prior round's blocks are unreachable the moment
      // it exists — swap the live reference FIRST, then release the prior
      // frame, so the failure path below always sees exactly one live
      // checkpoint (a throw from labelSum after this point leaks nothing)
      val prior = comp
      comp = next
      org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(prior)
      val nextSum = labelSum(next)
      converged = nextSum == sum
      sum = nextSum
      it += 1
    }
    // both branches are already materialized lineage-free: the loop
    // checkpoints each round, and the fallback checkpoints its result —
    // dropping the edge cache here leaves no live reference to the pair
    // pipeline, so repeated calls cannot accumulate session-lifetime blocks
    val labels =
      if (converged) comp
      else {
        // split components mean near-dups silently SURVIVE dedup — min-label
        // moves one hop per round, so diameter > maxIters graphs (chain-shaped
        // templated spam) land here; escalate to the O(log d) alternation
        // instead of warning and returning split labels
        System.err.println(
          s"[Dedup.connectedComponents] min-label propagation did not converge " +
            s"after $maxIters rounds (graph diameter > maxIters); switching to " +
            "the large-star/small-star alternation (O(log d) rounds)")
        try largeStarSmallStarLabels(edges)
        finally {
          // the abandoned min-label frame's blocks have no further reader —
          // released even when the fallback throws, so a failed run doesn't
          // pin checkpoint blocks for the session lifetime
          org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(comp)
          edges.unpersist()
        }
      }
    if (converged) edges.unpersist()
    nodes.select(col("id"))
      .join(labels.withColumnRenamed("comp", "comp_"), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp_"), col("id")).as("comp"))
    } catch {
      // failure-path release (r9 advice): a job that dies mid-loop (lost
      // executor, OOM on the collect) must not pin the edge cache or the
      // current round's checkpoint blocks for the session lifetime —
      // both releases are idempotent, so overlap with the happy-path
      // unpersists above is harmless. Each cleanup is swallowed
      // individually: on a STOPPED SparkContext (driver shutdown — one
      // of the very cases this path exists for) unpersist itself throws,
      // and that secondary failure must not mask the original `t`.
      case t: Throwable =>
        try edges.unpersist() catch { case _: Throwable => () }
        if (comp != null)
          try org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(comp)
          catch { case _: Throwable => () }
        throw t
    }
  }

  /** Connected-component labels by the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * the high-diameter-robust path — O(log d) rounds against min-label
    * propagation's O(d), with the SAME join shape per round (one edge ⋈
    * per-node-min join + a map-side min aggregation).
    *
    *  - large-star: every neighbor LARGER than u is re-pointed at
    *    min(Γ(u) ∪ u) — halves the depth of tall subtrees;
    *  - small-star: edges oriented (larger, smaller); the smaller
    *    neighbors and u itself point at the minimum — flattens stars.
    *
    * Both preserve connectivity; the fixpoint is one star per component
    * centered on its minimum id. Convergence is detected EXACTLY: equal
    * edge counts plus an empty anti-join prove set equality between
    * rounds (both frames are materialized distinct sets). A hash
    * checksum here could collide and declare a still-moving graph
    * converged — shipping split components — so correctness buys one
    * cheap join over checkpointed blocks per round.
    *
    * Returns (id, comp) for every non-root node of the pair graph; roots
    * and singletons are absent (callers coalesce id). */
  private[operators] def largeStarSmallStarLabels(
      edges: DataFrame,
      maxRounds: Int = 60): DataFrame = {
    // per-round lineage truncation, same reasoning as the min-label loop:
    // each round references e several times (sym union, two min joins) —
    // kept lineage would grow the plan ~4× per round
    var e = edges.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    var eCount = e.count()
    var converged = false
    var it = 0
    while (!converged && it < maxRounds) {
      // large-star
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMins = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      val ls = sym.join(lsMins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star
      val oriented = ls
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
      val ssMins = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val next = oriented.join(ssMins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      // anti-join done — the superseded round's checkpoint blocks are now
      // unreachable; release them instead of accumulating one set per round
      org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(e)
      e = next
      eCount = nextCount
      it += 1
    }
    if (!converged) {
      // 60 log-rounds cover any physically possible diameter; landing here
      // means a logic regression, and split components must never ship —
      // but release the final round's checkpoint blocks before failing
      org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(e)
      throw new IllegalStateException(
        s"[Dedup.largeStarSmallStarLabels] not converged after $maxRounds rounds")
    }
    // fixpoint edges are (node, component-min) stars
    val stars = e.groupBy(col("u").as("id")).agg(min(col("v")).as("comp"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    org.apache.spark.sql.graftglue.PlanGlue.releaseLocalCheckpoint(e)
    stars
  }

  /** End-to-end near-dup clustering: n-gram Jaccard pairs → connected
    * components → (doc_id, cluster_id, keep) for every document, where
    * cluster_id is the min doc id of the component (self for singletons)
    * and keep marks the canonical representative. This is the actual
    * corpus-dedup decision output — downstream filters on `keep`. */
  def dedupClusters(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minJaccard: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val (pairsAll, hashCache) =
      jaccardPairsImpl(df, idCol, textCol, n, minJaccard, maxShingleDf)
    val pairs = pairsAll.select("ia", "ib").persist(StorageLevel.DISK_ONLY)
    val nodes = df.select(col(idCol).as("id"))
    // connectedComponents returns with its labels materialized lineage-free,
    // so nothing downstream references the pair pipeline anymore: drop BOTH
    // per-call caches — in a finally, so a throwing clustering (non-
    // convergence, cancelled jobs) cannot pin corpus-scale blocks either;
    // repeated dedupClusters calls must not accumulate session disk blocks
    val comp =
      try connectedComponents(pairs, nodes)
      finally { pairs.unpersist(); hashCache.unpersist() }
    comp.select(col("id").as(idCol), col("comp").as("cluster_id"),
      (col("id") === col("comp")).as("keep"))
  }

  /** SimHash with an engine-portable hash family — the cross-engine-
    * verifiable counterpart of [[simHashSignatures]] (q48), mirroring what
    * [[portableMinHashPairs]] is to [[minHashLshPairs]]: token hash
    * h = polynomial char hash mod P (the same [[graft.expressions.AsciiPolyHash]]
    * kernel as q47); bit b's vote is the parity of g² mod P with
    * g = (h + 131b + 7) mod P — the squaring is the nonlinearity that
    * decorrelates bits (an affine permutation's parity is constant across
    * b between mod-wraps: consecutive b differ by an even step, so a
    * linear family hands every token near-identical votes on all 64 bits
    * and the signature degenerates); bit b = 1 iff the vote sum is ≥ 0.
    * Output: (id, band0..band3), the 64-bit signature as 4×16-bit band
    * keys (little-endian bit order within a band) — the LSH join keys,
    * kept as 4 BIGINTs so the whole pipeline stays in ANSI-ish SQL with no
    * 64-bit sign-bit gymnastics on either engine. */
  def portableSimHashSignatures(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // one fused byte loop per document (PortableSimHashBandsKernel) — the
    // round-3 token explode + 64 SUM aggregates computed the same votes
    // but allocated a row per token and a 64-column aggregation buffer
    // per doc; signatures are now a pure codegen'd map, no shuffle. The
    // bands_ array is referenced 4× below, so it stays a materialized
    // attribute (one kernel evaluation per row).
    import org.apache.spark.sql.graftglue.ColumnGlue
    val kernel = ColumnGlue.column(graft.expressions.PortableSimHashBandsKernel(
      ColumnGlue.expression(col(textCol))))
    df.select(col(idCol).as("id"), kernel.as("bands_"))
      .select(col("id") +:
        (0 until 4).map(j => element_at(col("bands_"), j + 1).as(s"band$j")): _*)
  }

  /** Near-dup pairs over the portable SimHash: candidates share at least
    * one 16-bit band (pigeonhole-complete for Hamming distance ≤ 3),
    * verified by the exact Hamming distance across the 4 band keys. */
  def portableSimHashPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val sigs = portableSimHashSignatures(df, idCol, textCol)
    // same self-join discipline as every sibling pair generator: one
    // exchange on the join key below both renames (computed once,
    // ReusedExchange on the other side) + a forced shuffled join — the
    // aggregate-derived side's size estimate must never pick a broadcast
    // that would collect the signature stream through the driver
    val banded = sigs.select(col("id"), col("band0"), col("band1"), col("band2"), col("band3"),
        posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
          .as(Seq("band", "bkey")))
      .repartition(sigs.sparkSession.sparkContext.defaultParallelism, col("band"), col("bkey"))
    val a = banded.select(col("id").as("ia"), col("band0").as("a0"), col("band1").as("a1"),
      col("band2").as("a2"), col("band3").as("a3"), col("band"), col("bkey"))
    val b = banded.select(col("id").as("ib"), col("band0").as("b0"), col("band1").as("b1"),
      col("band2").as("b2"), col("band3").as("b3"),
      col("band").as("band2_"), col("bkey").as("bkey2"))
    a.hint("shuffle_hash")
      .join(b, col("band") === col("band2_") && col("bkey") === col("bkey2") && col("ia") < col("ib"))
      .dropDuplicates("ia", "ib")
      .withColumn("hamming",
        (0 until 4).map(j => expr(s"bit_count(a$j ^ b$j)").cast(LongType)).reduce(_ + _))
      .filter(col("hamming") <= maxHamming)
      .select("ia", "ib", "hamming")
  }

  /** SimHash signatures as (id, simhash) via the fused
    * [[graft.expressions.SimHash64Kernel]] byte loop: the whole 64-bit
    * signature is one pass over the document — no token explode, no
    * 64-column vote aggregation, no shuffle; a pure codegen'd map.
    * Bit-identical to [[simHash64]] (unit-tested); this is the scale
    * path — constant memory per row, embarrassingly partition-parallel. */
  def simHashSignatures(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val kernel = ColumnGlue.column(graft.expressions.SimHash64Kernel(
      ColumnGlue.expression(col(textCol))))
    df.select(col(idCol).as("id"), kernel.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * from 4×16-bit band equality (pigeonhole-complete for distance ≤ 3). */
  def simHashPairs(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val docs = simHashSignatures(df, idCol, textCol)
      .select(col("id"), col("simhash").as("sim"))
    // same self-join discipline as every sibling pair generator: one
    // exchange on the join key below both renames (computed once,
    // ReusedExchange on the other side) + a forced shuffled join — the
    // aggregate-derived side's size estimate must never pick a broadcast
    // that would collect the corpus-scale signature stream via the driver
    val banded = docs.select(col("id"), col("sim"),
        posexplode(expr("transform(sequence(0, 3), j -> (sim >> (j * 16)) & 65535)"))
          .as(Seq("band", "bkey")))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("band"), col("bkey"))
    val a = banded.select(col("id").as("ia"), col("sim").as("sima"), col("band"), col("bkey"))
    val b = banded.select(col("id").as("ib"), col("sim").as("simb"),
      col("band").as("band2"), col("bkey").as("bkey2"))
    a.hint("shuffle_hash")
      .join(b, col("band") === col("band2") && col("bkey") === col("bkey2") && col("ia") < col("ib"))
      .select("ia", "ib", "sima", "simb")
      .dropDuplicates("ia", "ib")
      .withColumn("hamming", expr("bit_count(sima ^ simb)").cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("ia", "ib", "sima", "simb", "hamming")
  }

  /** Substring-level duplicated-span coverage — the within/cross-document
    * form of training-data dedup (ref behavior: whole-doc dedup only; this
    * is the standard corpus-curation extension): every n-token window whose
    * content occurs at least `minOccurrences` times in the corpus marks its
    * span duplicated; overlapping spans merge; output is one row per doc
    * with (n_tokens, dup_tokens, dup_frac).
    *
    * Scale design: the join currency is (id, pos, window-hash) — 8-byte
    * xxhash64 of the window, never the window string (a 64-bit collision
    * only merges two windows' occurrence counts, perturbing coverage with
    * probability ~2^-64 — same contract as [[jaccardPairs]]). Unlike the
    * pair generators, a hot window (boilerplate duplicated in 10^6 docs)
    * is NOT quadratic here: occurrence counting is one map-side-combining
    * aggregation and the mark-back join emits exactly one row per
    * occurrence — total work stays linear in corpus token count, which is
    * why span-level dedup scales where all-pairs near-dup cannot.
    * Interval merge is a per-doc lag window (docs are bounded, so the
    * per-id sort is bounded); with fixed window length the merged
    * coverage is sum(min(n, pos - prev_pos)).
    */
  /** Every n-token window occurrence as (id, pos, g) where g is the
    * window's 64-bit content hash — the shared front of the span-dedup
    * family. */
  private def windowOccurrences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"window must span at least 2 tokens, got $n")
    val sess = df.sparkSession
    // tokens staged as an attribute (no CSE into lambda bodies) behind an
    // explicit fan-out: a compact doc table often arrives in one split and
    // the per-window slice+hash loop would otherwise run single-task
    val toks = df
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("tk"))
      .repartition(sess.sparkContext.defaultParallelism, col("id"))
    // sequence(0, -k) is DESCENDING, not empty — short docs must take the
    // empty-array branch explicitly. posexplode_outer + isNotNull on the
    // OUTPUT attribute keeps InferFiltersFromGenerate from re-inlining the
    // whole transform (token split re-run per element) into a scan filter.
    val grams = toks.select(
      col("id"),
      when(size(col("tk")) >= n,
        transform(
          sequence(lit(0), size(col("tk")) - n),
          i => xxhash64(concat_ws(" ", slice(col("tk"), i + 1, lit(n))))))
        .otherwise(array().cast("array<bigint>")).as("gh"))
    grams
      .select(col("id"), posexplode_outer(col("gh")).as(Seq("pos", "g")))
      .where(col("g").isNotNull)
  }

  /** The duplicated-window hash set of a corpus: every n-token window
    * content occurring at least `minOccurrences` times, as one 8-byte
    * hash per distinct window. This is the STATIC side of ingest-time
    * span dedup ([[removeSpansMatching]]) — precompute it over the
    * historical corpus, persist it as a table, and cut matching spans
    * out of every incoming batch, exactly as [[newContentOnly]] does for
    * whole documents at the content-hash level. */
  def duplicatedWindowHashes(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences must be >= 2, got $minOccurrences")
    windowOccurrences(corpus, idCol, textCol, n)
      .groupBy("g").agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOccurrences)
      .select("g")
  }

  /** The DISTINCT n-token window hash set of a corpus (one 8-byte hash
    * per distinct window, no occurrence threshold) — the static side for
    * cross-corpus span matching ([[Decontaminate.cutEvalSpans]] cuts
    * every training span whose window occurs ANYWHERE in the eval set,
    * where a ≥2 occurrence bar would be wrong: one benchmark occurrence
    * is already contamination). Hashing is the same declarative
    * xxhash64-of-joined-tokens as the whole span family, so sets from
    * different corpora are joinable. */
  def windowHashes(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8): DataFrame =
    windowOccurrences(df, idCol, textCol, n).select("g").distinct()

  /** Start positions (id, pos) of every n-token window occurring at least
    * `minOccurrences` times corpus-wide — the shared candidate pipeline of
    * [[duplicatedSpanStats]] and [[removeDuplicatedSpans]]. */
  private def dupWindowStarts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minOccurrences: Int): DataFrame = {
    val occurrences = windowOccurrences(df, idCol, textCol, n)
    val dup = duplicatedWindowHashes(df, idCol, textCol, n, minOccurrences)
    // duplicated windows: one partial-aggregated count per distinct hash;
    // the mark-back join reuses the same key. The shuffle_hash hint rides
    // the DUP side: it forces a shuffled join (the aggregate side's size
    // estimate must never broadcast a corpus-scale distinct-window set)
    // AND makes dup the hash-BUILD side — strictly smaller than the
    // per-occurrence stream it joins against (hinting the occurrence side
    // would build the hash map over the largest frame in the query)
    occurrences.join(dup.hint("shuffle_hash"), Seq("g")).select("id", "pos")
  }

  def duplicatedSpanStats(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      minOccurrences: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val covered = dupWindowStarts(df, idCol, textCol, n, minOccurrences)
    val w = Window.partitionBy("id").orderBy("pos")
    val perDoc = covered
      .select(col("id"),
        least(lit(n), coalesce(col("pos") - lag("pos", 1).over(w), lit(n))).as("add_cov"))
      .groupBy("id")
      .agg(sum("add_cov").cast(LongType).as("dup_tokens"))
    // doc sizes via the fused one-pass counter — cheaper than persisting
    // the token-array frame for a second branch
    val sizes = df.select(col(idCol).as("id"),
      graft.functions.TextOps.tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
    sizes.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 4)
          .as("dup_frac"))
  }

  /** Cut the duplicated spans OUT of the corpus — the curation action on
    * top of [[duplicatedSpanStats]]'s measurement (Lee et al. remove the
    * repeated substring occurrences rather than dropping whole docs):
    * output is one row per doc with the surviving text, duplicated-window
    * token ranges deleted.
    *
    * Scale design: covered positions merge into per-doc interval structs
    * FIRST (one lag window + one aggregation — intervals per doc are
    * bounded by len/n), and tokens are filtered by an index lambda against
    * that small array. The alternative — exploding each duplicated window
    * into its n member positions — multiplies the shuffle by n on heavily
    * duplicated corpora; the interval form ships each merged span as one
    * 8-byte struct regardless of length. Tokens are re-derived from the
    * text rather than persisted across the candidate pipeline: a DISK_ONLY
    * barrier on the token arrays writes more bytes than the second
    * columnar scan reads (same tradeoff as [[duplicatedSpanStats]]'s
    * fused-counter sizes branch).
    */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      minOccurrences: Int = 2): DataFrame =
    cutSpans(df, dupWindowStarts(df, idCol, textCol, n, minOccurrences),
      idCol, textCol, n)

  /** Cut spans of `docs` that match a PRECOMPUTED duplicated-window set
    * (from [[duplicatedWindowHashes]], typically over the historical
    * corpus) — the ingest-time counterpart of [[removeDuplicatedSpans]],
    * usable per micro-batch inside `foreachBatch` (the interval merge is
    * a window function, so the frame must be a batch frame; the
    * stream-legal composition is foreachBatch, same as the rest of the
    * curation family). The join is left UNHINTED on purpose: an incoming
    * micro-batch is usually small against a corpus-scale window set, and
    * Catalyst should be free to broadcast the BATCH side — forcing a
    * shuffle here would re-shuffle the static set on every batch. */
  def removeSpansMatching(
      docs: DataFrame,
      dupWindows: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8): DataFrame = {
    // select the hash column by NAME (both producers emit `g`): a
    // positional pick would silently join on the wrong values when a
    // caller's persisted window set carries extra columns ordered first —
    // matches would vanish and contaminated spans survive with no error
    require(dupWindows.columns.contains("g"),
      s"dupWindows must carry the window-hash column 'g' " +
        s"(duplicatedWindowHashes/windowHashes output); got " +
        s"[${dupWindows.columns.mkString(", ")}]")
    val covered = windowOccurrences(docs, idCol, textCol, n)
      .join(dupWindows.select(col("g")), Seq("g"))
      .select("id", "pos")
    cutSpans(docs, covered, idCol, textCol, n)
  }

  /** Cut every occurrence of a MINED repeat-string set out of the corpus
    * — the ACTION on top of [[SuffixArray.longestRepeats]]'s measurement
    * (Lee et al. 2022 remove the repeated substrings, not just report
    * them; the r14 verdict's item 3). Where [[removeDuplicatedSpans]]
    * cuts at fixed n-token window granularity, this cuts the exact
    * any-length character substrings the suffix-array miner surfaced.
    *
    * Determinism contract: repeats apply in a FIXED total order —
    * length descending, then lexicographic — each as one full
    * left-to-right non-overlapping `replace(text, rep, '')` pass
    * (identical single-pass semantics in Spark's UTF8String.replace and
    * DuckDB's replace, so a SQL oracle replays the fold verbatim).
    * Longest-first means a shorter repeat can never destroy a longer
    * one's occurrences before the longer is cut. Empty repeats are
    * rejected (an empty search string would be a no-op in Spark but is
    * engine-defined elsewhere).
    *
    * Scale shape: `reps` is MODEL-SIZED driver state (the miner's
    * ≤ topK collected rows — same currency as broadcast centroids /
    * merge tables); the cut itself is one narrow codegen'd projection
    * over the corpus, no join, no shuffle. */
  def removeRepeatStrings(
      df: DataFrame,
      reps: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(reps.forall(_.nonEmpty), "removeRepeatStrings: empty repeat string")
    require(reps.size <= 10000,
      s"removeRepeatStrings: ${reps.size} repeats exceed the model-sized guard " +
        "(mine with a bounded topK)")
    val ordered = reps.distinct.sortBy(r => (-r.length, r))
    val cleaned = ordered.foldLeft(col(textCol))((acc, r) =>
      org.apache.spark.sql.functions.replace(acc, lit(r), lit("")))
    df.select(col(idCol),
      length(col(textCol)).cast(LongType).as("n_chars"),
      length(cleaned).cast(LongType).as("kept_chars"),
      cleaned.as("clean_text"))
  }

  /** Shared tail of the span-removal family: merge covered window starts
    * into per-doc intervals and cut the spanned tokens out of the text. */
  private def cutSpans(
      df: DataFrame,
      covered: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    // merged intervals [s, e): a window starting within n of the previous
    // start overlaps-or-touches its span — same group; group id = running
    // count of gap breaks
    val grp = covered
      .select(col("id"), col("pos"),
        when(col("pos") - lag("pos", 1).over(w) <= n, lit(0)).otherwise(lit(1)).as("brk"))
      .select(col("id"), col("pos"), sum("brk").over(w).as("grp"))
    val ivs = grp.groupBy("id", "grp")
      .agg(min("pos").as("s"), (max(col("pos")) + n).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    val toks = df.select(col(idCol).as("id"), split(col(textCol), "\\s+").as("tk"))
    toks.join(ivs, Seq("id"), "left")
      .select(col("id"), col("tk"),
        coalesce(col("ivs"), array().cast("array<struct<s:int,e:int>>")).as("iv"))
      .select(col("id"), size(col("tk")).cast(LongType).as("n_tokens"),
        filter(col("tk"), (tok, i) =>
          !exists(col("iv"), v => v("s") <= i && i < v("e"))).as("kept_tk"))
      .select(col("id").as(idCol), col("n_tokens"),
        size(col("kept_tk")).cast(LongType).as("kept_tokens"),
        concat_ws(" ", col("kept_tk")).as("clean_text"))
  }
}
