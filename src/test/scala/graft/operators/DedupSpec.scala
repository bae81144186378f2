package graft.operators

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {

  test("exact dedup: canonical min-id per identical text, copy counts") {
    val s = spark
    import s.implicits._
    val df = Seq((3L, "a b c"), (1L, "a b c"), (2L, "x y z"), (7L, "a b c"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df).collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 3L, 2L -> 1L))
  }

  test("jaccardPairs: exact 3-gram jaccard on a known pair") {
    val s = spark
    import s.implicits._
    // d1 shingles {w1w2w3, w2w3w4}; d2 adds w3w4w5 -> shared 2, union 3
    val df = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4 w5"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val rows = Dedup.jaccardPairs(df, minJaccard = 0.5).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 2L, 2L)))
    assert(math.abs(r.getDouble(5) - 2.0 / 3.0) < 1e-9)
  }

  test("containmentPairs: verbatim-subset doc scores C=1.0 where jaccard is low") {
    val s = spark
    import s.implicits._
    // d1 is verbatim inside d2's long tail: containment(A→B)=1.0 but
    // jaccard = 4/13 ≈ 0.31 — the pair Jaccard@0.5 misses and containment catches
    val small = "w1 w2 w3 w4 w5 w6"                    // 4 3-gram shingles
    val big = small + " x1 x2 x3 x4 x5 x6 x7 x8 x9"    // 13 shingles, all 4 of d1's
    val df = Seq((1L, small), (2L, big), (3L, "q r s t u v")).toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(df, minJaccard = 0.5).count() === 0)
    val rows = Dedup.containmentPairs(df, minContainment = 0.9).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((1L, 2L, 4L, 4L, 13L)))
    assert(math.abs(r.getDouble(5) - 1.0) < 1e-9)            // c_ab = shared/na
    assert(math.abs(r.getDouble(6) - 4.0 / 13.0) < 1e-9)     // c_ba = shared/nb
  }

  test("removeContained: subset dropped, superset kept; equal-size dups keep min id") {
    val s = spark
    import s.implicits._
    val small = "w1 w2 w3 w4 w5 w6"
    val big = small + " x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val df = Seq(
      (1L, small), (2L, big),            // 1 ⊂ 2: drop 1, keep 2
      (3L, "q r s t u v"), (4L, "q r s t u v"), // equal near-dups: keep 3, drop 4
      (5L, "totally separate words here")       // untouched
    ).toDF("doc_id", "text")
    val kept = Dedup.removeContained(df, minContainment = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 5L))
    // below threshold nothing drops
    val all = Dedup.removeContained(df, minContainment = 1.01)
      .collect().map(_.getLong(0)).toSet
    assert(all === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("winnowingFingerprints match a brute-force reference; local-overlap guarantee holds") {
    val s = spark
    import s.implicits._
    val P = 1000000007L
    def polyhash(str: String): Long =
      str.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % P)
    def brute(text: String, n: Int = 3, w: Int = 4): Set[Long] = {
      val tk = text.split("\\s+").toSeq
      val g = if (tk.size < n) Seq.empty
        else tk.sliding(n).map(s0 => polyhash(s0.mkString(" "))).toSeq
      if (g.isEmpty) Set.empty
      else if (g.size < w) Set(g.min)
      else g.sliding(w).map(_.min).toSet
    }
    val sharedRun = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+n-1
    val texts = Seq(
      (1L, s"unrelated lead-in $sharedRun totally different tail here"),
      (2L, s"other document begins $sharedRun and then diverges wildly"),
      (3L, "no overlap with anything else in this tiny corpus at all"),
      (4L, "tiny doc"),          // < n tokens: no grams, no fingerprints
      (5L, "just four tokens here"))  // grams < w: single whole-array min
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.winnowingFingerprints(df).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    texts.foreach { case (id, t) =>
      assert(got.getOrElse(id, Set.empty) === brute(t), s"doc $id") }
    // the winnowing guarantee: a shared w+n-1 token run => >= 1 shared fp
    assert((got(1L) & got(2L)).nonEmpty, "shared 6-token run must share a fingerprint")
    val pairs = Dedup.winnowingPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) === (got(1L) & got(2L)).size.toLong)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("overlapAgainst: a short quote surfaces at near-zero Jaccard; precomputed fps identical") {
    val s = spark
    import s.implicits._
    val quote = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+n-1
    val filler = (1 to 60).map(i => s"filler$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$filler $quote"),       // long landed doc containing the quote
      (2L, "wholly unrelated landed content nothing shared at all here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, s"brand new submission that quotes $quote inside otherwise new text"),
      (101L, "completely novel incoming doc sharing nothing with the corpus")
    ).toDF("doc_id", "text")
    val hits = Dedup.overlapAgainst(corpus, incoming).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((100L, 1L)), "the quote must surface")
    assert(!hits.exists(_._1 == 101L), "novel doc must pass the gate")
    // whole-doc Jaccard of the quoting pair is tiny — q81's gate at any
    // reasonable threshold would admit it; the locality gate catches it
    val jac = Dedup.jaccardPairs(corpus.union(incoming), minJaccard = 0.0)
      .filter(col("ia") === 1L && col("ib") === 100L).collect()
    assert(jac.isEmpty || jac.head.getDouble(jac.head.fieldIndex("jaccard")) < 0.1)
    // the precompute-once contract: passing corpus fingerprints is identical
    val pre = Dedup.winnowingFingerprints(corpus)
    val viaPre = Dedup.overlapAgainst(corpus, incoming, corpusFps = Some(pre))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPre === hits)
  }

  test("editSimilarityPairs: order restored — shuffled twin scores far below the true edit copy") {
    val s = spark
    import s.implicits._
    val orig = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val edited = "alpha beta gamma delta epsilon zeta eta theta iota kappaX" // 1 char
    val shuffled = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    val df = Seq((1L, orig), (2L, edited), (3L, shuffled)).toDF("doc_id", "text")
    // all three are MinHash-candidate-equal at the token-set level (1,3
    // share the full shingle set only if shingles match — they don't;
    // force candidacy check on what banding actually yields)
    val out = Dedup.editSimilarityPairs(df, minSim = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out.contains((1L, 2L)), "one-char edit must be a candidate")
    val simEdit = out((1L, 2L))
    assert(simEdit > 0.98, s"1-char edit on ${orig.length} chars: got $simEdit")
    out.get((1L, 3L)).foreach { simShuf =>
      assert(simShuf < simEdit - 0.3,
        s"shuffled twin ($simShuf) must score far below the edit copy ($simEdit)")
    }
    // brute-force the normalized similarity for the known pair
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = BigDecimal(1.0 - lev(orig, edited).toDouble /
        math.max(orig.length, edited.length))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(simEdit === expect)
  }

  test("editSimilarityPairs: maxBandDf drops hot buckets, keeps calm ones") {
    val s = spark
    import s.implicits._
    // a 6-member identical-template family (one hot bucket per band)
    // plus one calm 2-member bucket (identical text => certain candidacy)
    val family = (1L to 6L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again"))
    val pair = Seq(
      (10L, "completely different words forming another sentence here ok"),
      (11L, "completely different words forming another sentence here ok"))
    val df = (family ++ pair).toDF("doc_id", "text")
    val uncapped = Dedup.editSimilarityPairs(df, minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((10L, 11L)))
    assert(uncapped.count(p => p._1 <= 6 && p._2 <= 6) === 15,
      "uncapped: the family contributes all 15 quadratic pairs")
    val capped = Dedup.editSimilarityPairs(df, minSim = 0.0,
        maxBandDf = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((10L, 11L)), "calm buckets survive the cap")
    assert(!capped.exists(p => p._1 <= 6 && p._2 <= 6),
      "the >cap family's buckets are dropped whole")
    intercept[IllegalArgumentException] {
      Dedup.editSimilarityPairs(df, maxBandDf = Some(1))
    }
  }

  test("sortedNeighborhoodPairs: window-complete vs brute force; far-apart keys never compared") {
    val s = spark
    import s.implicits._
    // equal-length docs sort adjacently; the long doc sorts far away
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delts"),   // near-dup of 1, same ntok
      (3L, "alpha beta gamma delta"),   // exact dup of 1
      (4L, "zz yy xx ww"),              // same ntok, different text
      (5L, (1 to 50).map(i => s"w$i").mkString(" ")) // far key: never compared
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(df, window = 4, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 3L)), "exact dup within the window")
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)),
      "near-dups with adjacent sort keys")
    assert(!got.exists { case (a, b) => a == 5L || b == 5L },
      "a doc whose key is > window positions away is never compared")
    // structural recall: at window >= corpus size this IS brute force
    val all = Dedup.sortedNeighborhoodPairs(df, window = 5, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardPairs(df, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === brute, s"full-window sorted-neighborhood must equal brute force: $all vs $brute")
  }

  test("containmentPairs equals driver-side brute-force set containment on a randomized corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(87)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (0L until 40L).map { i =>
      i -> Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    def sh(t: String): Set[String] =
      t.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = sh(ta); sb = sh(tb); shared = (sa & sb).size
      if shared > 0 && math.max(shared.toDouble / sa.size, shared.toDouble / sb.size) >= 0.6
    } yield (ia, ib, shared.toLong, sa.size.toLong, sb.size.toLong)).toSet
    val got = Dedup.containmentPairs(corpus.toDF("doc_id", "text"), minContainment = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === want)
  }

  test("exactCapped: keeps maxCopies id-ordered members; k=1 matches exact's keep set") {
    val s = spark
    import s.implicits._
    val df = Seq((3L, "a b c"), (1L, "a b c"), (7L, "a b c"), (2L, "x y z"))
      .toDF("doc_id", "text")
    val capped = Dedup.exactCapped(df, maxCopies = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(capped.toSet === Set((1L, 1L), (3L, 2L), (2L, 1L)),
      "lowest-id 2 copies survive with their ranks; 7 is cut")
    val keepOne = Dedup.exactCapped(df, maxCopies = 1)
      .collect().map(_.getLong(1)).toSet
    val exact = Dedup.exact(df).collect().map(_.getLong(1)).toSet
    assert(keepOne === exact, "k=1 must reproduce exact dedup's keep set")
  }

  test("clusterSurvivors: best score wins per cluster, ties break to min id") {
    val s = spark
    import s.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (4L, 4L), (5L, 4L),           // cluster 4
      (6L, 6L)                      // singleton
    ).toDF("doc_id", "cluster_id")
    val scored = Seq(
      1L -> 0.2, 2L -> 0.9, 3L -> 0.9, // 2 and 3 tie — min id 2 survives
      4L -> 0.5, 5L -> 0.8,
      6L -> 0.1
    ).toDF("doc_id", "quality")
    val out = Dedup.clusterSurvivors(clusters, scored).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(1L -> ((2L, 0.9)), 4L -> ((5L, 0.8)), 6L -> ((6L, 0.1))))
  }

  test("jaccardPairs: maxShingleDf prunes hot shingles from candidacy") {
    val s = spark
    import s.implicits._
    // "c c c" shingle appears in all 4 docs -> pruned at maxDf=3, so the
    // only surviving candidate link is the identical pair (1,2)
    val df = Seq(
      (1L, "a b c c c"), (2L, "a b c c c"),
      (3L, "z y c c c"), (4L, "m n c c c")).toDF("doc_id", "text")
    val all = Dedup.jaccardPairs(df, minJaccard = 0.01).collect()
    val pruned = Dedup.jaccardPairs(df, minJaccard = 0.01, maxShingleDf = Some(3)).collect()
    assert(all.length > pruned.length)
    assert(pruned.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("minHashLshPairs finds the fixture near-dups (subset of exact, high recall)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val exact = Dedup.jaccardPairs(docs, minJaccard = 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashLshPairs(docs, numHashes = 32, bands = 16, minJaccard = 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture corpus must contain planted near-dups")
    assert(mh.subsetOf(exact), "verify step guarantees candidates ⊆ exact pairs")
    assert(mh.size >= (exact.size * 0.8).toInt, s"LSH recall too low: ${mh.size}/${exact.size}")
  }

  test("jaccardPairs equals driver-side brute-force set Jaccard on a randomized corpus") {
    val s = spark
    import s.implicits._
    // small vocab forces heavy shingle sharing — the stress case for the
    // hash-currency candidate join (hot shingles, high candidate volume);
    // seeded so the property is a deterministic regression gate
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val corpus = (1L to 60L).map { id =>
      val len = 3 + rnd.nextInt(10)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Dedup.jaccardPairs(corpus.toDF("doc_id", "text"), n = 3, minJaccard = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val sets = corpus.map { case (id, t) =>
      val tk = t.split("\\s+", -1).toSeq
      id -> (if (tk.size >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String])
    }.toMap
    val expect = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      shared = sa.intersect(sb).size if shared > 0
      j = shared.toDouble / (sa.size + sb.size - shared) if j >= 0.3
    } yield (ia, ib) -> ((shared.toLong, sa.size.toLong, sb.size.toLong, j))).toMap
    assert(expect.nonEmpty, "the corpus must exercise the threshold")
    assert(got.keySet === expect.keySet)
    expect.foreach { case (k, (sh, na, nb, j)) =>
      val (gs, gna, gnb, gj) = got(k)
      assert(gs === sh && gna === na && gnb === nb, s"pair $k counters")
      assert(math.abs(gj - j) < 1e-12, s"pair $k jaccard")
    }
  }

  test("LSH geometry property: r=4 candidacy is nested inside r=2 (candidate volume shrinks)") {
    val docs = Tables.load(spark, sfDir, "documents")
    // bands=16 (r=2) is q38's explicit permissive recall choice; bands=8
    // (r=4) is the library default. An r=4 band is the concatenation of
    // two r=2 bands, so an r=4 collision implies both r=2 collisions:
    // candidates must be a subset and the candidate stream — the quantity
    // that scales quadratically under a permissive geometry — no larger.
    val loose = Dedup.minHashCandidates(docs, "doc_id", "text", 3, 32, 16)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = Dedup.minHashCandidates(docs, "doc_id", "text", 3, 32, 8)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(loose), "r=4 candidacy must nest inside r=2")
    assert(loose.nonEmpty, "fixture corpus must produce candidates")
  }

  test("connectedComponents: chain, triangle, and singleton resolve to min labels") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    // triangle 10-11-12, singleton 20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("ia", "ib")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    // default threshold routes this tiny graph to the union-find path;
    // localEdgeThreshold = 0 forces the distributed propagation — both
    // must land on the identical fixpoint
    for (thr <- Seq(1L << 20, 0L)) {
      val comp = Dedup.connectedComponents(pairs, nodes, localEdgeThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp === expected, s"localEdgeThreshold=$thr")
    }
  }

  test("connectedComponents: 300-node chain exceeds maxIters and converges via large-star/small-star") {
    val s = spark
    import s.implicits._
    // diameter 299 ≫ maxIters=5: min-label propagation cannot close this,
    // the O(log d) fallback must
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("ia", "ib")
    val nodes = (1L to 300L).toDF("id")
    val comp = Dedup.connectedComponents(pairs, nodes, maxIters = 5, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 300)
    assert(comp.values.forall(_ == 1L), "chain must collapse to the minimum id")
  }

  test("large-star/small-star labels equal min-label propagation on a random graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val n = 120
    val edges = (1 to 150)
      .map(_ => (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      .filter(p => p._1 != p._2)
    val pairs = edges.toDF("ia", "ib")
    val nodes = (1L to n.toLong).toDF("id")
    val viaMinLabel = Dedup.connectedComponents(pairs, nodes, maxIters = 50, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFallback = Dedup.connectedComponents(pairs, nodes, maxIters = 1, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback === viaMinLabel)
    val viaUnionFind = Dedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUnionFind === viaMinLabel,
      "the adaptive union-find path must reproduce the distributed fixpoint")
  }

  test("large-star/small-star matches union-find across graph shapes and seeds") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      // chain + star + random edges: mixes the diameters and fan-outs the
      // two star operations treat differently
      val edges = ((1L until 20L).map(i => (i, i + 1)) ++
        (22L until 30L).map(i => (21L, i)) ++
        (1 to 40).map(_ => (rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))).filter(p => p._1 != p._2)
      // union-find truth with union-by-min, so every root IS its component min
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val ra = find(a.toInt); val rb = find(b.toInt)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = Dedup.largeStarSmallStarLabels(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1 to n).foreach { i =>
        assert(labels.getOrElse(i.toLong, i.toLong) === find(i).toLong,
          s"seed $seed node $i")
      }
    }
  }

  test("dedupClusters: fixture near-dup pairs collapse to clusters, canonical keep flags") {
    val docs = Tables.load(spark, sfDir, "documents")
    val pairs = Dedup.jaccardPairs(docs, minJaccard = 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1)))
    val out = Dedup.dedupClusters(docs, minJaccard = 0.4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size === docs.count())
    // every paired doc shares its cluster with its partner; canonical = min
    pairs.foreach { case (a, b) =>
      assert(out(a)._1 === out(b)._1, s"pair ($a,$b) must share a cluster")
      assert(out(a)._1 <= math.min(a, b), "cluster id is the component minimum")
    }
    // keep flag marks exactly the cluster representative
    out.foreach { case (id, (cid, keep)) => assert(keep === (id == cid)) }
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    out.filterNot { case (id, _) => clustered(id) }.foreach { case (id, (cid, keep)) =>
      assert(cid === id && keep, "singletons keep themselves")
    }
  }

  test("AsciiPolyHash kernel equals the declarative char fold on the corpus") {
    val docs = Tables.load(spark, sfDir, "documents").limit(100)
    import org.apache.spark.sql.graftglue.ColumnGlue
    val out = docs.select(
        ColumnGlue.column(graft.expressions.AsciiPolyHash(
          ColumnGlue.expression(col("text")))).as("native"),
        expr("aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)), " +
          "0L, (h, v) -> pmod(h * 31 + v, 1000000007L))").as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("portableMinHashPairs equals the xxhash64 variant's verified pair set on the fixture") {
    val docs = Tables.load(spark, sfDir, "documents")
    val fast = Dedup.minHashLshPairs(docs, numHashes = 32, bands = 16, minJaccard = 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val portable = Dedup.portableMinHashPairs(docs, minJaccard = 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(portable.nonEmpty)
    // both are exact-Jaccard-verified subsets of the same truth; on the
    // planted fixture both families reach full recall
    assert(portable === fast)
  }

  test("CC releases each round's checkpoint blocks (no accumulation across rounds)") {
    val s = spark
    import s.implicits._
    // chain 1-2-...-12: diameter 11 forces ~11 min-label rounds, each with
    // its own localCheckpoint — an unreleased round would leave one
    // persistent RDD per round for the session lifetime
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("ia", "ib")
    val nodes = (1L to 12L).toDF("id")
    val before = s.sparkContext.getPersistentRDDs.size
    val out = Dedup.connectedComponents(pairs, nodes, localEdgeThreshold = 0L).collect()
    assert(out.length === 12 && out.forall(_.getLong(1) === 1L))
    val after = s.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"per-round checkpoint blocks accumulated: $before -> $after (only the " +
        "final label frame may remain — the lazy result still references it)")
  }

  test("simHashSignatures (codegen agg path) is bit-identical to simHash64 (lambda path)") {
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    val lambda = docs.select(col("doc_id").as("id"), Dedup.simHash64("text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simHashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg === lambda)
  }

  test("portableSimHash: band keys are 16-bit, pairs found by Hamming verify") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val oneOff = ((1 to 39).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val other = (100 to 140).map(i => s"zz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, oneOff), (4L, other)).toDF("doc_id", "text")

    val sigs = Dedup.portableSimHashSignatures(df).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    sigs.values.foreach(bands =>
      bands.foreach(b => assert(b >= 0 && b <= 65535, "band keys must be 16-bit")))
    assert(sigs(1L) === sigs(2L), "identical text -> identical signature")

    def hamming(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(hamming(sigs(1L), sigs(3L)) <= 16, "one-token change stays close")
    assert(hamming(sigs(1L), sigs(4L)) > 16, "unrelated text is far")

    val pairs = Dedup.portableSimHashPairs(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet.contains((1L, 2L)), "identical pair must band-collide (pigeonhole)")
    assert(pairs((1L, 2L)) === 0L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("signature kernels equal the declarative forms on whitespace edge cases") {
    val s = spark
    import s.implicits._
    // leading/trailing/multiple whitespace exercise the split-with-limit(-1)
    // token contract (empty boundary tokens); tabs/newlines the \s class
    val df = Seq(
      (1L, "a b c d"), (2L, " a b c d "), (3L, "a\tb\nc d"),
      (4L, "x  y   z w"), (5L, ""), (6L, " "), (7L, "a b"),
      (8L, "w1 w2 w3 w4 w5 w1 w2 w3")).toDF("doc_id", "text")

    // SimHash kernel vs the per-row lambda expression
    df.select(Dedup.simHash64("text").as("l"),
        {
          import org.apache.spark.sql.graftglue.ColumnGlue
          ColumnGlue.column(graft.expressions.SimHash64Kernel(
            ColumnGlue.expression(col("text")))).as("k")
        })
      .collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))

    // MinHash kernel vs array_min over the declarative shingle set
    val withSh = df.select(col("doc_id"), col("text"),
        graft.functions.TextOps.shingles(col("text"), 3).as("sh"))
      .filter(size(split(col("text"), "\\s+")) >= 3)
    val declared = withSh.select(col("doc_id"),
        array((0 until 8).map(i =>
          expr(s"array_min(transform(sh, s -> xxhash64(s, $i)))")): _*).as("dsig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kerneled = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      df.select(col("doc_id"), ColumnGlue.column(graft.expressions.MinHashSigKernel(
          ColumnGlue.expression(col("text")), 3, 8, portable = false)).as("sig"))
        .filter(col("sig").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(kerneled.keySet === declared.keySet, "short docs drop identically")
    declared.foreach { case (id, sig) => assert(kerneled(id) === sig, s"doc $id") }

    // portable MinHash kernel vs the declarative poly-hash permutation mins
    val P = 1000000007L
    val declaredP = withSh.select(col("doc_id"),
        array((0 until 8).map(i =>
          expr(s"""array_min(transform(sh, s ->
             (aggregate(transform(split(s, ''), c -> cast(ascii(c) as bigint)),
               0L, (h, v) -> pmod(h * 31 + v, ${P}L)) * ${2 * i + 3} + ${1000 * i + 7}) % ${P}L))""")): _*)
          .as("dsig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kerneledP = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      df.select(col("doc_id"), ColumnGlue.column(graft.expressions.MinHashSigKernel(
          ColumnGlue.expression(col("text")), 3, 8, portable = true)).as("sig"))
        .filter(col("sig").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(kerneledP.keySet === declaredP.keySet)
    declaredP.foreach { case (id, sig) => assert(kerneledP(id) === sig, s"doc $id") }
  }

  test("shingleHashes kernel is bit-equal to xxhash64 over the declarative shingle set") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, " a b c d "), (3L, "a\tb\nc d"),
      (4L, "x  y   z w"), (5L, ""), (6L, " "), (7L, "a b"),
      (8L, "w1 w2 w3 w4 w5 w1 w2 w3")).toDF("doc_id", "text")
    // declarative: distinct shingle strings -> xxhash64 each (order kept)
    val declared = df.select(col("doc_id"),
        expr("transform(" +
          "CASE WHEN size(split(text, '\\\\s+')) >= 3 THEN array_distinct(" +
          "  transform(sequence(1, size(split(text, '\\\\s+')) - 2)," +
          "    i -> concat_ws(' ', slice(split(text, '\\\\s+'), i, 3))))" +
          "ELSE array() END, s -> xxhash64(s))").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kerneled = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      df.select(col("doc_id"), ColumnGlue.column(graft.expressions.ShingleHashesKernel(
          ColumnGlue.expression(col("text")), 3)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(kerneled === declared)
  }

  test("jaccardShingles kernel is bit-equal to the declarative array_intersect form") {
    val s = spark
    import s.implicits._
    // multi-space, leading/trailing whitespace, tabs/newlines, duplicate
    // shingles, short and empty docs — the full split-with-limit(-1) edge set
    val texts = Seq(
      "a b c d", " a b c d ", "a\tb\nc d", "x  y   z w", "", " ", "a b",
      "w1 w2 w3 w4 w5 w1 w2 w3", "a b c a b c a b c", "q r s t")
    val pairsIn = for { (ta, i) <- texts.zipWithIndex; (tb, j) <- texts.zipWithIndex }
      yield (i.toLong, j.toLong, ta, tb)
    val df = pairsIn.toDF("i", "j", "ta", "tb")
    val declared = df.select(col("i"), col("j"),
        graft.functions.TextOps.shingles(col("ta"), 3).as("sa"),
        graft.functions.TextOps.shingles(col("tb"), 3).as("sb"))
      .select(col("i"), col("j"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("shared"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val kerneled = {
      import org.apache.spark.sql.graftglue.ColumnGlue
      df.select(col("i"), col("j"),
          ColumnGlue.column(graft.expressions.JaccardShinglesKernel(
            ColumnGlue.expression(col("ta")), ColumnGlue.expression(col("tb")), 3)).as("jc"))
        .collect()
        .map { r => val a = r.getSeq[Long](2); (r.getLong(0), r.getLong(1)) -> ((a(0), a(1), a(2))) }
        .toMap
    }
    assert(kerneled === declared)
  }

  test("simHash: identical docs collide, near-identical docs land within small hamming") {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val oneOff = ((1 to 29).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val other = (100 to 130).map(i => s"zz$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, oneOff), (4L, other)).toDF("doc_id", "text")

    val sigs = df.select(col("doc_id"), Dedup.simHash64("text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L), "identical text -> identical simhash")
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 16,
      "one-token change stays within small hamming distance")
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 16,
      "unrelated text is far in hamming space")

    val pairs = Dedup.simHashPairs(df, maxHamming = 16)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("duplicatedSpanStats: hand-computed coverage incl. overlap merge and within-doc repeat") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // doc 0 windows pos {0,1,2} all occur in doc 5 too -> merged coverage
      // 8 + 1 + 1 = 10 of 10 tokens
      (0L, "a b c d e f g h i j"),
      // doc 1 shares only window "a b c d e f g h" (its pos 2) -> 8 of 11
      (1L, "x x a b c d e f g h z"),
      // unique content, no duplicated window
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      // shorter than the window: no candidacy, still one output row
      (3L, "s1 s2 s3"),
      // WITHIN-doc repeat: "p q r s t u v w" at pos 0 and 8 -> 8 + 8 = 16
      (4L, "p q r s t u v w p q r s t u v w"),
      // superstring of doc 0: dup windows pos {0,1,2} -> 10 of 11
      (5L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(df, n = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      0L -> ((10L, 10L, 1.0)),
      1L -> ((11L, 8L, 0.7273)),
      2L -> ((9L, 0L, 0.0)),
      3L -> ((3L, 0L, 0.0)),
      4L -> ((16L, 16L, 1.0)),
      5L -> ((11L, 10L, 0.9091))))
  }

  test("duplicatedSpanStats: minOccurrences raises the duplication bar") {
    val s = spark
    import s.implicits._
    // the window occurs twice -> flagged at minOccurrences=2, clean at 3
    val df = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text")
    def fracs(minOcc: Int) =
      Dedup.duplicatedSpanStats(df, n = 8, minOccurrences = minOcc).collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(fracs(2) === Map(0L -> 1.0, 1L -> 1.0, 2L -> 0.0))
    assert(fracs(3) === Map(0L -> 0.0, 1L -> 0.0, 2L -> 0.0))
  }

  test("removeDuplicatedSpans: surviving text hand-computed on the stats fixture") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x a b c d e f g h z"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (3L, "s1 s2 s3"),
      (4L, "p q r s t u v w p q r s t u v w"),
      (5L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(df, n = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out === Map(
      0L -> ((0L, "")),                       // fully covered
      1L -> ((3L, "x x z")),                  // span [2,10) cut, flanks survive
      2L -> ((9L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")),
      3L -> ((3L, "s1 s2 s3")),               // shorter than the window
      4L -> ((0L, "")),                       // within-doc repeat covers all
      5L -> ((1L, "k"))))                     // merged overlap [0,10) cut
  }

  test("removeDuplicatedSpans agrees with duplicatedSpanStats: kept = n_tokens - dup") {
    val docs = Tables.load(spark, sfDir, "documents")
    val stats = Dedup.duplicatedSpanStats(docs, n = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val removed = Dedup.removeDuplicatedSpans(docs, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(removed.keySet === stats.keySet)
    removed.foreach { case (id, kept) =>
      val (nt, dup) = stats(id)
      assert(kept === nt - dup, s"doc $id: kept $kept != $nt - $dup")
    }
    assert(stats.exists(_._2._2 > 0L), "fixture must contain duplicated spans")
  }

  test("removeSpansMatching(corpus, duplicatedWindowHashes(corpus)) == removeDuplicatedSpans") {
    val docs = Tables.load(spark, sfDir, "documents")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val oneShot = keyed(Dedup.removeDuplicatedSpans(docs, n = 8))
    val staged = keyed(Dedup.removeSpansMatching(docs,
      Dedup.duplicatedWindowHashes(docs, n = 8), n = 8))
    assert(staged === oneShot,
      "the precomputed-window path must reproduce the one-shot removal")
  }

  test("removeSpansMatching selects the hash column by name, never position") {
    val docs = Tables.load(spark, sfDir, "documents")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val windows = Dedup.duplicatedWindowHashes(docs, n = 8)
    // a persisted window set often carries audit columns ordered FIRST;
    // a positional pick would join on the audit column and silently let
    // every duplicated span survive
    val withAudit = windows
      .select(org.apache.spark.sql.functions.lit("corpus-v1").as("snapshot"),
        org.apache.spark.sql.functions.col("g"))
    assert(keyed(Dedup.removeSpansMatching(docs, withAudit, n = 8)) ===
      keyed(Dedup.removeSpansMatching(docs, windows, n = 8)))
    val noHash = windows.withColumnRenamed("g", "window_hash")
    val e = intercept[IllegalArgumentException](
      Dedup.removeSpansMatching(docs, noHash, n = 8))
    assert(e.getMessage.contains("'g'"), "missing hash column must fail fast, by name")
  }

  test("nearDupAgainst equals the self-join pipeline restricted to cross pairs") {
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val incoming = d.filter(col("doc_id") % 5 === 0)
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    // banding is per-doc, so banding all docs together and keeping only
    // cross-split bucket collisions must equal banding each side alone
    val self = Dedup.portableMinHashPairs(d, minJaccard = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .collect {
        case (a, b, sh, j) if a % 5 == 0 && b % 5 != 0 => (a, b, sh, j)
        case (a, b, sh, j) if b % 5 == 0 && a % 5 != 0 => (b, a, sh, j)
      }.toSet
    val cross = Dedup.nearDupAgainst(corpus, incoming, minJaccard = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(cross === self)
  }

  test("nearDupAgainst: precomputed corpus bands give identical output") {
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val incoming = d.filter(col("doc_id") % 5 === 0)
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val pre = Dedup.minHashBandsPortable(corpus)
    val a = Dedup.nearDupAgainst(corpus, incoming, minJaccard = 0.4)
      .collect().map(_.toSeq).toSet
    val b = Dedup.nearDupAgainst(corpus, incoming, minJaccard = 0.4,
        corpusBands = Some(pre))
      .collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("newContentOnlyNear drops exact dups, near dups, and nothing else") {
    val d = graft.core.Tables.load(spark, sfDir, "documents")
    val incoming = d.filter(col("doc_id") % 5 === 0)
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val nearFlagged = Dedup.nearDupAgainst(corpus, incoming, minJaccard = 0.4)
      .select("in_id").distinct().collect().map(_.getLong(0)).toSet
    val exactDups = incoming.select("doc_id").collect().map(_.getLong(0)).toSet --
      Dedup.newContentOnly(incoming, corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.newContentOnlyNear(incoming, corpus, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = incoming.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- nearFlagged -- exactDups)
    assert(nearFlagged.nonEmpty, "fixture must exercise the gate (near-dups exist)")
  }

  test("newContentOnlyNear catches exact dups SHORTER than the shingle width") {
    val s2 = spark; import s2.implicits._
    // "hi there" has < 3 tokens: no shingles, no bands, invisible to the
    // near path — the composed sha gate must still drop the exact copy
    val corpus = Seq((1L, "hi there"), (2L, "a long corpus document with many tokens"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, "hi there"), (11L, "ok"), (12L, "novel words"))
      .toDF("doc_id", "text")
    val kept = Dedup.newContentOnlyNear(incoming, corpus, minJaccard = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 12L), "byte-identical short doc must not pass the gate")
  }

  test("dedupAccounting: cross-slice duplicate charges the copy's source") {
    val s2 = spark; import s2.implicits._
    // d2 duplicates d1 but lives in source B: global canonical keeps d1,
    // so the removal lands on B — the cross-slice row the report is for
    val df = Seq(
      (1L, "A", "w1 w2 w3 w4 w5"),
      (2L, "B", "w1 w2 w3 w4 w5"),
      (3L, "B", "q r s t u v"))
      .toDF("doc_id", "source", "text")
    val rows = Dedup.dedupAccounting(df, minJaccard = 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows === Array(
      ("A", 1L, 0L, 5L, 0L, 0.0),
      ("B", 2L, 1L, 11L, 5L, 0.4545)))
  }

  test("dedupAccounting: precomputed clusters frame is joined, not re-derived") {
    val s2 = spark; import s2.implicits._
    val df = Seq(
      (1L, "A", "w1 w2 w3 w4 w5"),
      (2L, "B", "w1 w2 w3 w4 w5"),
      (3L, "B", "q r s t u v"))
      .toDF("doc_id", "source", "text")
    val clusters = Dedup.dedupClusters(df, minJaccard = 0.9)
    val acct = Dedup.dedupAccounting(df, minJaccard = 0.9,
      clusters = Some(clusters))
    // same numbers as the inline path…
    val rows = acct.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(rows === Array(
      ("A", 1L, 0L, 5L, 0L, 0.0),
      ("B", 2L, 1L, 11L, 5L, 0.4545)))
    // …and the accounting plan must consume the lineage-truncated cluster
    // labels: no shingle generator / pair self-join anywhere in it. The
    // shared frame plans (and ran) once, upstream of this call.
    val plan = acct.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"cluster pipeline must not be re-derived (shingle explode found)")
    assert(!plan.contains("sorted_long_intersect"),
      s"cluster pipeline must not be re-derived (pair verify kernel found)")
  }

  test("noveltyGate: stitched-from-fragments doc is rejected, fresh doc admitted") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    // doc 10 stitches fragments of BOTH corpus docs: jaccard to each is
    // low (2/7 with shingle sets of 3+3... per-pair << 0.5) but aggregate
    // novelty is low too — 4 of its 6 shingles exist in the corpus union.
    // doc 11 is entirely fresh.
    val incoming = Seq(
      (10L, "w1 w2 w3 w4 x1 x2 x3 x4"),
      (11L, "f1 f2 f3 f4 f5"))
      .toDF("doc_id", "text")
    val rows = Dedup.noveltyGate(corpus, incoming, minNovelty = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
    // doc 10 shingles: w1w2w3 w2w3w4 (seen) w3w4x1 w4x1x2 (novel bridges)
    // x1x2x3 x2x3x4 (seen) -> 2/6 novelty, rejected
    assert(rows(0) === ((10L, 6L, 2L, 0.3333, false)))
    assert(rows(1) === ((11L, 3L, 3L, 1.0, true)))
    // and the pairwise fuzzy gate would NOT have caught doc 10: its
    // jaccard to each single corpus doc is 2/(6+3-2) ≈ 0.29 < 0.4
    val pairJac = Dedup.jaccardPairs(corpus.union(incoming), minJaccard = 0.4)
      .filter(col("ib") >= 10L).count()
    assert(pairJac === 0L, "per-pair jaccard must miss the stitched doc")
  }

  test("noveltyGate: precomputed corpus hashes give identical output; streaming composes") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val pre = Dedup.corpusShingles(corpus)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    pre.count()
    val incoming = Seq((10L, "w1 w2 w3 y z"), (11L, "a b c")).toDF("doc_id", "text")
    val direct = Dedup.noveltyGate(corpus, incoming)
      .collect().map(_.toSeq).toSet
    val viaPre = Dedup.noveltyGate(corpus, incoming, corpusHashes = Some(pre))
      .collect().map(_.toSeq).toSet
    assert(direct === viaPre)
    // per-micro-batch ≡ batch: each doc's score depends only on itself +
    // the static corpus frame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, String)](s2)
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Set[Seq[Any]]]()
    val q = ms.toDS().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        got.put(id, Dedup.noveltyGate(corpus, batch, corpusHashes = Some(pre))
          .collect().map(_.toSeq).toSet)
        ()
      }
      .start()
    try {
      ms.addData((10L, "w1 w2 w3 y z")); q.processAllAvailable()
      ms.addData((11L, "a b c")); q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.values.reduce(_ ++ _) === direct)
    pre.unpersist()
  }

  test("noveltyGate equals driver-side set arithmetic on randomized corpora") {
    val s2 = spark; import s2.implicits._
    def shingles(t: String): Set[String] =
      t.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    for (seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e")
      def doc(): String =
        Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 25L).map(i => i -> doc())
      val incoming = (100L until 115L).map(i => i -> doc())
      val union = corpus.flatMap(d => shingles(d._2)).toSet
      val want = incoming.flatMap { case (id, t) =>
        val sh = shingles(t)
        if (sh.isEmpty) None
        else Some((id, sh.size.toLong, (sh -- union).size.toLong))
      }.toSet
      val got = Dedup.noveltyGate(
          corpus.toDF("doc_id", "text"), incoming.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"seed=$seed")
    }
  }

  test("noveltyPerDoc: first doc all-novel, exact copy zero-novel, overlap partial") {
    val s2 = spark; import s2.implicits._
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5"),      // 3 shingles, all first here
      (2L, "w1 w2 w3 w4 w5"),      // exact copy: 0 novel
      (3L, "w3 w4 w5 w6"))         // shingles {w3w4w5, w4w5w6}: 1 novel
      .toDF("doc_id", "text")
    val rows = Dedup.noveltyPerDoc(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows === Array((1L, 3L, 3L, 1.0), (2L, 3L, 0L, 0.0), (3L, 2L, 1L, 0.5)))
  }

  test("noveltyPerDoc: sub-shingle-width docs are absent, not zero-row'd") {
    val s2 = spark; import s2.implicits._
    val df = Seq((1L, "a b c d"), (2L, "hi")).toDF("doc_id", "text")
    val ids = Dedup.noveltyPerDoc(df).collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  test("minHashCalibration: identical docs estimate 1.0 exactly; est is k/8") {
    val s2 = spark; import s2.implicits._
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "w1 w2 w3 w4 x y"))
      .toDF("doc_id", "text")
    val rows = Dedup.minHashCalibration(df).collect()
    val ids = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)), "identical docs must band together")
    val dup = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(dup.getDouble(2) === 1.0 && dup.getDouble(3) === 1.0 && dup.getDouble(4) === 0.0)
    rows.foreach { r =>
      val est = r.getDouble(2)
      assert((est * 8).isWhole, s"est $est must be an exact multiple of 1/8")
      assert(math.abs(r.getDouble(4) - BigDecimal(math.abs(est - r.getDouble(3)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("minHashCalibration: candidates equal the portable pair pipeline's at j>=0") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cal = Dedup.minHashCalibration(docs)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = Dedup.portableMinHashPairs(docs, minJaccard = 0.0)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cal === pairs, "calibration must audit exactly the production candidacy")
    assert(cal.nonEmpty)
  }

  /** Entries in the session's `CacheManager`; the count is `private[sql]`
    * in Scala but a public JVM method, so it is read reflectively. */
  private def cacheEntries(): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("minHashCalibration persists nothing that outlives its action") {
    val docs = Tables.load(spark, sfDir, "documents")
    // an identical plan cached by an earlier test would absorb a new persist
    spark.catalog.clearCache()
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val cache0 = cacheEntries()
    assert(Dedup.minHashCalibration(docs).count() > 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
    assert(cacheEntries() === cache0, "CacheManager entries left behind")
  }

  test("minHashCalibration starts no more Spark jobs than the portable pair pipeline at j>=0") {
    val docs = Tables.load(spark, sfDir, "documents")
    val cal = jobsStarted(Dedup.minHashCalibration(docs).write.format("noop").mode("overwrite").save())
    val pairs = jobsStarted(
      Dedup.portableMinHashPairs(docs, minJaccard = 0.0).write.format("noop").mode("overwrite").save())
    assert(pairs > 0)
    assert(cal <= pairs, s"calibration ran $cal jobs, the pair pipeline $pairs")
  }

  test("the LSH verify plans evaluate jaccard_shingles once per candidate pair") {
    def kernels(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.map(_.expressions.map(_.collect {
        case k: graft.expressions.JaccardShinglesKernel => k
      }.size).sum).sum
    val docs = Tables.load(spark, sfDir, "documents")
    assert(kernels(Dedup.portableMinHashPairs(docs, minJaccard = 0.4)) === 1)
    assert(kernels(Dedup.minHashCalibration(docs)) === 1)
    assert(kernels(Dedup.minHashLshPairs(docs, numHashes = 32, bands = 16, minJaccard = 0.4)) === 1)
    assert(kernels(Dedup.nearDupAgainst(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), minJaccard = 0.4)) === 1)
  }

  test("prefixFilterPairs: exact jaccard on a known pair, no spurious pairs") {
    val s2 = spark; import s2.implicits._
    val df = Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4 w5"), (3L, "q r s t"))
      .toDF("doc_id", "text")
    val rows = Dedup.prefixFilterPairs(df, minJaccard = 0.5).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 2L, 2L)))
    assert(math.abs(r.getDouble(5) - 2.0 / 3.0) < 1e-9)
  }

  test("prefixFilterPairs == jaccardPairs on the fixture corpus across thresholds") {
    // recall-1 is the prefix-filtering theorem; this pins it empirically
    // against the unpruned exact path at a permissive and a strict t
    val docs = Tables.load(spark, sfDir, "documents")
    for (t <- Seq(0.3, 0.6); byDf <- Seq(false, true)) {
      val a = Dedup.jaccardPairs(docs, minJaccard = t)
        .select("ia", "ib", "shared", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val b = Dedup.prefixFilterPairs(docs, minJaccard = t, dfOrder = byDf)
        .select("ia", "ib", "shared", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(a === b, s"prefix-filtered pairs diverged from exact at t=$t dfOrder=$byDf")
      assert(a.nonEmpty, s"vacuous equivalence at t=$t — fixture produced no pairs")
    }
  }

  test("prefixFilterPairs: exactly-at-threshold pair survives the IEEE ceil overshoot") {
    val s2 = spark; import s2.implicits._
    // B's 55 shingles all inside A's 100: J = 55/100 = 0.55 == t exactly.
    // 0.55*100 = 55.000000000000007 in IEEE double — an unguarded
    // ceil(t*na) filter (nb >= 56) would silently drop the pair.
    val a = (1 to 102).map(i => s"w$i").mkString(" ")   // 100 shingles
    val b = (1 to 57).map(i => s"w$i").mkString(" ")    //  55 shingles
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    for (byDf <- Seq(false, true)) {
      val rows = Dedup.prefixFilterPairs(df, minJaccard = 0.55, dfOrder = byDf).collect()
      assert(rows.length === 1, s"dfOrder=$byDf: threshold pair must survive")
      assert((rows.head.getLong(2), rows.head.getLong(3), rows.head.getLong(4)) ===
        ((55L, 100L, 55L)))
      assert(rows.head.getDouble(5) === 0.55)
    }
  }

  test("prefixFilterPairs equals jaccardPairs on randomized corpora, both orders") {
    val s2 = spark; import s2.implicits._
    // the recall-1 theorem, empirically: random small-vocab corpora make
    // shingle collisions across docs dense, stressing prefix boundaries
    for (seed <- Seq(11, 23); t <- Seq(0.25, 0.55, 0.85)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d")
      val df = (0L until 30L).map { i =>
        i -> Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }.toDF("doc_id", "text")
      val exact = Dedup.jaccardPairs(df, minJaccard = t)
        .select("ia", "ib", "shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      for (byDf <- Seq(false, true)) {
        val got = Dedup.prefixFilterPairs(df, minJaccard = t, dfOrder = byDf)
          .select("ia", "ib", "shared").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === exact, s"seed=$seed t=$t dfOrder=$byDf")
      }
    }
  }

  test("prefixFilterPairs: identical docs and sub-shingle-width docs behave") {
    val s2 = spark; import s2.implicits._
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "hi"), (4L, "hi"))
      .toDF("doc_id", "text")
    // identical docs: one pair at J=1.0; docs shorter than the shingle
    // width have empty sets (J undefined) and must emit nothing
    val rows = Dedup.prefixFilterPairs(df, minJaccard = 0.9).collect()
    assert(rows.length === 1)
    assert((rows.head.getLong(0), rows.head.getLong(1)) === ((1L, 2L)))
    assert(rows.head.getDouble(5) === 1.0)
  }

  test("crossSliceOverlap: hand-computed matrix; within-slice dups collapse; disjoint pairs absent") {
    val s2 = spark; import s2.implicits._
    val df = Seq(
      ("x", "A"), ("y", "A"), ("z", "A"),
      ("x", "B"), ("y", "B"),        // B shares x,y with A
      ("x", "B"),                    // within-slice dup: counts once
      ("y", "C"),                    // C shares y with A and B
      ("q", "D")                     // D disjoint from everyone
    ).toDF("text", "source")
    val got = Dedup.crossSliceOverlap(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(("A", "B")) === ((2L, 3L, 2L, round4(2.0 / 3))),
      "A∩B = {x,y}; the duplicate x in B counts once")
    assert(got(("A", "C")) === ((1L, 3L, 1L, round4(1.0 / 3))))
    assert(got(("B", "C")) === ((1L, 2L, 1L, 0.5)))
    assert(got.size === 3, "disjoint pairs emit nothing — absence IS the zero")
  }

  test("removeRepeatStrings: longest-first fold, all occurrences cut, clean docs untouched") {
    val s2 = spark; import s2.implicits._
    val df = Seq(
      (1L, "AA the long repeated boilerplate block BB the long CC"),
      (2L, "the long repeated boilerplate block twice: the long repeated boilerplate block"),
      (3L, "nothing shared here")
    ).toDF("doc_id", "text")
    // "the long" is a substring of the longer repeat: longest-first means
    // the full block is cut before the short one can break it apart
    val out = Dedup.removeRepeatStrings(df,
        Seq("the long", "the long repeated boilerplate block"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((53L, 10L, "AA  BB  CC")),
      s"doc 1: long block cut, then short repeat cut, got ${out(1L)}")
    assert(out(2L)._3 === " twice: ", "both occurrences of the block cut")
    assert(out(3L) === ((19L, 19L, "nothing shared here")), "clean doc untouched")
    // determinism: input order of reps must not matter (internal total order)
    val flipped = Dedup.removeRepeatStrings(df,
        Seq("the long repeated boilerplate block", "the long"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(flipped === out.view.mapValues(_._3).toMap)
  }

  test("removeRepeatStrings: empty repeat and oversized set fail loud") {
    val s2 = spark; import s2.implicits._
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.removeRepeatStrings(df, Seq(""))
    }
    intercept[IllegalArgumentException] {
      Dedup.removeRepeatStrings(df, (0 until 10001).map(i => s"r$i"))
    }
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
