package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Dedup-family semantics: exact grouping, MinHash estimate quality
  * vs exact Jaccard, SimHash locality, candidate recall on planted
  * near-duplicates.
  */
class DedupSpec extends SparkSpecBase {

  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"

  // base, a near-duplicate (one token changed), and two unrelated docs
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("warm", "cold")),
    (3L, "completely different content about spark query engines and distributed shuffles at scale"),
    (4L, "yet another unrelated document mentioning embeddings vectors and cosine similarity search"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val dup = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exact(dup, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("n_copies"), r.getAs[Long]("canonical_id"))).toSet
    assert(got === Set((2L, 1L), (1L, 3L)))
  }

  test("minhash candidates find the planted near-dup pair and nothing else") {
    val got = Dedup.minhashCandidates(docs, "doc_id", "text", k = 3, n = 64,
      bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("minhash estimate tracks exact jaccard within 0.15 on the near-dup pair") {
    val est = Dedup.minhashCandidates(docs, "doc_id", "text", threshold = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").collect().head.getDouble(0)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Some(lit(1)), k = 3, threshold = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").collect().head.getDouble(0)
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("simhash: near-dups are close in Hamming space, unrelated docs are far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 8, "near-dup pair should be close")
    assert(ham(sigs(1L), sigs(3L)) > 8, "unrelated docs should be far")
  }

  test("hamming64Candidates: band count follows maxHamming (lossless pigeonhole at any threshold)") {
    // Signatures engineered so the pair (1,2) differs in exactly 5
    // bits SPREAD ACROSS all four 16-bit quarters — the old fixed
    // 4-band blocking has no agreeing band and would miss it; with
    // maxHamming = 5 → 6 bands of ~10 bits, some band must agree.
    val a = 0x0123456789ABCDEFL
    val b = a ^ ((1L << 2) | (1L << 18) | (1L << 34) | (1L << 50) | (1L << 63))
    val sigs = Seq((1L, a), (2L, b), (3L, ~a)).toDF("doc_id", "sig")
    val got5 = Dedup.hamming64Candidates(sigs, maxHamming = 5)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got5 === Map((1L, 2L) -> 5))
    // default threshold 3 correctly excludes a distance-5 pair
    assert(Dedup.hamming64Candidates(sigs).count() === 0)
    // thresholds that would destroy blocking selectivity are rejected
    intercept[IllegalArgumentException] {
      Dedup.hamming64Candidates(sigs, maxHamming = 16)
    }
  }

  test("ngram jaccard: identical docs = 1.0; disjoint docs filtered out") {
    val two = Seq((1L, base), (2L, base), (3L, "zzz yyy xxx www vvv")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(two, "doc_id", "text", Some(lit(1)), k = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got === Map((1L, 2L) -> 1.0))
  }

  test("corpus recall: minhash finds all 25 planted pairs that exact jaccard>=0.5 finds (sf0.001)") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", Some(lit(1)), k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashCandidates(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert((exact -- mh).isEmpty, s"missed: ${(exact -- mh).take(5)}")
  }

  test("dropNearDuplicates star mode: identical keepers on cliques + near-dups, O(k) pair shape") {
    // 8-member exact clique, one near-dup pair, uniques: star
    // (hub-only verification) must keep exactly what all-pairs keeps.
    val docs = ((0L until 8L).map(i => (100L + i, base)) ++ Seq(
      (1L, base.replace("warm", "cold") + " tail"),
      (200L, "completely different unique sentence about parquet files and shuffles"),
      (201L, "another unrelated line mentioning watermarks and state stores")))
      .toDF("doc_id", "text")
    def keepers(star: Boolean) =
      Dedup.dropNearDuplicates(docs, "doc_id", "text", star = star)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = keepers(star = false)
    assert(keepers(star = true) === all)
    assert(all.contains(200L) && all.contains(201L))
    assert(all.count(id => id >= 100L && id < 108L) <= 1,
      s"clique must collapse, got $all")
  }

  test("connectedComponents collapses chains to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("distributed loop collapses a diameter-8 chain within 5 rounds (pointer jumping)") {
    // Planted regression for the round-11 under-merge: a 9-node chain
    // (propagation diameter 8) above a zero driver cap. Neighbor-only
    // min-label propagation needs 8 rounds, so the old maxIter=5
    // default silently split this into multiple keepers; the
    // label-of-label doubling step converges it in ~4. Pinning
    // maxIter=5 here (not the new default) proves the algorithm got
    // faster, not just the bound bigger.
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comp, _) = withDriverResolve(on = false) {
      Dedup.connectedComponents(chain, maxIter = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(comp === (1L to 9L).map(_ -> 1L).toMap)
  }

  test("distributed loop throws on non-convergence instead of under-merging") {
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      withDriverResolve(on = false) {
        Dedup.connectedComponents(chain, maxIter = 1).collect()
      }
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("distributed loop matches the driver union-find fast path") {
    // Deterministic pseudo-random graph with chains, stars, and
    // singleton pairs — big enough to exercise multi-hop merging.
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    def labels(viaDriver: Boolean) = {
      val (out, counts) = withDriverResolve(on = viaDriver) {
        Dedup.connectedComponents(pairs, maxIter = 20)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(counts === (if (viaDriver) Map(Dedup.ccDriverSite -> 1L) else Map.empty))
      out
    }
    assert(labels(viaDriver = true) === labels(viaDriver = false))
  }

  test("connectedComponents truncates lineage per iteration (no upstream join replay)") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // the switch off forces the distributed loop this spec pins.
    val (comp, _) = withDriverResolve(on = false) {
      Dedup.connectedComponents(pairs, maxIter = 5)
    }
    // The returned frame must be a checkpointed scan, not a 5-deep
    // join tree: evaluating it (or iterating further) must not replay
    // the candidate-pair join once per iteration.
    val plan = comp.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join"), s"expected checkpointed plan, got:\n$plan")
  }

  test("connectedComponents handles string ids on both paths (no long cast)") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    def labels(viaDriver: Boolean) = withDriverResolve(on = viaDriver) {
      Dedup.connectedComponents(pairs, maxIter = 10)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }._1
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
    assert(labels(viaDriver = true) === expect)
    assert(labels(viaDriver = false) === expect)
  }

  test("connectedComponents picks Spark's string minimum on the driver (UTF-8 byte order)") {
    // "😀" (U+1F600, a surrogate pair in UTF-16) sorts BELOW "Ａ"
    // (U+FF21) in UTF-16 but ABOVE it in UTF-8 bytes (F0… vs EF…);
    // Spark's min — the distributed loop's label — uses the bytes
    val pairs = Seq(("😀", "Ａ"), ("x", "y")).toDF("id_a", "id_b")
    def labels(viaDriver: Boolean) = {
      val (out, counts) = withDriverResolve(on = viaDriver) {
        Dedup.connectedComponents(pairs, maxIter = 10)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      }
      assert(counts === (if (viaDriver) Map(Dedup.ccDriverSite -> 1L) else Map.empty))
      out
    }
    val expect = Map("😀" -> "Ａ", "Ａ" -> "Ａ", "x" -> "x", "y" -> "x")
    assert(labels(viaDriver = false) === expect)
    assert(labels(viaDriver = true) === expect)
  }

  test("batch auto-star: a dup-heavy corpus trips the switch with identical keepers; MaxValue pins all-pairs") {
    // Round 13: the same default-safety contract as the streaming
    // gates — an 8-member clique is 8·7/2 = 28 estimated pairs per
    // shared bucket (×16 bands); cap 100 trips star, cap MaxValue
    // pins all-pairs, keepers identical either way (cliques are exact
    // under star). dropNearDuplicatesBy gets the same switch.
    val docs = ((0L until 8L).map(i => (100L + i, base)) ++ Seq(
      (200L, "completely different unique sentence about parquet files and shuffles")))
      .toDF("doc_id", "text")
    def keepers(cap: Long) =
      Dedup.dropNearDuplicates(docs, "doc_id", "text", autoStarPairsCap = cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keepers(100L) === Set(100L, 200L))
    assert(keepers(Long.MaxValue) === keepers(100L))
    val byQuality = Dedup.dropNearDuplicatesBy(docs, "doc_id", "text",
        keepBy = length(col("text")), autoStarPairsCap = 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byQuality === Set(100L, 200L))
  }

  test("dropNearDuplicates works with string doc ids end to end") {
    val chain = Seq(
      ("docA", base),
      ("docB", base.replace("warm", "cold")),
      ("docZ", "entirely distinct content on the topic of distributed query planning"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(chain, "doc_id", "text")
      .select("doc_id").as[String].collect().toSet
    assert(kept === Set("docA", "docZ"))
  }

  test("default geometric double-block is lossless vs all-pairs at threshold 0.5 (sf0.001)") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairSet(block: Option[org.apache.spark.sql.Column]) =
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", block, k = 3, threshold = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = pairSet(Some(lit(1)))
    val blocked = pairSet(None)
    assert(allPairs.nonEmpty)
    assert(blocked === allPairs)
  }

  test("dropNearDuplicates keeps one doc per duplicate group (chains included)") {
    val chain = Seq(
      (1L, base),
      (2L, base.replace("warm", "cold")),               // ~ 1
      (3L, base.replace("warm", "cold").replace("dog", "pup")), // ~ 2 (chain)
      (4L, "entirely distinct content on the topic of distributed query planning"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(chain, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(2L))
  }

  test("dropNearDuplicatesBy keeps the highest-quality member, ties to the smaller id") {
    val chain = Seq(
      (1L, base, 1),                                     // dup of 2, lower score
      (2L, base.replace("warm", "cold"), 9),             // the quality keeper
      (3L, base.replace("warm", "cold").replace("dog", "pup"), 9), // tied score, bigger id
      (4L, "entirely distinct content on the topic of distributed query planning", 0))
      .toDF("doc_id", "text", "score")
    val kept = Dedup.dropNearDuplicatesBy(chain, "doc_id", "text", col("score"))
      .select("doc_id").as[Long].collect().toSet
    // component {1,2,3}: max score 9 held by 2 and 3 → min id 2 wins;
    // singleton 4 survives untouched (never reaches the aggregate)
    assert(kept === Set(2L, 4L))
  }

  test("dropNearDuplicatesBy with an all-null quality falls back to the min id") {
    val chain = Seq(
      (5L, base),
      (6L, base.replace("warm", "cold")),
      (7L, "entirely distinct content on the topic of distributed query planning"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicatesBy(
        chain, "doc_id", "text", lit(null).cast("int"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(5L, 7L))
  }

  test("corpus dedup: removes every non-representative of each dup component (sf0.001)") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val total = corpus.count()
    val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text", threshold = 0.5)
    val comp = Dedup.connectedComponents(pairs)
    val losers = comp.filter(col("id") =!= col("component")).count()
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", "text").count()
    assert(losers > 0)
    assert(kept === total - losers)
  }

  test("duplicateSpans: repeated block marked everywhere but its first occurrence; merged maximal") {
    // a 40-char block planted in docs 1, 2 and twice in doc 3;
    // surrounding text is unique per doc.
    val block = "0123456789abcdefghijklmnopqrstuvwxyzABCD" // len 40
    val df = Seq(
      (1L, s"first document unique prefix $block unique suffix one"),
      (2L, s"second doc other opening $block and a different tail"),
      (3L, s"third $block middle words $block end"),
      (4L, "fourth document with no repeated content at all here"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", l = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = spans.groupBy(_._1)
    // doc 1 holds the first occurrence -> nothing marked
    assert(!byDoc.contains(1L))
    assert(!byDoc.contains(4L))
    // docs 2 and 3: every occurrence covered (3 has two disjoint spans)
    assert(byDoc(2L).length === 1)
    assert(byDoc(3L).length === 2)
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spans.foreach { case (id, s, e) =>
      assert(texts(id).substring(s, e).contains(block),
        s"span [$s,$e) of doc $id should cover the planted block")
    }
  }

  test("duplicateSpans survives a hyper-frequent gram (planted 30-gram x100k) without a per-hash sort") {
    val boiler = "THE-SAME-30-CHAR-BOILERPLATE!!" // exactly l chars
    assert(boiler.length === 30)
    // unique 11-char prefix per doc ("u%09d-"): the only duplicated
    // l=30 gram is the pure-boilerplate one at pos 11 — 100k
    // occurrences of ONE gram hash, the web-corpus hot-key shape.
    val docs = spark.range(100000).select(
      col("id").as("doc_id"),
      concat(format_string("u%09d-", col("id")), lit(boiler)).as("text"))
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", l = 30)
    // Duplicate marking must be aggregate+join, never a Window over
    // the gram hash — that would funnel all 100k occurrences into a
    // single sorted partition at corpus scale.
    val plan = spans.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("windowspecdefinition(__h"),
      s"per-gram-hash window found in plan:\n$plan")
    val got = spans.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // every doc except the global first occurrence (doc 0) carries
    // exactly one span covering the boilerplate [11, 41); the start
    // may reach back into the prefix where zero-padded ids share
    // suffixes ("…0005-THE-SAME…" repeats every 10k docs).
    assert(got.length === 99999)
    assert(got.map(_._1).distinct.length === 99999)
    assert(got.forall { case (id, s, e) => id > 0L && s <= 11 && e == 41 })
  }

  test("removeDuplicateSpans: cleaned text drops the marked spans, keeps everything else") {
    val block = "0123456789abcdefghijklmnopqrstuvwxyzABCD"
    val df = Seq(
      (1L, s"first document unique prefix $block unique suffix one"),
      (2L, s"second doc other opening $block and a different tail"),
      (4L, "fourth document with no repeated content at all here"))
      .toDF("doc_id", "text")
    val cleaned = Dedup.removeDuplicateSpans(df, "doc_id", "text", l = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) === df.collect().find(_.getLong(0) == 1L).get.getString(1)) // first copy kept
    assert(!cleaned(2L).contains(block))
    assert(cleaned(2L).startsWith("second doc o")) // unique head survives
    assert(cleaned(2L).endsWith("different tail") || cleaned(2L).endsWith("tail"))
    assert(cleaned(4L) === "fourth document with no repeated content at all here")
    // schema preserved
    val out = Dedup.removeDuplicateSpans(df, "doc_id", "text", l = 20)
    assert(out.columns.toSeq === df.columns.toSeq)
  }

  test("dedupCorpusLines: shared boilerplate survives only in its first occurrence") {
    val banner = "SHARED COOKIE BANNER LINE"
    val df = Seq(
      (1L, s"doc one unique opening\n$banner\ndoc one unique closing"),
      (2L, s"doc two other opening\n$banner\ndoc two other closing"),
      (3L, s"$banner\ndoc three body"),
      (4L, "no boilerplate here at all\nju\nst original lines"))
      .toDF("doc_id", "text")
    val cleaned = Dedup.dedupCorpusLines(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L).contains(banner)) // global first occurrence kept
    assert(!cleaned(2L).contains(banner))
    assert(!cleaned(3L).contains(banner))
    assert(cleaned(2L) === "doc two other opening\ndoc two other closing")
    assert(cleaned(3L) === "doc three body")
    // short lines ("ju" < minLineLen) never participate
    assert(cleaned(4L) === "no boilerplate here at all\nju\nst original lines")
    // schema preserved
    assert(Dedup.dedupCorpusLines(df, "doc_id", "text").columns.toSeq === df.columns.toSeq)
  }

  test("fingerprint is whitespace-normalization-invariant but content-sensitive") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "  alpha   beta\tgamma "),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("leakageSafeSplit: no near-dup pair straddles the split; singletons bucket by own id") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val split = Dedup.leakageSafeSplit(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(split.size === docs.count())
    // THE property: every candidate near-dup pair lands on one side
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has planted near-dups; candidates expected")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2, s"pair ($a,$b) straddles the split")
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) got different split keys")
    }
    // a doc in no pair buckets by its own id (split_key = doc_id)
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val loner = split.keys.find(!inPairs.contains(_)).get
    assert(split(loner)._1 === loner)
    // both sides are populated at this corpus size
    assert(split.values.map(_._2).toSet === Set("train", "valid"))
  }

  test("gramNoveltyStats: shared-gram counting, internal repetition, short docs") {
    val docs = Seq(
      (1L, "abcdefgh"),    // grams(5): abcde bcdef cdefg defgh
      (2L, "abcdeXYZW"),   // shares exactly "abcde" with docs 1 and 4
      (3L, "zz"),          // shorter than l -> zero grams
      (4L, "abcdeabcde"))  // internal repeat: "abcde" counts ONCE per doc
      .toDF("doc_id", "text")
    val got = Dedup.gramNoveltyStats(docs, "doc_id", "text", l = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got(1L) === ((4L, 1L, 750000L)))   // 3 of 4 grams unique
    assert(got(2L) === ((5L, 1L, 800000L)))
    assert(got(3L) === ((0L, 0L, -1L)))       // NULL novelty for gramless docs
    // doc 4: distinct grams abcde/bcdea/cdeab/deabc/eabcd -> 5, shared only abcde
    assert(got(4L) === ((5L, 1L, 800000L)))
    // all-unique corpus scores 1.0 novelty everywhere
    val solo = Dedup.gramNoveltyStats(
      Seq((9L, "qwertyuiop")).toDF("doc_id", "text"), "doc_id", "text", l = 5)
      .collect().head
    assert(solo.getLong(2) === 0L && solo.getLong(3) === 1000000L)
  }

  test("cross-modal pair-set union: mixed text+image chains collapse to one keeper") {
    // text evidence links (1,2); image evidence links (2,3) — neither
    // modality alone merges all three, the UNION does, and the keeper
    // is the component min exactly as in single-modality CC dedup.
    val textPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val imgPairs = Seq((2L, 3L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(textPairs.union(imgPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // query-level containment on the real corpus: adding image pairs
    // can only SHRINK the kept set relative to text-only dedup
    val d = "/root/testdata/sf0.001"
    if (new java.io.File(s"$d/documents.parquet").exists()) {
      def kept(n: String) = QueryCatalog.byName(n).fn(spark, d)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val cross = kept("q_crossmodal_dedup")
      val textOnly = kept("q_dedup_docs")
      assert(cross.subsetOf(textOnly))
      assert(cross.nonEmpty)
    }
  }
}
