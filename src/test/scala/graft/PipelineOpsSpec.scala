package graft

import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Keywords, TextAnalysis, Urls}

/** Edge cases for the round-3 training-pipeline operators:
  * repetition signals, line dedup, URL canonicalization, TF-IDF
  * keyword extraction, and embedding vector transforms.
  */
class PipelineOpsSpec extends SparkSpecBase {

  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).collect().head.getAs[T]("v")

  // ---- Repetition signals ----

  test("repeat fractions: empty doc, all-unique, all-duplicate") {
    assert(one[Double](TextAnalysis.dupTokenFraction(col("text")), "") === 0.0)
    assert(one[Double](TextAnalysis.dupTokenFraction(col("text")), "a b c d") === 0.0)
    // "a a a a": 3 of 4 tokens repeat an earlier one
    assert(one[Double](TextAnalysis.dupTokenFraction(col("text")), "a a a a") === 0.75)
  }

  test("dup n-gram fraction: short doc yields empty gram set, repeats detected") {
    val toks = TextAnalysis.tokens(col("text"))
    // 2 tokens < n=3 → no 3-grams → fraction 0
    assert(one[Double](TextAnalysis.dupNgramFraction(toks, 3), "a b") === 0.0)
    // "a b a b a b" → 2-grams: [a b, b a, a b, b a, a b] → 5 grams, 2 distinct
    assert(one[Double](TextAnalysis.dupNgramFraction(toks, 2), "a b a b a b") === 0.6)
  }

  test("dedupLines keeps first occurrence order") {
    val txt = "nav bar\nbody one\nnav bar\nbody two\nnav bar"
    assert(one[String](TextAnalysis.dedupLines(col("text")), txt) ===
      "nav bar\nbody one\nbody two")
  }

  test("qualityGate: rules fire independently and compose into pass") {
    val docs = Seq(
      // ≥10 tokens, stopword-rich, varied → passes every rule
      (1L, "the cat and the dog ran to the house of cards in town is it for real"),
      // repetitive AND stopword-free → two failures, alphabetical order
      (2L, Seq.fill(12)("spam").mkString(" ")),
      // too short AND stopword-free
      (3L, "short text")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.qualityGate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) === ("", 1))
    assert(out(2L) === ("repetition,stopwords", 0))
    assert(out(3L) === ("length,stopwords", 0))
  }

  test("qualityGate fails NULL text as an empty document, never passes it") {
    val docs = Seq((1L, Option.empty[String]), (2L, Some("   ")))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.qualityGate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L) === ("length,stopwords,token_len", 0))
    assert(out(2L) === out(1L)) // NULL ≡ whitespace-only ≡ empty
  }

  // ---- URL canonicalization ----

  test("normalizeUrl: case, default ports, tracking params, fragment, slash") {
    def n(u: String): String = one[String](Urls.normalizeUrl(col("text")), u)
    // scheme+host lowercased, :443 dropped, utm stripped, fragment gone, trailing slash gone
    assert(n("HTTPS://Ex.COM:443/A/?utm_source=x#f") === "https://ex.com/A")
    // path case preserved; non-default port kept
    assert(n("http://ex.com:8080/Path/") === "http://ex.com:8080/Path")
    // tracking param in the middle: separators repaired
    assert(n("https://ex.com/p?utm_x=1&q=2") === "https://ex.com/p?q=2")
    assert(n("https://ex.com/p?q=2&fbclid=abc") === "https://ex.com/p?q=2")
    // only tracking params → bare path
    assert(n("https://ex.com/p?gclid=z&utm_a=b") === "https://ex.com/p")
    // param name merely ENDING in a tracking name is not a tracking param
    assert(n("https://ex.com/p?myfbclid=1") === "https://ex.com/p?myfbclid=1")
    assert(n("https://ex.com/p?xgclid=1&q=2") === "https://ex.com/p?xgclid=1&q=2")
    // consecutive tracking params in the middle: separators repaired
    assert(n("https://ex.com/p?a=1&utm_x=2&utm_y=3&b=4") === "https://ex.com/p?a=1&b=4")
    // :80 only stripped from the authority, not a path segment
    assert(n("http://ex.com:80/a:80") === "http://ex.com/a:80")
    // idempotent on already-canonical input
    assert(n("https://ex.com/a?q=1") === "https://ex.com/a?q=1")
  }

  test("host/registrableDomain: userinfo, port, www, case, missing scheme") {
    def h(u: String): String = one[String](Urls.host(col("text")), u)
    def d(u: String): String = one[String](Urls.registrableDomain(col("text")), u)
    assert(h("https://User:Pw@Ex.COM:8443/a?b#c") === "ex.com")
    assert(h("http://ex.com/a@b") === "ex.com")        // @ in path is not userinfo
    assert(h("not a url") === "")                      // no scheme head
    assert(d("https://WWW.Ex.com/a") === "ex.com")     // www fold after lowering
    assert(d("https://www2.ex.com/") === "www2.ex.com") // only exact www.
    assert(d("https://wwwex.com/") === "wwwex.com")
  }

  test("domainQuota keeps top-k per domain, quality desc then id asc") {
    val docs = Seq(
      (1L, "https://a.com/x", 0.9), (2L, "https://www.a.com/y", 0.9),
      (3L, "https://A.com:443/z", 0.5), (4L, "https://b.com/x", 0.1))
      .toDF("doc_id", "url", "quality")
    val out = Urls.domainQuota(docs, "doc_id", "url", "quality", k = 2)
      .orderBy("domain", "rank").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a.com", "a.com", "b.com"))
    // tie at 0.9 → id asc; doc 3 cut by the quota
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 2L, 4L))
    assert(out.map(_.getInt(1)).toSeq === Seq(1, 2, 1))
  }

  test("dedupByUrl collapses variants to min-id canonical with counts") {
    val df = Seq(
      (10L, "https://ex.com/a/"),
      (3L, "HTTPS://EX.com:443/a"),
      (7L, "https://ex.com/a?utm_q=1"),
      (5L, "https://ex.com/b")).toDF("id", "url")
    val out = Urls.dedupByUrl(df, "id", "url")
      .orderBy("norm_url").collect()
    assert(out.length === 2)
    assert(out(0).getString(0) === "https://ex.com/a")
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 3L)
    assert(out(1).getString(0) === "https://ex.com/b")
    assert(out(1).getLong(1) === 5L && out(1).getLong(2) === 1L)
  }

  // ---- TF-IDF keywords ----

  test("tfIdfTopK ranks rarer terms higher; ties break on token asc") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "cherry shared shared"),
      (3L, "banana cherry shared")).toDF("doc_id", "text")
    val out = Keywords.tfIdfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: apple tf=2 df=1 → score 6.0; banana tf=1 df=2 → 1.5; shared tf=1 df=3 → 1.0
    assert(out(0).getAs[String]("token") === "apple")
    assert(out(0).getAs[Double]("score") === 6.0)
    assert(out(1).getAs[String]("token") === "banana")
    // doc 3: banana and cherry both tf=1 df=2 score 1.5 → tie broken alphabetically
    val d3 = out.filter(_.getLong(0) == 3L).map(_.getAs[String]("token")).toSeq
    assert(d3 === Seq("banana", "cherry"))
    // every doc emits at most k rows
    assert(out.count(_.getLong(0) == 2L) === 2)
  }

  // ---- PII redaction ----

  test("redactPii: email, IPv4, phone each tokenized; plain digits untouched") {
    def r(t: String): String = one[String](TextAnalysis.redactPii(col("text")), t)
    assert(r("mail a.b+c@ex-mail.org now") === "mail <EMAIL> now")
    assert(r("host 10.0.255.1 up") === "host <IP> up")
    assert(r("call +61 2 9999 1234 today") === "call <PHONE> today")
    assert(r("tel 555-867-5309.") === "tel <PHONE>.")
    // short digit runs are not phones; years survive
    assert(r("in 2024 we saw 42 cases") === "in 2024 we saw 42 cases")
    // composition order: the IP is not half-eaten by the phone rule
    assert(r("a@b.co 1.2.3.4 +1 234 567 8901") === "<EMAIL> <IP> <PHONE>")
  }

  // ---- Mixture sampling ----

  test("mixtureSample: per-group rates, default fallback, nesting") {
    import graft.operators.Sampling
    val df = (0L until 400L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    val out = Sampling.mixtureSample(df, "src", "id",
      rates = Seq(("src0", 1, 1), ("src1", 0, 1)), default = Some((1, 2)))
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === 100)        // rate 1 keeps everything
    assert(!bySrc.contains("src1"))      // rate 0 drops everything
    // default 1/2 applied to src2/src3: near half, not exact (hash threshold)
    assert(bySrc("src2") > 30 && bySrc("src2") < 70)
    // no-default drops unlisted groups entirely
    val strict = Sampling.mixtureSample(df, "src", "id", Seq(("src0", 1, 1)))
    assert(strict.select("src").distinct().collect().map(_.getString(0)).toSeq === Seq("src0"))
    // nesting: a 1/4 sample is a subset of the 1/2 sample of the same group
    val half = Sampling.mixtureSample(df, "src", "id", Seq(("src2", 1, 2)))
      .select("id").collect().map(_.getLong(0)).toSet
    val quarter = Sampling.mixtureSample(df, "src", "id", Seq(("src2", 1, 4)))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(quarter.subsetOf(half))
  }

  test("weightedSample: weight 0 drops all, 1 keeps all, survival is monotone in weight") {
    import graft.operators.Sampling
    val df = (0L until 500L).map(i => (i, i)).toDF("id", "x")
    assert(Sampling.weightedSample(df.withColumn("w", lit(0.0)), "id", col("w")).count() === 0)
    assert(Sampling.weightedSample(df.withColumn("w", lit(1.0)), "id", col("w")).count() === 500)
    // out-of-range weights clamp rather than misbehave
    assert(Sampling.weightedSample(df.withColumn("w", lit(7.5)), "id", col("w")).count() === 500)
    val at03 = Sampling.weightedSample(df.withColumn("w", lit(0.3)), "id", col("w"))
      .select("id").collect().map(_.getLong(0)).toSet
    val at06 = Sampling.weightedSample(df.withColumn("w", lit(0.6)), "id", col("w"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(at03.subsetOf(at06))
    assert(at03.size > 75 && at03.size < 225) // ~150 expected
  }

  // ---- Range join ----

  test("rangeJoin: boundary inclusivity, overlaps, empty ranges, multi-bucket spans") {
    import graft.operators.Relational
    val facts = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 25.0), (5L, 99.9))
      .toDF("fid", "v")
    val ranges = Seq(
      (10, 0.0, 10.0),    // [0,10): fids 1,2
      (20, 10.0, 30.0),   // [10,30): fids 3,4
      (30, 20.0, 120.0),  // [20,120): fids 4,5 — spans many buckets
      (40, 50.0, 50.0))   // empty interval: matches nothing
      .toDF("rid", "lo", "hi")
    val out = Relational.rangeJoin(facts, "v", ranges, "lo", "hi", bucketWidth = 10.0)
      .select("fid", "rid").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out === Set((1L, 10), (2L, 10), (3L, 20), (4L, 20), (4L, 30), (5L, 30)))
  }

  // ---- Decontamination ----

  test("contamination: verbatim copy scores 1, disjoint 0, partial in between; short docs drop") {
    import graft.operators.Dedup
    val trainTxt = (1 to 20).map(i => s"tr$i").mkString(" ")
    val train = Seq((1L, trainTxt)).toDF("doc_id", "text")
    val eval = Seq(
      (10L, trainTxt),                                          // verbatim → 1.0
      (11L, (1 to 20).map(i => s"ev$i").mkString(" ")),         // disjoint → 0.0
      // first 8 tokens shared → 1 contaminated gram of 6
      (12L, ((1 to 8).map(i => s"tr$i") ++ (1 to 5).map(i => s"x$i")).mkString(" ")),
      (13L, "too short")                                        // < n tokens → dropped
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(10L) === ((13L, 13L, 1.0)))
    assert(got(11L) === ((13L, 0L, 0.0)))
    assert(got(12L) === ((6L, 1L, 0.1667)))
    assert(!got.contains(13L))
  }

  // ---- Embedding transforms ----

  test("l2Normalize: unit norm, zero vector maps to zeros") {
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f))).toDF("id", "embedding")
    val rows = df.select(col("id"), col("embedding"),
        Embeddings.l2Norm(col("embedding")).as("__n"))
      .select(col("id"),
        Embeddings.l2Normalize(col("embedding"), col("__n")).as("nv"))
      .orderBy("id").collect()
    assert(rows(0).getAs[scala.collection.Seq[Double]]("nv").toSeq === Seq(0.6, 0.8))
    assert(rows(1).getAs[scala.collection.Seq[Double]]("nv").toSeq === Seq(0.0, 0.0))
  }

  test("quantizeInt8: symmetric range, zero vector, dequant round-trip error bound") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("id", "embedding")
    val rows = df.select(col("id"), col("embedding"),
        Embeddings.absMax(col("embedding")).as("__m"))
      .select(col("id"),
        Embeddings.quantizeInt8(col("embedding"), col("__m")).as("qv"),
        Embeddings.dequantScale(col("__m")).as("sc"))
      .orderBy("id").collect()
    val q = rows(0).getAs[scala.collection.Seq[Int]]("qv").toSeq
    assert(q === Seq(127, -63, 32)) // -0.5/1*127 = -63.5 → floor(-63) half-up
    assert(q.forall(v => v >= -127 && v <= 127))
    val sc = rows(0).getAs[Double]("sc")
    // round-trip error within one quantization step
    val orig = Seq(1.0, -0.5, 0.25)
    q.zip(orig).foreach { case (qi, x) => assert(math.abs(qi * sc - x) <= sc) }
    assert(rows(1).getAs[scala.collection.Seq[Int]]("qv").toSeq === Seq(0, 0, 0))
    assert(rows(1).getAs[Double]("sc") === 0.0)
  }

  test("bigramLift: hand-checked lift, minCount cut, repeated-pair ranking") {
    // corpus: N = 8 token instances, M = 5 bigram instances
    // "a b" occurs 2x (n_a=3, n_b=3); "b a"/"a c"/"b c" once each
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a c"),
      (3L, "b c"))
      .toDF("doc_id", "text")
    def det4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val cut = Keywords.bigramLift(docs, "text", minCount = 2L, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // only "a b" clears minCount 2
    assert(cut.keySet === Set("a b"))
    assert(cut("a b") === ((2L, 3L, 3L, det4(((2.0 * 8) * 8) / ((5.0 * 3) * 3)))))
    // at minCount 1 the halved-frequency "b a" scores exactly half
    val all = Keywords.bigramLift(docs, "text", minCount = 1L, k = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(all("b a") === det4(((1.0 * 8) * 8) / ((5.0 * 3) * 3)))
    assert(all("a b") > all("b a")) // frequency separates same-vocab pairs
    // k cuts on (lift desc, bigram asc): rarer-vocab pairs score highest
    // (a c / b c: 1*64/(5*3*2) = 2.1333) and outrank "a b" (1.4222*2=2.84
    // vs... 2*64/45=2.8444) — order check: a b first, then a c, b c, b a
    val ranked = Keywords.bigramLift(docs, "text", minCount = 1L, k = 3)
      .collect().map(_.getString(0)).toSeq
    assert(ranked === Seq("a b", "a c", "b c"))
  }
}
