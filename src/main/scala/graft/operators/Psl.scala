package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Public-suffix-list (PSL) registrable-domain resolution — the real
  * eTLD+1 grouping key for per-domain policies on crawl data, where
  * the regex heuristic ([[Urls.registrableDomain]], host minus
  * `www.`) fragments: `news.example.com` vs `example.com` are one
  * registrant, and two-level TLDs (`example.com.au`, `shop.co.uk`)
  * make the last-two-labels guess wrong in both directions.
  *
  * The rule set is a BUNDLED SNAPSHOT of the public suffix list
  * (publicsuffix.org format: exact rules, `*.` wildcards, `!`
  * exceptions) — a few hundred entries covering the major gTLDs,
  * ccTLDs and two-level families, not the full list; swap
  * [[Psl.rules]] for a complete download when operating on real
  * crawls. Resolution follows the PSL algorithm: among matching
  * rules an exception wins (its public suffix = the rule minus its
  * leftmost label), else the longest match, else the default rule
  * `*` (public suffix = the rightmost label); the registrable domain
  * is the public suffix plus one label, or the host itself when the
  * host IS a public suffix.
  *
  * Scale shape: suffix matching runs on DISTINCT hosts (hosts ≪ rows
  * on any crawl), as one explode of ≤ `labels` candidate suffixes, a
  * broadcast equi-join against the rule table (hundreds of rows),
  * and a per-host aggregate; the result joins back to the corpus on
  * host (AQE picks broadcast when the host set is small). No UDF in
  * the per-row path — the oracle-facing arithmetic is `split` /
  * `slice` / `concat_ws`, mirrored verbatim in DuckDB by
  * [[Psl.registrableDomainDuckSql]] which is GENERATED from the same
  * rule list, so engine and oracle cannot drift.
  */
object Psl {

  /** Bundled snapshot in PSL format (`rule`, `*.rule`, `!rule`). */
  val rules: Seq[String] = Seq(
    // generic TLDs
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "name", "pro", "mobi", "travel", "tel", "asia", "jobs", "cat",
    "coop", "aero", "museum", "post", "xxx", "app", "dev", "page",
    "blog", "shop", "site", "online", "store", "tech", "xyz", "club",
    "vip", "fun", "live", "news", "top", "work", "art", "law", "med",
    "io", "ai", "co", "tv", "cc", "me", "ws", "fm", "am", "to", "gg",
    // ccTLDs (plain)
    "uk", "au", "nz", "jp", "cn", "br", "in", "de", "fr", "it", "nl",
    "es", "se", "no", "fi", "dk", "pl", "ru", "ua", "cz", "ch", "at",
    "be", "pt", "gr", "hu", "ro", "bg", "hr", "si", "sk", "lt", "lv",
    "ee", "ie", "is", "lu", "mt", "cy", "tr", "il", "sa", "ae", "qa",
    "kw", "bh", "om", "jo", "lb", "eg", "ma", "dz", "tn", "za", "ng",
    "ke", "gh", "tz", "ug", "zm", "zw", "mx", "ar", "cl", "pe", "ve",
    "uy", "py", "bo", "ec", "cr", "pa", "do", "gt", "hn", "ni", "sv",
    "cu", "ca", "us", "kr", "tw", "hk", "sg", "my", "ph", "th", "vn",
    "id", "pk", "ir", "iq", "af", "bd", "lk", "np", "mm", "kh", "la",
    // two-level families
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "sch.uk", "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "kiwi.nz", "maori.nz",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "org.mx", "gob.mx", "net.mx", "edu.mx",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
    "mil.ar", "musica.ar",
    "co.za", "net.za", "org.za", "web.za", "edu.za", "gov.za", "ac.za",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "co.th", "in.th", "or.th", "ac.th", "go.th",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "co.id", "net.id", "or.id", "ac.id", "go.id", "web.id",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    // wildcard + exception families
    "*.ck", "!www.ck", "*.bd", "*.er", "*.fk", "*.mm", "*.np",
  )

  /** `(text, kind)` with kind `n`/`w`/`e`; wildcard/exception rules
    * store the rule WITHOUT its `*.` / `!` marker (the `*.` parent,
    * the exception's full host).
    */
  private[operators] val parsedRules: Seq[(String, String)] = rules.map {
    case r if r.startsWith("*.") => (r.drop(2), "w")
    case r if r.startsWith("!")  => (r.drop(1), "e")
    case r                       => (r, "n")
  }

  private lazy val exact    = parsedRules.collect { case (t, "n") => t }.toSet
  private lazy val wildcard = parsedRules.collect { case (t, "w") => t }.toSet
  private lazy val except   = parsedRules.collect { case (t, "e") => t }.toSet

  /** Pure-Scala resolution (the spec cross-check twin of the
    * distributed path). `host` must already be lowercased.
    */
  def registrable(host: String): String = {
    val ls = host.split('.')
    val n = ls.length
    var best = 1
    var exc = -1
    var i = 1
    while (i <= n) {
      val s = ls.slice(n - i, n).mkString(".")
      if (exact(s)) best = math.max(best, i)
      if (wildcard(s) && n > i) best = math.max(best, i + 1)
      if (except(s)) exc = i - 1
      i += 1
    }
    val ps = if (exc >= 0) exc else best
    if (n >= ps + 1) ls.slice(n - ps - 1, n).mkString(".") else host
  }

  /** Distributed resolution: appends `out` = registrable domain of
    * `urlCol`'s host (null url → null). See the object doc for the
    * shape; the per-suffix candidates are (i, last-i-labels) pairs,
    * and the longest-match fold is one aggregate with exception >
    * longest > default precedence.
    */
  def withRegistrableDomain(
      df: DataFrame,
      urlCol: String,
      out: String = "domain"): DataFrame = {
    val s = df.sparkSession
    import scala.jdk.CollectionConverters._
    val rulesDf = s.createDataFrame(
      parsedRules.map { case (t, k) => org.apache.spark.sql.Row(t, k) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("txt", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType))))
    val hosts = df.select(Urls.host(col(urlCol)).as("__host"))
      .filter(col("__host").isNotNull).distinct()
    val lab = hosts
      .withColumn("__ls", split(col("__host"), "\\."))
      .withColumn("__n", size(col("__ls")))
    val suf = lab.select(col("__host"), col("__n"),
      explode(transform(sequence(lit(1), col("__n")), i =>
        struct(i.as("i"),
          concat_ws(".", slice(col("__ls"), col("__n") - i + lit(1), i)).as("s"))))
        .as("__suf"))
    val ps = suf.join(broadcast(rulesDf), col("__suf.s") === col("txt"), "left")
      .groupBy("__host", "__n")
      .agg(coalesce(
        max(when(col("kind") === "e", col("__suf.i") - 1)),
        max(when(col("kind") === "w" && col("__n") > col("__suf.i"), col("__suf.i") + 1)
          .when(col("kind") === "n", col("__suf.i"))),
        lit(1)).as("__ps"))
    val domains = ps.select(col("__host"),
      when(col("__n") >= col("__ps") + 1,
        concat_ws(".", slice(split(col("__host"), "\\."),
          col("__n") - col("__ps"), col("__ps") + 1)))
        .otherwise(col("__host")).as(out))
    df.withColumn("__host", Urls.host(col(urlCol)))
      .join(domains, Seq("__host"), "left")
      .drop("__host")
  }

  /** The DuckDB twin of [[withRegistrableDomain]], generated from
    * the SAME rule list: given a CTE name exposing `(doc_id, host)`,
    * returns CTE clauses ending in `psl_dom(doc_id, host, domain)`.
    */
  def registrableDomainDuckSql(hostCte: String): String = {
    val values = parsedRules
      .map { case (t, k) => s"('$t','$k')" }.mkString(", ")
    s"""psl_rules(txt, kind) AS (VALUES $values),
       |psl_lab AS (
       |  SELECT doc_id, host, string_split(host, '.') AS ls,
       |    len(string_split(host, '.')) AS n
       |  FROM $hostCte),
       |psl_suf AS (
       |  SELECT doc_id, host, n, CAST(u.i AS INTEGER) AS i,
       |    array_to_string(ls[CAST(n - u.i + 1 AS INTEGER) : CAST(n AS INTEGER)], '.') AS s
       |  FROM psl_lab, unnest(range(1, n + 1)) AS u(i)),
       |psl_ps AS (
       |  SELECT doc_id, host, n,
       |    coalesce(
       |      max(CASE WHEN kind = 'e' THEN i - 1 END),
       |      max(CASE WHEN kind = 'w' AND n > i THEN i + 1
       |               WHEN kind = 'n' THEN i END),
       |      1) AS ps
       |  FROM psl_suf LEFT JOIN psl_rules ON s = txt
       |  GROUP BY doc_id, host, n),
       |psl_dom AS (
       |  SELECT doc_id, host,
       |    CASE WHEN n >= ps + 1
       |         THEN array_to_string(string_split(host, '.')
       |                [CAST(n - ps AS INTEGER) : CAST(n AS INTEGER)], '.')
       |         ELSE host END AS domain
       |  FROM psl_ps)""".stripMargin
  }
}
