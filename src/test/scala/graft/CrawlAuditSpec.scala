package graft

import org.apache.spark.sql.functions._

import graft.expressions.CrawlAuditKernel
import graft.operators.Crawl

/** Crawl-ingest loss accounting ([[CrawlAuditKernel]],
  * `graft_crawl_audit`, [[Crawl.auditCorpus]]): one loss of every kind
  * planted in hand-built archives, the funnel-conservation invariant,
  * `kept` == cleanCorpus row-for-row, and the one-kernel-pass-per-archive
  * evaluation bound. */
class CrawlAuditSpec extends SparkSpec {
  import spark.implicits._

  private def b(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def resp(uri: String, http: String): String =
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: <$uri>\r\n" +
      s"Content-Length: ${b(http).length}\r\n\r\n$http\r\n\r\n"

  private def http(status: String, mime: String, body: String): String =
    s"HTTP/1.1 $status\r\nContent-Type: $mime\r\n\r\n$body"

  private val prose =
    "<html><body><p>article with plenty of ordinary prose words to " +
      "clear the size gate</p><a href=\"/r\">ref</a></body></html>"
  // all-anchor text, long enough to clear the size gate so it reaches
  // (and fails) the density gate rather than dropping as too small
  private val farm =
    "<div>" + ("<a href=\"/u\">wordy link text</a> " * 8) + "</div>"
  // a latin-1 0xE9 byte: invalid UTF-8, triggers the cp1252 fallback
  private val latin1Prose = ("<html><body><p>café article with " +
    "plenty of ordinary prose words to clear the size gate</p>" +
    "</body></html>").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** One archive planting one loss of every kind + two keeps. */
  private def plantedWarc: Array[Byte] = {
    val head = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: " +
      "application/warc-fields\r\nContent-Length: 17\r\n\r\n" +
      "software: graft\r\n\r\n\r\n"                      // non_response
    val gone = resp("http://ex.test/gone",
      http("404 NF", "text/html", "<p>gone</p>"))        // gated_status
    val png = resp("http://ex.test/img",
      http("200 OK", "image/png", "fakepng"))            // gated_mime
    val tiny = resp("http://ex.test/tiny",
      http("200 OK", "text/html", "<p>x</p>"))           // dropped_small
    val farm1 = resp("http://ex.test/farm",
      http("200 OK", "text/html", farm))                 // dropped_boiler
    val keep = resp("http://ex.test/keep",
      http("200 OK", "text/html; charset=utf-8", prose)) // kept
    val latin = new String(latin1Prose,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val keepLatin = resp("http://ex.test/latin",
      http("200 OK", "text/html", latin))   // kept + charset_fallback
    // build in latin-1 so the 0xE9 byte survives verbatim
    (head + gone + png + tiny + farm1 + keep + keepLatin)
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  test("kernel: one loss of each kind lands in its own counter") {
    val c = CrawlAuditKernel.audit(plantedWarc, 0.5, 20L)
    val m = CrawlAuditKernel.Fields.zip(c).toMap
    assert(m("records") === 7L)
    assert(m("parse_nulls") === 0L)
    assert(m("non_response") === 1L)
    assert(m("gated_status") === 1L)
    assert(m("gated_mime") === 1L)
    assert(m("charset_fallbacks") === 1L) // the latin-1 keep, counted too
    assert(m("dropped_small") === 1L)
    assert(m("dropped_boilerplate") === 1L)
    assert(m("kept") === 2L)
    // corrupt archive and null payload are counted, never silent
    assert(CrawlAuditKernel.audit(b("GARBAGE"), 0.5, 20L)(1) === 1L)
    assert(CrawlAuditKernel.audit(null, 0.5, 20L)(1) === 1L)
    // funnel conservation: every record leaves at exactly one stage
    assert(m("records") === m("non_response") + m("gated_status") +
      m("gated_mime") + m("dropped_small") + m("dropped_boilerplate") +
      m("kept"))
  }

  test("operator: auditCorpus totals, grouping, and kept==cleanCorpus") {
    val rows = Seq(
      (0L, plantedWarc),
      (1L, plantedWarc),
      (2L, b("NOT A WARC")),
      (3L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("id", "payload")
    val total = Crawl.auditCorpus(df, maxLinkDensity = 0.5,
      minTextBytes = 20L).collect()(0)
    val m = CrawlAuditKernel.Fields
      .map(f => f -> total.getAs[Long](f)).toMap
    assert(m("records") === 14L && m("parse_nulls") === 2L)
    assert(m("kept") === 4L && m("charset_fallbacks") === 2L)
    // kept matches what cleanCorpus actually emits for the same input
    val emitted = Crawl.cleanCorpus(df, maxLinkDensity = 0.5,
      minTextBytes = 20L).count()
    assert(emitted === m("kept"))
    // per-archive grouping: one row per id, planted archives identical
    val byId = Crawl.auditCorpus(df, maxLinkDensity = 0.5,
      minTextBytes = 20L, by = Seq("id")).orderBy("id").collect()
    assert(byId.length === 4)
    assert(byId(0).getAs[Long]("kept") === 2L)
    assert(byId(1).getAs[Long]("kept") === 2L)
    assert(byId(2).getAs[Long]("parse_nulls") === 1L &&
      byId(2).getAs[Long]("records") === 0L)
    assert(byId(3).getAs[Long]("parse_nulls") === 1L)
  }

  test("plan: the funnel kernel runs ONCE per archive, not per counter") {
    val df = (0L until 50L).map(i => (i, plantedWarc)).toDF("id", "payload")
    val before = CrawlAuditKernel.auditCount.get()
    Crawl.auditCorpus(df, minTextBytes = 20L).collect()
    val runs = CrawlAuditKernel.auditCount.get() - before
    // 9 counter columns reference one struct: subexpression elimination
    // must keep this at one kernel invocation per archive
    assert(runs === 50L, s"expected 50 kernel runs for 50 archives, got $runs")
  }

  test("SQL surface: graft_crawl_audit with literal thresholds") {
    Seq((1L, plantedWarc)).toDF("id", "payload")
      .createOrReplaceTempView("audit_fixture")
    val r = spark.sql(
      """SELECT a.records, a.kept, a.parse_nulls
        |FROM (SELECT graft_crawl_audit(payload, 0.5, 20) AS a
        |      FROM audit_fixture)""".stripMargin).collect()(0)
    assert(r.getLong(0) === 7L && r.getLong(1) === 2L && r.getLong(2) === 0L)
  }

  test("fuzz: audit funnel == cleanCorpus on 120 random archives") {
    // the invariant that makes the audit trustworthy: for ANY archive,
    // kept == the rows cleanCorpus emits, and every record leaves the
    // funnel at exactly one stage
    val rnd = new scala.util.Random(2026)
    def randArchive(): Array[Byte] = {
      if (rnd.nextInt(10) == 0) return b(s"CORRUPT${rnd.nextInt(99)}")
      val sb = new StringBuilder
      val nRecs = rnd.nextInt(6)
      for (k <- 0 until nRecs) {
        val kind = rnd.nextInt(6)
        val rec = kind match {
          case 0 => "WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: " +
            "3\r\n\r\nxyz\r\n\r\n"
          case 1 => resp(s"http://f.test/g$k",
            http("404 NF", "text/html", "<p>gone</p>"))
          case 2 => resp(s"http://f.test/i$k",
            http("200 OK", "image/png", "png"))
          case 3 => resp(s"http://f.test/t$k",
            http("200 OK", "text/html", "<p>x</p>"))
          case 4 => resp(s"http://f.test/f$k",
            http("200 OK", "text/html", farm))
          case _ =>
            val body = if (rnd.nextBoolean()) prose
              else new String(latin1Prose,
                java.nio.charset.StandardCharsets.ISO_8859_1)
            resp(s"http://f.test/k$k", http("200 OK", "text/html", body))
        }
        sb.append(rec)
      }
      sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    val rows = (0L until 120L).map(i =>
      (i, if (i == 7) null else randArchive()))
    val df = rows.toDF("id", "payload")
    val audit = Crawl.auditCorpus(df, maxLinkDensity = 0.5,
      minTextBytes = 20L, by = Seq("id")).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val keptCounts = Crawl.cleanCorpus(df, maxLinkDensity = 0.5,
        minTextBytes = 20L)
      .groupBy("id").count().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("count")).toMap
    for (i <- 0L until 120L) {
      val a = audit(i)
      val m = CrawlAuditKernel.Fields.map(f => f -> a.getAs[Long](f)).toMap
      assert(m("kept") === keptCounts.getOrElse(i, 0L), s"id=$i kept")
      assert(m("records") === m("non_response") + m("gated_status") +
        m("gated_mime") + m("dropped_small") + m("dropped_boilerplate") +
        m("kept"), s"id=$i conservation")
      assert(m("parse_nulls") <= 1L && m("charset_fallbacks") <=
        m("dropped_small") + m("dropped_boilerplate") + m("kept"),
        s"id=$i bounds")
    }
  }

  test("redirect chains: pointer doubling resolves, cycles stay loud") {
    import org.apache.spark.sql.functions.col
    // chains of length 1..4, a self-loop, and a 2-cycle
    val edges = Seq(
      ("a0", "a1"), ("a1", "a2"), ("a2", "a3"), ("a3", "aF"), // 4 hops
      ("b0", "b1"), ("b1", "bF"),                             // 2 hops
      ("c0", "cF"),                                           // 1 hop
      ("self", "self"),                                       // self-loop
      ("x", "y"), ("y", "x"),                                 // 2-cycle
      ("dup", "z1"), ("dup", "z0"))  // duplicate out-edge -> min() = z0
      .toDF("from_url", "to_url")
    val out = graft.operators.Crawl.resolveRedirectChains(edges, maxHops = 3)
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          (if (r.isNullAt(2)) -1L else r.getLong(2)),
          r.getBoolean(3))).toMap
    assert(out("a0") === ((null, -1L, false))) // 4 hops > cap: loud
    assert(out("a1") === (("aF", 3L, true)))
    assert(out("a3") === (("aF", 1L, true)))
    assert(out("b0") === (("bF", 2L, true)))
    assert(out("c0") === (("cF", 1L, true)))
    assert(out("self") === ((null, -1L, false)))
    assert(out("x") === ((null, -1L, false)))
    assert(out("y") === ((null, -1L, false)))
    assert(out("dup") === (("z0", 1L, true))) // deterministic min edge
    // every source gets exactly one verdict row — nothing silently lost
    assert(out.size === 11)
    assert(out("a2") === (("aF", 2L, true)))
  }

  test("frontier operator: relative links, robots, corpus anti-join") {
    val pages = Seq(
      ("http://h1.test/dir/index.html",
        """<a href="a">A</a><a href="/top/b">B</a>""" +
          """<a href="../up/c?x=1&amp;utm_source=z">C</a>""" +
          """<a href="http://H2.test:80/abs">D</a>"""),
      ("http://h1.test/dir/other.html",
        """<a href="a">A again</a><a href="/private/p">deny</a>""" +
          """<a href="http://norobots.test/open">E</a>"""))
      .toDF("url", "page")
    val robotsDim = Seq(
      ("h1.test", "User-agent: *\nDisallow: /private\n"),
      ("h2.test", "User-agent: *\nDisallow: /nothing\n"))
      .toDF("host", "robots")
    val corpus = Seq("http://h1.test/top/b").toDF("known")
    val out = graft.operators.Crawl
      .frontier(pages, "url", "page", robotsDim, corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sibling link referenced from BOTH pages -> one row, 2 refs
    assert(out("http://h1.test/dir/a") === 2L)
    // dotted relative + entity + tracking param folded
    assert(out("http://h1.test/up/c?x=1") === 1L)
    // absolute link: case + default port folded, other-host robots ok
    assert(out("http://h2.test/abs") === 1L)
    // host with NO robotsDim row: no published robots.txt = allowed
    // (RFC 9309 §2.3.1.1) — a left join, never a silent inner-join drop
    assert(out("http://norobots.test/open") === 1L)
    // /top/b is already in the corpus; /private/p is robots-denied
    assert(out.size === 4)
  }

  test("frontierResolved: a moved page whose target is crawled is NOT new") {
    val pages = Seq(
      ("http://h1.test/index.html",
        """<a href="/moved-old">M</a><a href="/fresh">F</a>""" +
          """<a href="/moved-new-target">T</a>""" +
          """<a href="/moved-denied">D</a>"""))
      .toDF("url", "page")
    val robotsDim = Seq(("h1.test", "User-agent: *\nDisallow: /private\n"))
      .toDF("host", "robots")
    // the redirect map says /moved-old 301s to /known (already crawled),
    // /moved-new-target 301s to /new-target (NOT crawled), and
    // /moved-denied 301s INTO the robots-disallowed /private tree
    val edges = Seq(
      ("http://h1.test/moved-old", "http://h1.test/known"),
      ("http://h1.test/moved-new-target", "http://h1.test/new-target"),
      ("http://h1.test/moved-denied", "http://h1.test/private/x"))
      .toDF("from_url", "to_url")
    val redirects = graft.operators.Crawl.resolveRedirectChains(edges)
    val corpus = Seq("http://h1.test/known").toDF("known")
    val out = graft.operators.Crawl
      .frontierResolved(pages, "url", "page", robotsDim, corpus, redirects)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // /moved-old resolved to the crawled /known -> anti-joined away;
    // plain frontier() would have re-entered it as "new"
    val plain = graft.operators.Crawl
      .frontier(pages, "url", "page", robotsDim, corpus)
      .collect().map(_.getString(0)).toSet
    assert(plain.contains("http://h1.test/moved-old"))
    assert(!out.contains("http://h1.test/moved-old"))
    // a moved page with an uncrawled target surfaces AS the target
    assert(out("http://h1.test/new-target") === 1L)
    assert(!out.contains("http://h1.test/moved-new-target"))
    // a redirect INTO a robots-disallowed path is gated on the FINAL
    // location (RFC 9309 applies to every request of the chain): neither
    // the original nor the forbidden target may enter the frontier
    assert(!out.contains("http://h1.test/private/x"))
    assert(!out.contains("http://h1.test/moved-denied"))
    // an unmoved new link stays on its own key
    assert(out("http://h1.test/fresh") === 1L)
    assert(out.size === 2)
  }

  test("polite schedule: per-host slots, delay spacing, 1s default") {
    val urls = Seq(
      ("slow.test", "http://slow.test/b"),
      ("slow.test", "http://slow.test/a"),
      ("slow.test", "http://slow.test/c"),
      ("fast.test", "http://fast.test/x"),
      ("fast.test", "http://fast.test/y"),
      ("norobots.test", "http://norobots.test/m"),
      ("norobots.test", "http://norobots.test/n")).toDF("host", "url")
    val robots = Seq(
      ("slow.test", "User-agent: *\nCrawl-delay: 2.5\nDisallow: /p\n"),
      ("fast.test", "User-agent: *\nDisallow: /p\n")) // no delay -> 1s
      .toDF("host", "robots")
    val out = graft.operators.Crawl.politeSchedule(urls, robots)
      .collect().map(r => r.getString(1) ->
        ((r.getInt(3), r.getDouble(4)))).toMap
    // slots ordered by URL within the host; spacing = delay
    assert(out("http://slow.test/a") === ((1, 0.0)))
    assert(out("http://slow.test/b") === ((2, 2.5)))
    assert(out("http://slow.test/c") === ((3, 5.0)))
    // absent delay -> the 1 s default, never zero-gap hammering
    assert(out("http://fast.test/x") === ((1, 0.0)))
    assert(out("http://fast.test/y") === ((2, 1.0)))
    // host with NO robots row at all: still scheduled (left join), at
    // the same polite 1 s default — absent hosts never vanish
    assert(out("http://norobots.test/m") === ((1, 0.0)))
    assert(out("http://norobots.test/n") === ((2, 1.0)))
  }

  test("polite schedule: the de-skewed two-pass path produces IDENTICAL " +
      "slots (threshold only picks the plan shape)") {
    val rnd = new scala.util.Random(61)
    // one mega host with ~80% of URLs + a tail of small hosts — the
    // q239 shape; shuffled input order so ranking is doing real work
    val rows = rnd.shuffle(
      (0 until 400).map(i => ("big.test", f"http://big.test/u$i%04d")) ++
      (0 until 100).map(i =>
        (s"ex${i % 20}.test", s"http://ex${i % 20}.test/p$i")))
    val urls = rows.toDF("host", "url")
    val robots = Seq(
      ("big.test", "User-agent: *\nCrawl-delay: 2\nDisallow: /zz\n"))
      .toDF("host", "robots")
    def run(threshold: Long) = graft.operators.Crawl
      .politeSchedule(urls, robots, deskewHostUrls = threshold)
      .select("host", "url", "crawl_delay", "slot", "offset_s")
      .orderBy("host", "url").collect().toSeq
    val windowed = run(Long.MaxValue) // everything on the window path
    val deskewed = run(50L) // big.test (400) two-pass, tails windowed
    val allDeskewed = run(1L) // EVERY host on the two-pass path
    assert(windowed === deskewed)
    assert(windowed === allDeskewed)
    // spot-check the mega host actually serializes at its crawl delay
    val big = windowed.filter(_.getString(0) == "big.test")
    assert(big.map(_.getInt(3)).toSeq === (1 to 400))
    assert(big.last.getDouble(4) === 399 * 2.0)
  }

  test("mergeGeneration: every verdict row — upsert/touch/remove/retain") {
    def warc(uri: String, http: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: <$uri>" +
        s"\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
        .getBytes("US-ASCII")
    def page(txt: String, etag: String): String =
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nETag: " + etag +
        s"\r\n\r\n<html><body><p>$txt</p></body></html>"
    val cols = Seq("url", "status", "mime", "charset", "text",
      "text_bytes", "link_density", "n_links", "last_modified", "etag",
      "last_crawled")
    val t0 = "2026-01-15T00:00:00"; val t1 = "2026-02-01T00:00:00"
    def c0(u: String): (String, Int, String, String, String, Long,
        Double, Long, String, String, String) =
      (s"http://ex.test/$u", 200, "text/html", "ascii",
        s"old body of $u with plenty words", 32L, 0.0, 0L, null,
        "\"v0\"", t0)
    val corpus0 = Seq(c0("keep"), c0("gone"), c0("fresh"), c0("moved"),
      c0("flaky"), c0("shrunk"), c0("untouched")).toDF(cols: _*)
    val fetched = Seq(
      warc("http://ex.test/keep", page("brand new body with many words",
        "\"v1\"")),
      warc("http://ex.test/gone",
        "HTTP/1.1 404 NF\r\nContent-Type: text/html\r\n\r\n<p>g</p>"),
      warc("http://ex.test/fresh",
        "HTTP/1.1 304 Not Modified\r\n\r\n"),
      warc("http://ex.test/moved",
        "HTTP/1.1 301 Moved\r\nLocation: /elsewhere\r\n\r\n"),
      warc("http://ex.test/flaky",
        "HTTP/1.1 503 Unavailable\r\n\r\n<p>later</p>"),
      warc("http://ex.test/shrunk", page("x", "\"v1\"")),
      warc("http://ex.test/brandnew", page("a new page joins the corpus",
        "\"n1\"")))
      .toDF("payload")
    val out = graft.operators.Crawl
      .mergeGeneration(corpus0, fetched, fetchTime = t1,
        minTextBytes = 10L)
      .collect()
      .map(r => r.getAs[String]("url") -> ((r.getAs[String]("text"),
        r.getAs[String]("etag"), r.getAs[String]("last_crawled")))).toMap
    // 200 kept -> upsert: new text, the NEW response's validator, t1
    assert(out("http://ex.test/keep") ===
      (("brand new body with many words", "\"v1\"", t1)))
    // 304 -> touch: old text + old validator verbatim, crawl stamp moves
    assert(out("http://ex.test/fresh") ===
      (("old body of fresh with plenty words", "\"v0\"", t1)))
    // 5xx -> retain verbatim (a hiccup never deletes corpus)
    assert(out("http://ex.test/flaky") ===
      (("old body of flaky with plenty words", "\"v0\"", t0)))
    // unfetched -> retain verbatim
    assert(out("http://ex.test/untouched") ===
      (("old body of untouched with plenty words", "\"v0\"", t0)))
    // brand-new 200 -> insert
    assert(out("http://ex.test/brandnew") ===
      (("a new page joins the corpus", "\"n1\"", t1)))
    // 404 / 301 / rotted-200 -> removed
    assert(!out.contains("http://ex.test/gone"))
    assert(!out.contains("http://ex.test/moved"))
    assert(!out.contains("http://ex.test/shrunk"))
    assert(out.size === 5)
    // schema contract: output == input shape (composes into the next
    // generation and into recrawlScheduleHttp)
    val out2 = graft.operators.Crawl
      .mergeGeneration(corpus0, fetched, fetchTime = t1,
        minTextBytes = 10L)
    assert(out2.columns.toSeq === cols)
  }

  test("mergeGeneration: ONE archive pass — the WARC kernel runs once " +
      "per archive for the whole merge") {
    def warc(uri: String, http: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: <$uri>" +
        s"\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
        .getBytes("US-ASCII")
    def page(txt: String): String =
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><body><p>$txt</p></body></html>"
    val cols = Seq("url", "status", "mime", "charset", "text",
      "text_bytes", "link_density", "n_links", "last_modified", "etag",
      "last_crawled")
    val corpus0 = Seq(("http://ex.test/a", 200, "text/html", "ascii",
      "old words here for page a", 25L, 0.0, 0L,
      null: String, null: String, "2026-01-15T00:00:00")).toDF(cols: _*)
    val fetched = (0 until 40).map(i =>
      warc(s"http://ex.test/p$i", page(s"fresh words for page $i keep")))
      .toDF("payload")
    val before = graft.expressions.WarcKernel.parseCount.get()
    val out = graft.operators.Crawl.mergeGeneration(corpus0, fetched,
      fetchTime = "2026-02-01T00:00:00", minTextBytes = 10L)
    val rows = out.count()
    val runs = graft.expressions.WarcKernel.parseCount.get() - before
    assert(rows === 41L) // 40 inserts + the retained corpus row
    // the pinned annotated scan is the ONLY consumer of the parse: the
    // verdict dim and the upsert union both read the pin, never the
    // archives (r15 ran the parse twice per generation)
    assert(runs === 40L,
      s"expected 40 kernel runs for 40 archives, got $runs")
  }

  test("mergeGeneration: verdict precedence — a successful kept " +
      "re-fetch beats an earlier gone/moved response") {
    def warc(uri: String, http: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: <$uri>" +
        s"\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
        .getBytes("US-ASCII")
    def page(txt: String): String =
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><body><p>$txt</p></body></html>"
    val notFound = "HTTP/1.1 404 NF\r\nContent-Type: text/html\r\n\r\n<p>g</p>"
    val cols = Seq("url", "status", "mime", "charset", "text",
      "text_bytes", "link_density", "n_links", "last_modified", "etag",
      "last_crawled")
    val corpus0 = Seq.empty[(String, Int, String, String, String, Long,
      Double, Long, String, String, String)].toDF(cols: _*)
    val fetched = Seq(
      // 404 AND a kept 200 on the same url: the page is ALIVE — the
      // fresh content must insert, not be deleted by the earlier miss
      warc("http://ex.test/retry", notFound),
      warc("http://ex.test/retry", page("the page came back with words")),
      // 301 AND a kept 200: same rule for moved-then-recovered
      warc("http://ex.test/back",
        "HTTP/1.1 301 Moved\r\nLocation: /elsewhere\r\n\r\n"),
      warc("http://ex.test/back", page("content lives here after all")),
      // a DROPPED 200 beside a kept 200: the url IS kept -> upsert
      warc("http://ex.test/twice", page("x")),
      warc("http://ex.test/twice", page("the substantial fetch wins out")),
      // 404 beside a DROPPED 200: nothing keepable exists -> no row
      warc("http://ex.test/trulygone", notFound),
      warc("http://ex.test/trulygone", page("x")))
      .toDF("payload")
    val out = graft.operators.Crawl.mergeGeneration(corpus0, fetched,
        fetchTime = "2026-02-01T00:00:00", minTextBytes = 10L)
      .collect().map(r =>
        r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(out("http://ex.test/retry") === "the page came back with words")
    assert(out("http://ex.test/back") === "content lives here after all")
    assert(out("http://ex.test/twice") === "the substantial fetch wins out")
    assert(!out.contains("http://ex.test/trulygone"))
    assert(out.size === 3)
  }

  test("thresholds are validated at construction") {
    val df = Seq((1L, plantedWarc)).toDF("id", "payload")
    intercept[IllegalArgumentException] {
      Crawl.auditCorpus(df, maxLinkDensity = 1.5)
    }
    intercept[IllegalArgumentException] {
      Crawl.auditCorpus(df, minTextBytes = 0L)
    }
  }

  test("politeSchedule: construction-time job budget — ONE probe job " +
      "for a balanced schedule; the de-skew branch reads a pinned " +
      "host set") {
    val urls = (0 until 30).map(i =>
      (s"ex${i % 6}.test", s"http://ex${i % 6}.test/p$i"))
      .toDF("host", "url")
    val robots = Seq(("ex0.test", "User-agent: *\nCrawl-delay: 2\n"))
      .toDF("host", "robots")
    // balanced: construction runs EXACTLY the probe — no pin, no range
    // sample; the scaladoc's caller contract
    val (plan, m1) = graft.core.Meter.measure(spark)(
      graft.operators.Crawl.politeSchedule(urls, robots))
    val balanced = m1.total.jobs
    info(s"balanced construction jobs: $balanced")
    assert(balanced <= 5,
      s"balanced politeSchedule construction ran $balanced jobs " +
        "(want only the probe's AQE stage-jobs)")
    assert(plan.count() === 30L)
    // de-skewed: probe + mega pin + globalRowNumber's construction jobs;
    // budget pinned so a regression (an unpinned rollup re-running the
    // urls scan per consumer) is loud
    val (plan2, m2) = graft.core.Meter.measure(spark)(
      graft.operators.Crawl.politeSchedule(urls, robots, deskewHostUrls = 1L))
    val deskewed = m2.total.jobs
    info(s"de-skew construction jobs: $deskewed")
    assert(deskewed <= 14,
      s"de-skew politeSchedule construction ran $deskewed jobs " +
        "(want probe + mega pin + the rank's range pin)")
    assert(plan2.count() === 30L)
  }

  test("mergeGeneration: the pin is KEPT-generation-sized — a " +
      "90%-dropped generation checkpoints headers, not dropped text") {
    def warc(uri: String, http: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: <$uri>" +
        s"\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
        .getBytes("US-ASCII")
    val words = ("lorem ipsum prose words fill the page body " * 12).trim
    // kept page: ~500 B of plain prose
    def prosePage(i: Int): String =
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><body><p>page $i $words</p></body></html>"
    // link farm: the SAME text volume, all inside anchors — passes the
    // size gate, fails density, so its big extracted text is exactly
    // what an unguarded pin would checkpoint
    def farmPage(i: Int): String =
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><body><a href='/u'>farm $i $words</a></body></html>"
    val cols = Seq("url", "status", "mime", "charset", "text",
      "text_bytes", "link_density", "n_links", "last_modified", "etag",
      "last_crawled")
    val corpus0 = Seq.empty[(String, Int, String, String, String, Long,
      Double, Long, String, String, String)].toDF(cols: _*)
    def pinnedBytes(fetched: org.apache.spark.sql.DataFrame): Long = {
      val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
      val out = graft.operators.Crawl.mergeGeneration(corpus0, fetched,
        fetchTime = "2026-02-01T00:00:00", minTextBytes = 10L)
      out.count()
      val bytes = spark.sparkContext.getRDDStorageInfo
        .filterNot(i => before(i.id)).map(i => i.memSize + i.diskSize).sum
      spark.sparkContext.getPersistentRDDs
        .filterNot(kv => before(kv._1)).values
        .foreach(_.unpersist(blocking = true))
      bytes
    }
    val allKept = (0 until 60).map(i =>
      warc(s"http://ex.test/k$i", prosePage(i))).toDF("payload")
    val mostlyDropped = (0 until 60).map(i =>
      if (i % 10 == 0) warc(s"http://ex.test/k$i", prosePage(i))
      else warc(s"http://ex.test/f$i", farmPage(i))).toDF("payload")
    val keptSize = pinnedBytes(allKept)
    val droppedSize = pinnedBytes(mostlyDropped)
    assert(keptSize > 0L && droppedSize > 0L)
    // same record count, same per-record text volume — only the kept
    // fraction differs (6/60), so the pin must shrink with it; the
    // pre-guard pin checkpointed every candidate's text and the two
    // sizes came out equal
    assert(droppedSize < keptSize / 2,
      s"90%-dropped pin $droppedSize B vs all-kept $keptSize B — " +
        "dropped candidates are checkpointing their extracted text")
  }

  test("recrawlSchedule: reduced-granularity forms are session-" +
      "timezone-INDEPENDENT (string rule, never cast semantics)") {
    val entries = Seq(
      // date-only lastmod vs full-Z crawl time: under cast semantics
      // in Asia/Tokyo this parses as Jan 5 15:00Z (SKIP) but in UTC as
      // Jan 6 00:00Z (REFRESH) — the string rule says refresh, always
      ("http://ex.test/reduced", "2026-01-06"),
      // mixed offsets, both full W3C forms: the INSTANT compare must
      // still hold under a non-UTC session (+09:00 is earlier -> skip)
      ("http://ex.test/offsets", "2026-01-02T01:00:00+09:00"),
      // fractional seconds parse (stripped): chronologically newer
      ("http://ex.test/frac", "2026-01-06T00:00:00.250Z"))
      .toDF("url", "lastmod")
    val corpus = Seq(
      ("http://ex.test/reduced", "2026-01-05T20:00:00Z"),
      ("http://ex.test/offsets", "2026-01-01T23:00:00Z"),
      ("http://ex.test/frac", "2026-01-05T00:00:00Z"))
      .toDF("url", "last_crawled")
    def run(): Map[String, String] = graft.operators.Crawl
      .recrawlSchedule(entries, corpus).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("action")).toMap
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    val inUtc =
      try { spark.conf.set(tzKey, "UTC"); run() }
      finally spark.conf.set(tzKey, saved)
    val inTokyo =
      try { spark.conf.set(tzKey, "Asia/Tokyo"); run() }
      finally spark.conf.set(tzKey, saved)
    assert(inUtc === inTokyo,
      s"verdicts moved with the session timezone: $inUtc vs $inTokyo")
    assert(inUtc("http://ex.test/reduced") === "refresh")
    assert(inUtc("http://ex.test/offsets") === "skip")
    assert(inUtc("http://ex.test/frac") === "refresh")
  }

  test("non-literal threshold arguments are a clean analysis error") {
    val df = Seq((1L, plantedWarc)).toDF("id", "payload")
    df.createOrReplaceTempView("nfwarcs")
    // a COLUMN where a literal is required: named NON_FOLDABLE_ARGUMENT
    // error, not a raw Catalyst Unevaluable/eval exception
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT graft_crawl_audit(payload, id % 2, 5) FROM nfwarcs")
        .collect()
    }
    assert(e.getMessage.contains("graft_crawl_audit"))
    assert(e.getMessage.contains("max_link_density"))
    // a foldable-but-nondeterministic expression must not be silently
    // frozen at plan time either
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT graft_shingle_hash('abc', CAST(rand() * 3 AS INT) + 2)")
        .collect()
    }
    assert(e2.getMessage.contains("graft_shingle_hash"))
  }
}
