package graft

import graft.expressions.UrlResolve

/** RFC 3986 §5 reference resolution ([[UrlResolve]],
  * `graft_resolve_url`): the spec's OWN §5.4 example tables (normal and
  * abnormal, verbatim), crawl-shaped composition with canon, and a
  * differential fuzz against `java.net.URI.resolve` inside the region
  * where the two agree (the JDK deviates on empty refs, absolute-ref
  * dot segments, and bare `%` — each divergence pinned here). Also URL
  * canonicalization (`graft_canon_url`): its fold rules, the IDN flag,
  * and idempotence on random messy URLs. */
class UrlResolveSpec extends SparkSpec {
  import spark.implicits._

  private val Base = "http://a/b/c/d;p?q"
  private def r(ref: String): String = UrlResolve.resolve(Base, ref)

  test("RFC 3986 §5.4.1 normal examples, verbatim") {
    assert(r("g:h") === "g:h")
    assert(r("g") === "http://a/b/c/g")
    assert(r("./g") === "http://a/b/c/g")
    assert(r("g/") === "http://a/b/c/g/")
    assert(r("/g") === "http://a/g")
    assert(r("//g") === "http://g")
    assert(r("?y") === "http://a/b/c/d;p?y")
    assert(r("g?y") === "http://a/b/c/g?y")
    assert(r("#s") === "http://a/b/c/d;p?q#s")
    assert(r("g#s") === "http://a/b/c/g#s")
    assert(r("g?y#s") === "http://a/b/c/g?y#s")
    assert(r(";x") === "http://a/b/c/;x")
    assert(r("g;x") === "http://a/b/c/g;x")
    assert(r("g;x?y#s") === "http://a/b/c/g;x?y#s")
    assert(r("") === "http://a/b/c/d;p?q")
    assert(r(".") === "http://a/b/c/")
    assert(r("./") === "http://a/b/c/")
    assert(r("..") === "http://a/b/")
    assert(r("../") === "http://a/b/")
    assert(r("../g") === "http://a/b/g")
    assert(r("../..") === "http://a/")
    assert(r("../../") === "http://a/")
    assert(r("../../g") === "http://a/g")
  }

  test("RFC 3986 §5.4.2 abnormal examples, verbatim") {
    // .. cannot climb above the root
    assert(r("../../../g") === "http://a/g")
    assert(r("../../../../g") === "http://a/g")
    assert(r("/./g") === "http://a/g")
    assert(r("/../g") === "http://a/g")
    assert(r("g.") === "http://a/b/c/g.")
    assert(r(".g") === "http://a/b/c/.g")
    assert(r("g..") === "http://a/b/c/g..")
    assert(r("..g") === "http://a/b/c/..g")
    // nonsensical dot forms
    assert(r("./../g") === "http://a/b/g")
    assert(r("./g/.") === "http://a/b/c/g/")
    assert(r("g/./h") === "http://a/b/c/g/h")
    assert(r("g/../h") === "http://a/b/c/h")
    assert(r("g;x=1/./y") === "http://a/b/c/g;x=1/y")
    assert(r("g;x=1/../y") === "http://a/b/c/y")
    // query/fragment are not path-relative
    assert(r("g?y/./x") === "http://a/b/c/g?y/./x")
    assert(r("g?y/../x") === "http://a/b/c/g?y/../x")
    assert(r("g#s/./x") === "http://a/b/c/g#s/./x")
    assert(r("g#s/../x") === "http://a/b/c/g#s/../x")
    // strict parser: same-scheme relative backcompat NOT honored
    assert(r("http:g") === "http:g")
  }

  test("crawl shapes: protocol-relative, root, empty base path, nulls") {
    assert(UrlResolve.resolve("https://h.test/a/b", "//cdn.test/x.js") ===
      "https://cdn.test/x.js")
    // empty base path: merge inserts the leading slash (RFC §5.3)
    assert(UrlResolve.resolve("http://h.test", "a") === "http://h.test/a")
    assert(UrlResolve.resolve("http://h.test?q=1", "a") ===
      "http://h.test/a")
    // base fragment never survives (same-document ref re-targets it)
    assert(UrlResolve.resolve("http://h.test/p#old", "") ===
      "http://h.test/p")
    assert(UrlResolve.resolve("http://h.test/p#old", "#new") ===
      "http://h.test/p#new")
    // relative base cannot anchor resolution
    assert(UrlResolve.resolve("/just/a/path", "g") === null)
    assert(UrlResolve.resolve("", "g") === null)
    // absolute ref with dot segments: removed (the JDK skips this)
    assert(UrlResolve.resolve(Base, "http://x.test/a/../b") ===
      "http://x.test/b")
  }

  test("fuzz: matches java.net.URI.resolve where the specs agree") {
    val rnd = new scala.util.Random(3986)
    val segs = Array("a", "bb", "ccc", ".", "..", "d1")
    def randRef(): String = {
      val sb = new StringBuilder
      val abs = rnd.nextInt(4) == 0
      if (abs) sb.append('/')
      val n = 1 + rnd.nextInt(4)
      for (i <- 0 until n) {
        if (i > 0) sb.append('/')
        sb.append(segs(rnd.nextInt(segs.length)))
      }
      if (rnd.nextInt(3) == 0) sb.append("?q=").append(rnd.nextInt(10))
      if (rnd.nextInt(4) == 0) sb.append("#f").append(rnd.nextInt(10))
      sb.toString
    }
    var checked = 0
    for (_ <- 0 until 3000) {
      val ref = randRef()
      // agreement region: refs whose JDK result is FULLY FOLDED. The JDK
      // deviates from RFC §5.2.4 wherever dot segments survive its own
      // resolution — it skips remove_dot_segments on absolute-path refs
      // (URI.resolve("/./d1") keeps the "./") and keeps excess ".."
      // above the root ("./../../.." → "/.."), where the RFC's §5.4.2
      // example table requires /./g → /g and caps climbs at the root;
      // the kernel follows the RFC (pinned in the abnormal tests above)
      val want = try {
        val w = new java.net.URI(Base).resolve(ref).toString
        val path = w.takeWhile(c => c != '?' && c != '#')
        if (path.split('/').exists(s => s == "." || s == "..")) null else w
      } catch { case _: Throwable => null }
      if (want != null) {
        assert(UrlResolve.resolve(Base, ref) === want, s"ref '$ref'")
        checked += 1
      }
    }
    assert(checked > 2500)
  }

  test("fuzz: random BASES too — merge anchors on every base shape") {
    val rnd = new scala.util.Random(5234)
    val segs = Array("d", "ee", "fff")
    def randBase(): String = {
      val sb = new StringBuilder("http://h")
      sb.append(rnd.nextInt(3)).append(".test")
      val n = rnd.nextInt(4) // 0 = empty path (the §5.3 '/' insertion)
      for (_ <- 0 until n) sb.append('/').append(segs(rnd.nextInt(3)))
      if (rnd.nextBoolean() && n > 0) sb.append('/') // directory base
      if (rnd.nextInt(3) == 0) sb.append("?bq=1")
      sb.toString
    }
    def randRef(): String = {
      val sb = new StringBuilder
      for (i <- 0 until 1 + rnd.nextInt(3)) {
        if (i > 0) sb.append('/')
        sb.append(segs(rnd.nextInt(3)))
      }
      if (rnd.nextInt(3) == 0) sb.append("?q=2")
      sb.toString
    }
    var checked = 0
    for (_ <- 0 until 2000) {
      val base = randBase()
      val ref = randRef()
      val want = try {
        val w = new java.net.URI(base).resolve(ref).toString
        val path = w.takeWhile(c => c != '?' && c != '#')
        if (path.split('/').exists(s => s == "." || s == "..")) null else w
      } catch { case _: Throwable => null }
      if (want != null) {
        assert(UrlResolve.resolve(base, ref) === want,
          s"base '$base' ref '$ref'")
        checked += 1
      }
    }
    assert(checked > 1500)
  }

  test("SQL surface: resolve composes with canon for frontier keys") {
    val df = Seq(
      (1L, "http://EX.test/dir/page.html", "../other?a=1&utm_source=x"),
      (2L, "http://ex.test/dir/", "sub/p2#frag"),
      (3L, "http://ex.test/a", null.asInstanceOf[String]))
      .toDF("id", "base", "href")
    df.createOrReplaceTempView("resolve_fixture")
    val out = spark.sql(
      """SELECT id, graft_canon_url(graft_resolve_url(base, href)) AS key
        |FROM resolve_fixture ORDER BY id""".stripMargin).collect()
    assert(out(0).getString(1) === "http://ex.test/other?a=1")
    assert(out(1).getString(1) === "http://ex.test/dir/sub/p2")
    assert(out(2).isNullAt(1))
  }

  test("graft_canon_url: case, default ports, fragments, tracking " +
      "params, trailing slashes — and the things it must NOT touch") {
    import graft.expressions.UrlCanon.canon
    assert(canon("HTTP://Ex.COM:80/A/b/?utm_source=x&a=1&ref=z#frag")
      === "http://ex.com/A/b?a=1")
    assert(canon("https://H.test:443/x") === "https://h.test/x")
    // non-default ports and non-http(s) schemes keep their port
    assert(canon("http://h.test:8080/x") === "http://h.test:8080/x")
    assert(canon("ftp://H.test:80/X") === "ftp://h.test:80/X")
    // path case and param ORDER are preserved; only tracking keys drop
    assert(canon("http://h.test/P?b=2&a=1&gclid=g&mc_cid=m")
      === "http://h.test/P?b=2&a=1")
    // all-tracking query drops the '?' entirely; root slash folds
    assert(canon("http://h.test/?utm_campaign=c") === "http://h.test")
    assert(canon(" http://a.b/c ") === "http://a.b/c")
    // userinfo is case-sensitive (RFC 3986): only the host lowercases
    assert(canon("http://User:Pw@Ex.COM:80/P") === "http://User:Pw@ex.com/P")
    assert(canon("http://user@/p") === null)
    assert(canon("no scheme here") === null)
    assert(canon("://host/x") === null)
    assert(canon("http:///path") === null)
    // an authority that is ONLY a default port strips to hostless → null
    assert(canon("http://:80/x") === null)
    // ALL trailing slashes fold — the output must be a fixed point
    assert(canon("http://h.test/a//") === "http://h.test/a")
    assert(canon(null) === null)
    // invalid port shapes are rejected, not half-stripped (a multi-port
    // authority must not yield a key whose own canon differs)
    assert(canon("http://h.test:80:80/x") === null)
    assert(canon("http://h.test:8o/x") === null)
    assert(canon("http://:8080/x") === null)
    // empty port folds; leading zeros carry no port semantics, so a
    // zero-padded default port strips and a padded non-default port
    // collapses to the unpadded key (":080" == ":80", ":08080" == ":8080")
    assert(canon("http://h.test:/x") === "http://h.test/x")
    assert(canon("http://h.test:080/x") === "http://h.test/x")
    assert(canon("http://h.test:08080/x") === "http://h.test:8080/x")
    // all-zeros port strips to empty and folds like the empty port
    assert(canon("http://h.test:000/x") === "http://h.test/x")
    assert(canon("ftp://h.test:080/x") === "ftp://h.test:80/x")
    // IPv6 brackets shield the colons; default port still strips
    assert(canon("http://[::1]:80/x") === "http://[::1]/x")
    assert(canon("http://[::1]:8080/x") === "http://[::1]:8080/x")
    assert(canon("http://[::1/x") === null)
    // percent normalization: unreserved octets decode (%41→A, %7e→~),
    // reserved ones keep their encoding with uppercase hex, malformed
    // and double-encoded sequences are preserved verbatim
    assert(canon("http://h.test/%7euser/%41%2fb")
      === "http://h.test/~user/A%2Fb")
    assert(canon("http://%48.TEST/x") === "http://h.test/x")
    assert(canon("http://h.test/a%g1") === "http://h.test/a%g1")
    assert(canon("http://h.test/%2541") === "http://h.test/%2541")
    assert(canon("http://h.test/p?a=%3d&utm_source=%41")
      === "http://h.test/p?a=%3D")
    // the expression path agrees with the function
    val r = spark.sql("""SELECT
      |graft_canon_url(' HTTPS://WWW.Ex.TEST:443/Page/?fbclid=f&q=1#top')
      |AS c""".stripMargin).collect()(0)
    assert(r.getString(0) === "https://www.ex.test/Page?q=1")
  }

  test("graft_canon_url IDN flag: punycode fold collapses U-label and " +
      "A-label keys; default key untouched; idempotent; IDNA rejects -> " +
      "null") {
    import graft.expressions.UrlCanon.canon
    val puny = "http://xn--bcher-kva.de/x"
    assert(canon("http://BÜCHER.de/x", idnHost = true) === puny)
    assert(canon(puny, idnHost = true) === puny, "A-label is a fixed point")
    assert(canon("http://bücher.de:080/x", idnHost = true) === puny,
      "composes with port folding")
    // the DEFAULT key is byte-stable: no Unicode table dependency
    assert(canon("http://BÜCHER.de/x") === "http://bücher.de/x")
    // IPv6 brackets skip the fold
    assert(canon("http://[::1]:8080/x", idnHost = true)
      === "http://[::1]:8080/x")
    // a hostname IDNA rejects (64-char label) is not a canonical key
    val longLabel = "http://" + ("ü" * 64) + ".de/x"
    assert(canon(longLabel, idnHost = true) === null)
    assert(canon(longLabel) != null, "default key keeps it")
    // idempotence under the flag on mixed hosts
    for (u <- Seq("http://日本語.jp/a/b/?utm_source=x&q=1#f",
      "HTTPS://CafÉ.FR:443/P", "http://mixed.ü.ascii.test/x")) {
      val c = canon(u, idnHost = true)
      assert(c != null && canon(c, idnHost = true) === c, s"not idempotent: $u -> $c")
      assert(c.forall(_ < 0x80), s"folded key must be pure ASCII: $c")
    }
    // the expression surface honors the flag argument
    val r = spark.sql("""SELECT
      |graft_canon_url('http://BÜCHER.de/x', true) AS a,
      |graft_canon_url('http://BÜCHER.de/x') AS b""".stripMargin).collect()(0)
    assert(r.getString(0) === puny)
    assert(r.getString(1) === "http://bücher.de/x")
  }

  test("graft_canon_url fuzz: idempotent on random messy URLs (a " +
      "canonical form must be its own canonical form)") {
    val rnd = new scala.util.Random(97)
    val schemes = Seq("http", "HTTP", "https", "ftp")
    val hosts = Seq("Ex.COM", "a.b.c", "x", "[::1]", "User:P@H.io",
      "h%4F.io", "BÜCHER.de", "日本.jp", "xn--bcher-kva.de")
    val ports = Seq("", ":80", ":443", ":8080", ":", ":080", ":000",
      ":08080")
    val paths = Seq("", "/", "/A/b", "/A/b/", "/A/b//", "//x",
      "/%41b", "/a%2f", "/%7e%2541", "/a%zz", "/p%3dq")
    val queries = Seq("", "?a=1", "?utm_source=s", "?b=2&utm_a=1&a=1",
      "?ref=r&gclid=g", "?&&a=1", "?k=%3d%41")
    val frags = Seq("", "#f", "#a?b=1")
    for (_ <- 1 to 200) {
      def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
      val u = s"${pick(schemes)}://${pick(hosts)}${pick(ports)}" +
        s"${pick(paths)}${pick(queries)}${pick(frags)}"
      val c = graft.expressions.UrlCanon.canon(u)
      assert(c != null, s"parseable shape must canon: $u")
      assert(graft.expressions.UrlCanon.canon(c) === c,
        s"not idempotent: $u -> $c -> ${graft.expressions.UrlCanon.canon(c)}")
      // the flagged IDN variant must be idempotent on the same shapes
      val ci = graft.expressions.UrlCanon.canon(u, idnHost = true)
      assert(ci != null, s"IDN canon must accept the same shapes: $u")
      assert(graft.expressions.UrlCanon.canon(ci, idnHost = true) === ci,
        s"IDN canon not idempotent: $u -> $ci")
    }
  }
}
