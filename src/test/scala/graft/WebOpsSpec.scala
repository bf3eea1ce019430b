package graft

import org.apache.spark.sql.functions._

import graft.operators.WebOps

class WebOpsSpec extends SparkSuite {
  import spark.implicits._

  // ── urlNormalize ──────────────────────────────────────────────────

  test("urlNormalize: known answers for every canonicalization rule") {
    val cases = Seq(
      // scheme + host case, www, default port
      (1L, "HTTP://WWW.Example.COM:80/a/b",
        "example.com", "http://example.com/a/b"),
      // https default port strips, non-default port stays
      (2L, "https://site.org:443/x", "site.org", "https://site.org/x"),
      (3L, "http://site.org:8080/x", "site.org:8080",
        "http://site.org:8080/x"),
      // duplicate slashes collapse, trailing slash strips
      (4L, "http://h.io//a///b/", "h.io", "http://h.io/a/b"),
      // root path: empty becomes '/', and the root slash survives
      (5L, "http://h.io", "h.io", "http://h.io/"),
      (6L, "http://h.io/", "h.io", "http://h.io/"),
      // fragment drops, tracking params drop, survivors sort
      (7L, "http://h.io/p?z=2&utm_source=x&a=1&fbclid=y#frag",
        "h.io", "http://h.io/p?a=1&z=2"),
      // all params tracking -> no '?'
      (8L, "http://h.io/p?utm_medium=m&gclid=g&ref=r&mc_eid=e",
        "h.io", "http://h.io/p"),
      // a non-tracking param that merely CONTAINS 'ref' stays
      (9L, "http://h.io/p?preref=1", "h.io", "http://h.io/p?preref=1"),
      // percent-normalization (r13): unreserved escapes decode in
      // path, query AND host — uppercase or lowercase hex
      (10L, "http://h.io/%7Euser?a=%7e1", "h.io", "http://h.io/~user?a=~1"),
      (11L, "http://%68.io/%41-%5a%2d%2E%5F", "h.io", "http://h.io/A-Z-._"),
      // reserved escapes stay escaped, hex case-folds up
      (12L, "http://h.io/a%2fb?x=%3d", "h.io", "http://h.io/a%2Fb?x=%3D"),
      // malformed escapes ride through verbatim
      (13L, "http://h.io/100%?y=5%zz", "h.io", "http://h.io/100%?y=5%zz"))
    val out = WebOps.urlNormalize(
      cases.map(c => (c._1, c._2)).toDF("doc_id", "url"))
      .orderBy("doc_id").collect()
    cases.zip(out).foreach { case ((id, url, host, canon), row) =>
      assert(row.getAs[String]("host") == host, s"host of $url")
      assert(row.getAs[String]("url_canonical") == canon,
        s"canon of $url: got ${row.getAs[String]("url_canonical")}")
      assert(row.getAs[Long]("doc_id") == id)
    }
  }

  test("urlDedup: the synthetic fixture collapses groups of 4") {
    val docs = spark.range(0, 40).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
    val r = WebOps.urlDedup(docs).collect()
    assert(r.length == 40)
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val g = id / 4
      assert(row.getAs[Long]("canonical_doc") == g * 4,
        s"doc $id keeper")
      assert(row.getAs[Long]("group_size") == 4L, s"doc $id size")
      assert(row.getAs[Boolean]("keep") == (id % 4 == 0), s"doc $id keep")
      // every member of a group resolves to ONE canonical string —
      // including the three %-escape spellings of the w param and the
      // two hex cases of the kept reserved escape in z (r13)
      assert(row.getAs[String]("url_canonical") ==
        s"http://h${g % 20}.example.com/p/$g?v=${g % 3}&w=~${g % 5}&z=a%2Fb",
        s"doc $id canon: ${row.getAs[String]("url_canonical")}")
    }
  }

  // ── link graph ────────────────────────────────────────────────────

  test("linkExtract + hostGraph: absolute anchors normalize, relative drop") {
    val docs = Seq((10L, "t")).toDF("doc_id", "text")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), col("text")))
    val links = WebOps.linkExtract(docs).collect()
    // doc 10: clean + messy + relative + the UNQUOTED ext anchor
    // (10%4=2); no nofollow anchor (10%5=0)
    assert(links.length == 4, links.mkString(";"))
    assert(links.exists(_.getAs[String]("href") ==
      "http://ext1.example.org/u/10"),
      "the unquoted href must extract: " + links.mkString(";"))
    val edges = WebOps.hostGraph(docs).collect()
    // doc 10: src host h{(10/4)%20}=h2; dst one = h{(60+1)%20}=h1
    // clean; dst two = h{(130+3)%20}=h13 through the messy anchor
    // (uppercase+www+:80+doubled slashes); dst three = ext{10%3}=ext1
    // through the unquoted anchor; the relative anchor drops
    assert(edges.length == 3, edges.mkString(";"))
    val m = edges.map(r => (r.getAs[String]("dst_host"),
      (r.getAs[String]("src_host"), r.getAs[Long]("n_links")))).toMap
    assert(m("h1.example.com") == ("h2.example.com", 1L))
    assert(m("h13.example.com") == ("h2.example.com", 1L))
    assert(m("ext1.example.org") == ("h2.example.com", 1L))
  }

  test("anchorText: href/body pairs align by match order, hosts " +
      "normalize, relative anchors drop") {
    val docs = Seq((10L, "t")).toDF("doc_id", "text")
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), col("text")))
    val r = WebOps.anchorText(docs).collect()
      .map(x => (x.getAs[String]("dst_host"), x.getAs[String]("anchor"),
        x.getAs[Long]("n"))).toSet
    // doc 10: clean anchor -> (h1, 'doc 10'), messy anchor -> (h13,
    // 'two') through the shared normalizer, unquoted anchor -> (ext1,
    // 'four'); '/local/0' has no host
    assert(r == Set(("h1.example.com", "doc 10", 1L),
      ("h13.example.com", "two", 1L),
      ("ext1.example.org", "four", 1L)), s"got $r")
  }

  test("linkExtract + anchorText: a quoted '>' in an attribute BEFORE " +
      "href cannot truncate the tag (the textExtract attrBody rule)") {
    val html = "<p><a data-note=\"5 > 3\" href='http://a.io/x' " +
      "class='k'>kept</a> and <link href='http://css.io/s'></p>"
    val links = WebOps.linkExtract(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(_.getAs[String]("href"))
    // the anchor survives its quoted '>'; the <link> href is NOT an
    // edge (anchor-scoped extraction)
    assert(links.toSeq == Seq("http://a.io/x"), links.mkString(";"))
    val anchors = WebOps.anchorText(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(x => (x.getAs[String]("dst_host"),
        x.getAs[String]("anchor")))
    assert(anchors.toSeq == Seq(("a.io", "kept")), anchors.mkString(";"))
  }

  test("anchorText: aggregation counts repeated anchors per host") {
    val html = "<p><a href='http://a.io/1'>same</a> " +
      "<a href='http://a.io/2'>same</a> " +
      "<a href='http://a.io/3'>other</a></p>"
    val r = WebOps.anchorText(Seq((1L, html)).toDF("doc_id", "html"))
      .collect().map(x => x.getAs[String]("anchor") -> x.getAs[Long]("n"))
      .toMap
    assert(r == Map("same" -> 2L, "other" -> 1L), s"got $r")
  }

  test("linkExtract/anchorText honorNofollow: rel-nofollow anchors " +
      "(any quote style, rel before or after href, token within a " +
      "rel list) and nofollow PAGES drop; the default keeps them") {
    val docs = Seq(
      // rel after href, quoted; rel list with extra token
      (1L, "<p><a href='http://a.io/1' rel='nofollow noopener'>x</a>" +
        "<a href='http://b.io/1'>y</a></p>"),
      // rel BEFORE href, unquoted value
      (2L, "<p><a rel=nofollow href='http://c.io/1'>z</a></p>"),
      // rel token that merely CONTAINS nofollow must NOT trip
      (3L, "<p><a rel='nofollowish' href='http://d.io/1'>w</a></p>"),
      // page-level robots nofollow drops EVERY anchor on the page
      (4L, "<html><head><meta name='robots' content='nofollow'></head>" +
        "<body><a href='http://e.io/1'>v</a></body></html>"))
      .toDF("doc_id", "html")
    def hrefs(honor: Boolean) =
      WebOps.linkExtract(docs, honorNofollow = honor).collect()
        .map(_.getAs[String]("href")).toSet
    assert(hrefs(false) == Set("http://a.io/1", "http://b.io/1",
      "http://c.io/1", "http://d.io/1", "http://e.io/1"))
    assert(hrefs(true) == Set("http://b.io/1", "http://d.io/1"),
      s"got ${hrefs(true)}")
    def anchors(honor: Boolean) =
      WebOps.anchorText(docs, honorNofollow = honor).collect()
        .map(_.getAs[String]("dst_host")).toSet
    assert(anchors(false) ==
      Set("a.io", "b.io", "c.io", "d.io", "e.io"))
    assert(anchors(true) == Set("b.io", "d.io"), s"got ${anchors(true)}")
  }

  test("attribute extraction is quote-aware INSIDE the tag body: an " +
      "href or rel spelled inside another attribute's quoted value " +
      "never wins (review finding)") {
    val docs = Seq(
      (1L, "<p><a title=\"see href='http://evil.example/' here\" " +
        "href=\"http://real.example/\">x</a></p>"),
      (2L, "<p><a data-note=\"rel=nofollow suggested\" " +
        "href='http://a.io/'>y</a></p>")).toDF("doc_id", "html")
    val hrefs = WebOps.linkExtract(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("href")).toMap
    assert(hrefs(1L) == "http://real.example/", s"got $hrefs")
    // the spoofed rel inside a quoted value must not trip the gate
    val gated = WebOps.linkExtract(docs, honorNofollow = true).collect()
      .map(_.getAs[String]("href")).toSet
    assert(gated == Set("http://real.example/", "http://a.io/"),
      s"got $gated")
  }

  test("attribute value with the OTHER quote char embedded (r14 " +
      "advice): href=\"/don't\" extracts whole, not truncated at the " +
      "apostrophe; single-quoted values may hold double quotes") {
    val docs = Seq(
      (1L, "<p><a href=\"/don't/stop\">x</a></p>"),
      (2L, "<p><a href='/say/\"hi\"' title='she said \"go\"'>y</a></p>"))
      .toDF("doc_id", "html")
    val hrefs = WebOps.linkExtract(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("href")).toMap
    assert(hrefs(1L) == "/don't/stop", s"got $hrefs")
    assert(hrefs(2L) == "/say/\"hi\"", s"got $hrefs")
  }

  test("meta tag whose attribute merely ENDS in 'name' (r14 advice): " +
      "data-name=robots / itemname=robots are NOT robots directives; " +
      "the minimal <meta name=robots> still is") {
    val docs = Seq(
      (1L, "<html><head><meta data-name=robots content=noindex>" +
        "</head><body>x</body></html>"),
      (2L, "<html><head><meta itemname=\"robots\" content=\"noindex\">" +
        "</head><body>x</body></html>"),
      (3L, "<html><head><meta name=robots content=noindex></head>" +
        "<body>x</body></html>")).toDF("doc_id", "html")
    val r = WebOps.metaRobots(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("robots"), x.getAs[Boolean]("noindex")))).toMap
    assert(r(1L) == (("", false)), s"data-name gated the page: $r")
    assert(r(2L) == (("", false)), s"itemname gated the page: $r")
    assert(r(3L) == (("noindex", true)), s"minimal legal tag: $r")
  }

  test("robots meta honors DOCUMENT order when several robots tags " +
      "stack (review finding: the name-first form must not shadow an " +
      "earlier content-first one)") {
    val docs = Seq(
      (1L, "<html><head><meta content=noindex name=robots>" +
        "<meta name=\"robots\" content=\"nofollow\"></head>" +
        "<body>x</body></html>")).toDF("doc_id", "html")
    val r = WebOps.metaRobots(docs).collect()(0)
    assert(r.getAs[String]("robots") == "noindex", s"got $r")
    assert(r.getAs[Boolean]("noindex"), s"got $r")
    assert(!r.getAs[Boolean]("nofollow"), s"got $r")
  }

  test("pageRank: empty edge frame with dangling redistribution " +
      "returns an empty rank frame, not a division crash") {
    val edges = Seq.empty[(String, String, Long)]
      .toDF("src_host", "dst_host", "n_links")
    assert(WebOps.pageRank(edges, redistributeDangling = true)
      .count() == 0L)
  }

  test("hostGraph honorNofollow shifts pageRank mass off opted-out " +
      "edges (the published PageRank-as-quality contract)") {
    val docs = spark.range(0, 60).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), lit("w")))
    val all = WebOps.hostGraph(docs)
    val honored = WebOps.hostGraph(docs, honorNofollow = true)
    val nAll = all.agg(sum("n_links")).collect()(0).getLong(0)
    val nHon = honored.agg(sum("n_links")).collect()(0).getLong(0)
    // the fixture plants rel-nofollow anchors (id%5=3) and nofollow
    // pages (id%9 in {4,7}) — the honored graph must be strictly
    // smaller, never larger
    assert(nHon < nAll, s"honored $nHon vs all $nAll")
    // rank mass shifts: the /n/-path targets (7id+2 anchors) lose
    // in-rank when their only planted edges are nofollow
    val rAll = WebOps.pageRank(all).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    val rHon = WebOps.pageRank(honored).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    assert(rAll != rHon, "dropping nofollow edges must move rank mass")
  }

  test("robotsTxtGate/Audit: prefix semantics ('/p/1' matches /p/1 " +
      "and /p/10..19), '/' disallows everything, rule-free hosts pass") {
    val pages = Seq(
      (1L, "http://h0.example.com/p/1?x=1"), // k=0: rule /p/1 -> hit
      (2L, "http://h0.example.com/p/12"), // prefix hit
      (3L, "http://h0.example.com/p/2"), // no hit
      (4L, "http://h2.example.com/p/9"), // k=2: rule '/' -> hit
      (5L, "http://h1.example.com/p/1"), // no rules for h1
      (6L, "http://h9.example.com/anything")) // k=9: /p/1 only -> pass
      .toDF("doc_id", "url")
    val rules = WebOps.syntheticRobotsRules(spark)
    val g = WebOps.robotsTxtGate(pages, rules).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Boolean]("disallowed"), x.getAs[String]("matched_prefix"))))
      .toMap
    assert(g(1L) == ((true, "/p/1")), s"got ${g(1L)}")
    assert(g(2L) == ((true, "/p/1")), s"got ${g(2L)}")
    assert(g(3L) == ((false, null)), s"got ${g(3L)}")
    assert(g(4L) == ((true, "/")), s"got ${g(4L)}")
    assert(g(5L) == ((false, null)), s"got ${g(5L)}")
    assert(g(6L) == ((false, null)), s"got ${g(6L)}")
    val a = WebOps.robotsTxtAudit(pages, rules).collect()
      .map(x => x.getAs[String]("host") ->
        ((x.getAs[Long]("n_pages"), x.getAs[Long]("n_disallowed"),
          x.getAs[Long]("disallowed_ppm")))).toMap
    assert(a("h0.example.com") == ((3L, 2L, 666666L)), s"got $a")
    assert(a("h2.example.com") == ((1L, 1L, 1000000L)), s"got $a")
    assert(a("h1.example.com") == ((1L, 0L, 0L)), s"got $a")
  }

  test("pageRank: dangling redistribution returns the sink's damped " +
      "mass equally (hand-computed); the simple variant absorbs") {
    // a -> b, b has no outlinks: 2 nodes
    val edges = Seq(("a", "b", 1L)).toDF("src_host", "dst_host", "n_links")
    // iter1: dang = rank(b) = 1000000; share = (1000000*850000) div
    // (1000000*2) = 425000. b = 150000 + inflow(850000) + 425000 =
    // 1425000; a = 150000 + 425000 = 575000.
    val r1 = WebOps.pageRank(edges, iters = 1, redistributeDangling = true)
      .collect().map(x => x.getAs[String]("host") ->
        x.getAs[Long]("rank_micro")).toMap
    assert(r1 == Map("a" -> 575000L, "b" -> 1425000L), s"got $r1")
    // iter2: dang = 1425000, share = (1425000*850000) div 2000000 =
    // 605625; inflow(b) = (575000*850000*1) div (1000000*1) = 488750
    // b = 150000+488750+605625 = 1244375; a = 150000+605625 = 755625
    val r2 = WebOps.pageRank(edges, iters = 2, redistributeDangling = true)
      .collect().map(x => x.getAs[String]("host") ->
        x.getAs[Long]("rank_micro")).toMap
    assert(r2 == Map("a" -> 755625L, "b" -> 1244375L), s"got $r2")
    // mass conservation (up to the two floored divisions per iter):
    // total stays within iters*nodes micro-units of the start mass
    assert(math.abs(r2.values.sum - 2000000L) <= 4L, s"got $r2")
  }

  test("pageRank: localCheckpoint lineage hygiene is value-neutral " +
      "and deep iteration completes") {
    val docs = spark.range(0, 40).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), lit("w")))
    val edges = WebOps.hostGraph(docs).persist()
    def run(iters: Int, every: Int) = WebOps.pageRank(edges,
        iters = iters, checkpointEvery = every,
        redistributeDangling = true)
      .collect()
      .map(x => (x.getAs[String]("host"), x.getAs[Long]("rank_micro")))
      .sortBy(_._1).toSeq
    // value-neutrality: checkpoint placement must not move a single
    // micro-unit. (Independent cross-check at depth 10: the
    // q_pagerank_full oracle hash-match computes the same
    // 10-iteration chain in DuckDB against the CHECKPOINTED operator.)
    val chk = run(6, 2)
    val unchk = run(6, 1000) // never checkpoints
    assert(chk == unchk,
      "checkpointing must not change a single rank value")
    // the deep run is feasible ONLY with the hygiene on: 25 rounds,
    // lineage truncated every 3 — completes and keeps the node set
    val deep = run(25, 3)
    assert(deep.map(_._1) == chk.map(_._1), "node set preserved")
    assert(deep.forall(_._2 >= 150000L), "damping-base floor")
    edges.unpersist()
  }

  test("metaRobots: directive TOKENS, not substrings; absent meta is " +
      "an empty pass") {
    val docs = Seq(
      (1L, "<html><head><meta name='robots' " +
        "content='noindex,nofollow'></head><body>x</body></html>"),
      (2L, "<html><head><META NAME=\"robots\" " +
        "CONTENT=\"nofollow\"></head><body>x</body></html>"),
      (3L, "<html><body>no meta at all</body></html>"),
      // 'noindexing' must NOT trip the noindex flag
      (4L, "<html><head><meta name='robots' " +
        "content='noindexing, nofollow '></head><body>x</body></html>"),
      // r12-advice variants: content BEFORE name, unquoted values
      (5L, "<html><head><meta content=noindex name=robots>" +
        "</head><body>x</body></html>"),
      // spaces around '=', extra attribute between name and content
      (6L, "<html><head><meta name = 'robots' data-x='y' " +
        "content = \"noindex\"></head><body>x</body></html>"),
      // name=robotsxyz is NOT the robots directive
      (7L, "<html><head><meta name='robotsxyz' content='noindex'>" +
        "</head><body>x</body></html>"))
      .toDF("doc_id", "html")
    val r = WebOps.metaRobots(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Boolean]("noindex"), x.getAs[Boolean]("nofollow"),
          x.getAs[String]("robots")))).toMap
    assert(r(1L) == ((true, true, "noindex,nofollow")), s"got ${r(1L)}")
    assert(r(2L) == ((false, true, "nofollow")), s"got ${r(2L)}")
    assert(r(3L) == ((false, false, "")), s"got ${r(3L)}")
    assert(r(4L) == ((false, true, "noindexing, nofollow ")), s"got ${r(4L)}")
    assert(r(5L) == ((true, false, "noindex")), s"got ${r(5L)}")
    assert(r(6L) == ((true, false, "noindex")), s"got ${r(6L)}")
    assert(r(7L) == ((false, false, "")), s"got ${r(7L)}")
  }

  // ── pageRank ──────────────────────────────────────────────────────

  test("pageRank: hand-computed two-node chain (dangling sink absorbs)") {
    val edges = Seq(("a", "b", 1L)).toDF("src_host", "dst_host", "n_links")
    // r0: a=b=1000000. iter1: b = 150000 + (1000000*850000*1) div
    // (1000000*1) = 1000000; a = 150000 (no inlinks). iter2+: b =
    // 150000 + (150000*850000) div 1000000 = 277500; a = 150000.
    val r = WebOps.pageRank(edges, iters = 5).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    assert(r("a") == 150000L, s"got $r")
    assert(r("b") == 277500L, s"got $r")
  }

  test("pageRank: symmetric 2-cycle is a fixed point at the start mass") {
    val edges = Seq(("a", "b", 2L), ("b", "a", 2L))
      .toDF("src_host", "dst_host", "n_links")
    // each node passes 85% of its mass to the other and receives the
    // same back: rank stays exactly 1000000 every iteration
    val r = WebOps.pageRank(edges, iters = 3).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    assert(r == Map("a" -> 1000000L, "b" -> 1000000L), s"got $r")
  }

  test("pageRank: weighted split routes rank by edge-weight ratio") {
    // a -> b (w=3), a -> c (w=1): b gets 3/4 of a's damped outflow
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L))
      .toDF("src_host", "dst_host", "n_links")
    val r = WebOps.pageRank(edges, iters = 1).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    // outw(a)=4: b = 150000 + (1e6*850000*3) div (1e6*4) = 787500
    //            c = 150000 + (1e6*850000*1) div (1e6*4) = 362500
    assert(r("b") == 787500L, s"got $r")
    assert(r("c") == 362500L, s"got $r")
    assert(r("a") == 150000L, s"got $r")
  }

  test("pageRank: every node floors at the damping base; node set preserved") {
    val docs = spark.range(0, 60).toDF("doc_id")
      .withColumn("text", lit("w"))
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), lit("w")))
    val edges = WebOps.hostGraph(docs)
    val nodes = edges.select(col("src_host").as("h"))
      .union(edges.select(col("dst_host"))).distinct().count()
    val r = WebOps.pageRank(edges).collect()
    assert(r.length == nodes)
    assert(r.forall(_.getAs[Long]("rank_micro") >= 150000L))
    // the non-invertible first-link multiplier skews in-degree toward
    // odd-residue hosts: the ranking must RESOLVE that skew, not
    // return the uniform fixed point (independently simulated: 282k
    // min vs 674k max after 5 iterations on the 60-doc graph)
    val ranks = r.map(_.getAs[Long]("rank_micro"))
    assert(ranks.max > ranks.min + 100000L,
      s"expected in-degree skew to separate ranks, got ${ranks.toSeq.sorted}")
  }

  // ── encodingAudit ─────────────────────────────────────────────────

  test("encodingAudit: known answers per damage class; clean text scores zero") {
    val docs = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "bad caf\u00C3\u00A9 marker"), // one U+00C3
      (3L, "smart \u00E2\u20AC\u0153quote\u00E2\u20AC\u009D here"), // two U+00E2 U+20AC digraphs
      (4L, "lost \uFFFD\uFFFD bytes"),
      (5L, "bell\u0007 and esc\u001B here"),
      (6L, "tab\tand\nnewline are fine")).toDF("doc_id", "text")
    val r = WebOps.encodingAudit(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("damage_ppm") == 0L)
    assert(r(6L).getAs[Long]("damage_ppm") == 0L)
    assert(r(2L).getAs[Long]("n_double_utf8") == 1L)
    assert(r(3L).getAs[Long]("n_win1252") == 2L)
    assert(r(4L).getAs[Long]("n_replacement") == 2L)
    assert(r(5L).getAs[Long]("n_ctrl") == 2L)
    // ppm arithmetic: doc 4 has 2 damaged chars over 16 chars
    val len4 = "lost \uFFFD\uFFFD bytes".length.toLong
    assert(r(4L).getAs[Long]("damage_ppm") == 2000000L / len4)
  }

  test("encodingAudit: syntheticDamage plants disjoint residue slices") {
    val docs = spark.range(0, 100).toDF("doc_id")
      .withColumn("text", concat(lit("clean words here id "),
        col("doc_id").cast("string")))
      .withColumn("text",
        WebOps.syntheticDamage(col("doc_id"), col("text")))
    val r = WebOps.encodingAudit(docs).collect()
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      assert((row.getAs[Long]("n_double_utf8") > 0) == (id % 7 == 3),
        s"doc $id moji")
      assert((row.getAs[Long]("n_replacement") > 0) == (id % 11 == 5),
        s"doc $id rep")
      assert((row.getAs[Long]("n_ctrl") > 0) == (id % 13 == 7),
        s"doc $id ctrl")
      assert((row.getAs[Long]("damage_ppm") > 0) ==
        (id % 7 == 3 || id % 11 == 5 || id % 13 == 7), s"doc $id ppm")
    }
  }

  test("resolveHref: the RFC 3986 §5.4 reference examples (normal + " +
      "abnormal dot-segment cases), plus the same-document drop " +
      "contract") {
    // the spec's own base URI (§5.4: http://a/b/c/d;p?q) — fragments
    // excluded (we resolve for a link graph, not a user agent: §5.4's
    // fragment-carrying results differ only in the #suffix, and
    // same-document refs deliberately resolve to "")
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      // §5.4.1 normal examples
      ("g:h", "g:h"),
      ("g", "http://a/b/c/g"),
      ("./g", "http://a/b/c/g"),
      ("g/", "http://a/b/c/g"), // stack contract: no trailing slash
      ("/g", "http://a/g"),
      ("//g", "http://g"),
      ("?y", "http://a/b/c/d;p?y"),
      ("g?y", "http://a/b/c/g?y"),
      (";x", "http://a/b/c/;x"),
      ("g;x", "http://a/b/c/g;x"),
      ("g;x?y", "http://a/b/c/g;x?y"),
      (".", "http://a/b/c"), // "/b/c/" under RFC; stack strips the slash
      ("..", "http://a/b"),
      ("../g", "http://a/b/g"),
      ("../..", "http://a/"), // everything cancels -> the root path
      ("../../g", "http://a/g"),
      // §5.4.2 abnormal: excess .. above root is discarded
      ("../../../g", "http://a/g"),
      ("../../../../g", "http://a/g"),
      ("/./g", "http://a/g"),
      ("/../g", "http://a/g"),
      ("g.", "http://a/b/c/g."),
      (".g", "http://a/b/c/.g"),
      ("g..", "http://a/b/c/g.."),
      ("..g", "http://a/b/c/..g"),
      ("./../g", "http://a/b/g"),
      ("g/./h", "http://a/b/c/g/h"),
      ("g/../h", "http://a/b/c/h"),
      ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
      ("g;x=1/../y", "http://a/b/c/y"),
      // same-document refs drop (the link-graph contract)
      ("", ""),
      ("#s", ""))
    val got = cases.map(_._1).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
      .toDF("i", "href")
      .select(col("i"),
        WebOps.resolveHref(lit(base), col("href")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(got(i.toLong) == want, s"resolve('$h') = ${got(i.toLong)}, " +
        s"want $want")
    }
  }

  test("hostGraph resolveRelative: the fixture's dot-relative anchors " +
      "become self-loops, protocol-relative anchors become sibling-host " +
      "edges, and pageRank mass shifts accordingly") {
    val docs = spark.range(0, 120).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
      .withColumn("html",
        WebOps.syntheticLinkedHtml(col("doc_id"), lit("w")))
    val absolute = WebOps.hostGraph(docs)
    val resolved = WebOps.hostGraph(docs, resolveRelative = true)
    val nAbs = absolute.agg(sum("n_links")).collect()(0).getLong(0)
    val nRes = resolved.agg(sum("n_links")).collect()(0).getLong(0)
    // every doc carries one path-relative anchor (/local/) and the
    // %6=1 slice a dot-relative one — strictly more edges resolved
    assert(nRes > nAbs, s"resolved $nRes vs absolute $nAbs")
    // path-relative anchors resolve to the page's own host, so
    // self-loop MASS strictly grows (some absolute anchors already
    // happen to hit their own host — compare link counts, not
    // presence)
    def selfMass(g: org.apache.spark.sql.DataFrame) =
      g.where(col("src_host") === col("dst_host"))
        .agg(coalesce(sum("n_links"), lit(0L))).collect()(0).getLong(0)
    val (selfAbs, selfRes) = (selfMass(absolute), selfMass(resolved))
    assert(selfRes > selfAbs, s"$selfAbs -> $selfRes")
    // the protocol-relative /pr/ namespace: its dst hosts gain edges
    // only under resolution — check an edge whose href was //h*/pr/*
    // exists by construction for some %8=5 doc
    val prEdges = WebOps.linkExtract(docs, resolveRelative = true)
      .where(col("href").rlike("(?i)^https?://h[0-9]+\\.example\\.com/pr/"))
      .count()
    assert(prEdges == docs.where(col("doc_id") % 8 === 5).count(),
      s"protocol-relative anchors resolved: $prEdges")
    val rAbs = WebOps.pageRank(absolute).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    val rRes = WebOps.pageRank(resolved).collect()
      .map(x => x.getAs[String]("host") -> x.getAs[Long]("rank_micro"))
      .toMap
    assert(rAbs != rRes, "resolution must move rank mass")
  }

  test("robotsTxtRules: group selection, consecutive user-agents, " +
      "inline comments, empty disallow, case-insensitive fields; the " +
      "synthetic bodies parse to EXACTLY syntheticRobotsRules") {
    val bodies = Seq(
      // star group after a non-star group; inline comment on a rule;
      // empty disallow is allow-all noise; Allow is a non-goal
      ("a.example.com",
        "# header\nUser-agent: googlebot\nDisallow: /g\n\n" +
          "User-agent: *\nDisallow: /p # inline\nDisallow:\nAllow: /x\n"),
      // consecutive UA lines share ONE group — star among them matches
      ("b.example.com",
        "User-agent: bingbot\nUser-agent: *\nDisallow: /q\n"),
      // case-insensitive field names and agent value
      ("c.example.com", "USER-AGENT: *\nDISALLOW: /r\n"),
      // no star group at all -> no rules
      ("d.example.com", "User-agent: googlebot\nDisallow: /s\n"),
      // rules before any User-agent line are spec-invalid -> ignored
      ("e.example.com", "Disallow: /pre\nUser-agent: *\nDisallow: /t\n"))
      .toDF("host", "body")
    val got = WebOps.robotsTxtRules(bodies).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("prefix")))
      .toSet
    assert(got == Set(("a.example.com", "/p"), ("b.example.com", "/q"),
      ("c.example.com", "/r"), ("e.example.com", "/t")), s"got $got")
    // the registered fixture: parse(bodies) == the independent range
    // construction, row for row
    val parsed = WebOps.robotsTxtRules(WebOps.syntheticRobotsBodies(spark))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val direct = WebOps.syntheticRobotsRules(spark)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(parsed == direct,
      s"missing=${direct -- parsed} extra=${parsed -- direct}")
  }

  test("robotsTxtGateFull: longest match wins, Allow beats Disallow " +
      "on a length tie, no match allows; withAllow parse carries both " +
      "directions; the fixture carve-out re-admits h9's /p/10* pages") {
    // withAllow parse: Allow rows surface with the flag, the empty
    // Disallow still drops, non-star groups stay excluded
    val bodies = Seq(
      ("a.example.com",
        "User-agent: googlebot\nAllow: /g\n\n" +
          "User-agent: *\nDisallow: /\nAllow: /p/10 # carve\nDisallow:\n"))
      .toDF("host", "body")
    val parsed = WebOps.robotsTxtRules(bodies, withAllow = true).collect()
      .map(r => (r.getAs[String]("prefix"), r.getAs[Boolean]("allow")))
      .toSet
    assert(parsed == Set(("/", false), ("/p/10", true)), s"got $parsed")

    // hand-computed verdicts: nested carve-outs and the tie rule
    val fullRules = Seq(
      ("a.example.com", "/", false),
      ("a.example.com", "/p/10", true),
      ("a.example.com", "/p/10/sec", false),
      ("t.example.com", "/x", false),   // same-length pair: the RFC
      ("t.example.com", "/x", true))    // tie rule says Allow wins
      .toDF("host", "prefix", "allow")
    val pages = Seq(
      (1L, "http://a.example.com/p/9"),        // only "/" -> disallowed
      (2L, "http://a.example.com/p/10/doc"),   // carve-out -> allowed
      (3L, "http://a.example.com/p/10/sec/x"), // nested re-disallow
      (4L, "http://t.example.com/x/y"),        // length tie -> Allow
      (5L, "http://z.example.com/q"))          // no rules -> allowed
      .toDF("doc_id", "url")
    val g = WebOps.robotsTxtGateFull(pages, fullRules).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("disallowed"),
          Option(r.getAs[String]("matched_prefix")))))
      .toMap
    assert(g(1L) == ((true, Some("/"))), s"${g(1L)}")
    assert(g(2L) == ((false, Some("/p/10"))), s"${g(2L)}")
    assert(g(3L) == ((true, Some("/p/10/sec"))), s"${g(3L)}")
    assert(g(4L) == ((false, Some("/x"))), s"${g(4L)}")
    assert(g(5L) == ((false, None)), s"${g(5L)}")

    // the registered composition: fixture host h9 carries BOTH the
    // k%3=0 Disallow /p/1 and the k%4=1 Allow /p/10 — the longer
    // carve-out re-admits /p/109 (doc 436) under the full gate while
    // the disallow-only gate drops it; host h0 (no carve) keeps
    // /p/100 (doc 400) disallowed under BOTH gates
    val fdocs = Seq(436L, 400L).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
    val bodiesFix = WebOps.syntheticRobotsBodies(spark)
    val full = WebOps.robotsTxtGateFull(fdocs,
        WebOps.robotsTxtRules(bodiesFix, withAllow = true)).collect()
      .map(r => r.getAs[String]("path") ->
        ((r.getAs[Boolean]("disallowed"),
          Option(r.getAs[String]("matched_prefix")))))
      .toMap
    assert(full("/p/109") == ((false, Some("/p/10"))), s"$full")
    assert(full("/p/100") == ((true, Some("/p/1"))), s"$full")
    val plain = WebOps.robotsTxtGate(fdocs,
        WebOps.robotsTxtRules(bodiesFix)).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Boolean]("disallowed"))
      .toMap
    assert(plain("/p/109") && plain("/p/100"),
      s"disallow-only gate must drop both: $plain")
  }

  test("robotsTxtGateFull wildcards: * widens, trailing $ anchors, " +
      "mid-pattern $ and regex metachars stay literal, literal rules " +
      "keep the startswith path; fixture verdicts hand-checked") {
    val rules = Seq(
      // '.' must be LITERAL after translation: /a.b* matches /a.b/…
      // but NOT /axb/… (an unescaped dot would accept both)
      ("m.example.com", "/a.b*", false),
      // mid-pattern '$' is a literal octet; the trailing '*' makes
      // the rule a pattern so the escape path is exercised
      ("m.example.com", "/x$*", false),
      // trailing '$' anchors: exactly /f, not /f2
      ("m.example.com", "/f$", false),
      // interior wildcard with a literal tail
      ("m.example.com", "/d/*/e", false))
      .toDF("host", "prefix", "allow")
    val pages = Seq(
      (1L, "http://m.example.com/a.b/c"),   // dot literal -> hit
      (2L, "http://m.example.com/axb/c"),   // unescaped-dot trap -> miss
      (3L, "http://m.example.com/x$yz"),    // mid-$ literal -> hit
      (4L, "http://m.example.com/xyz"),     // -> miss
      (5L, "http://m.example.com/f"),       // anchored exact -> hit
      (6L, "http://m.example.com/f2"),      // past the anchor -> miss
      (7L, "http://m.example.com/d/1/e2"),  // interior * -> hit
      (8L, "http://m.example.com/d/1/x"))   // literal tail -> miss
      .toDF("doc_id", "url")
    val v = WebOps.robotsTxtGateFull(pages, rules).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("disallowed"))
      .toMap
    assert(v == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> true, 6L -> false, 7L -> true, 8L -> false), s"$v")

    // registered fixture verdicts, hand-computed: the JSON anchor
    // rule, the literal /d/3/ disallow, the longer wildcard carve-out
    // on even hosts, and the 5-octet tie going to Allow
    val docs = Seq(0L, 3L, 10L, 5L, 40L).toDF("doc_id")
    val pagesFix = WebOps.syntheticWildcardPages(docs)
    val g = WebOps.robotsTxtGateFull(pagesFix,
        WebOps.syntheticRobotsWildcardRules(spark)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("disallowed"),
          Option(r.getAs[String]("matched_prefix")))))
      .toMap
    // doc 0 -> wh0 /d/0/f0.json: the anchor rule
    assert(g(0L) == ((true, Some("/*.json$"))), s"${g(0L)}")
    // doc 3 -> wh3 /d/3/f0.html: odd host, no carve -> /d/3/ drops it
    assert(g(3L) == ((true, Some("/d/3/"))), s"${g(3L)}")
    // doc 10 -> wh0 /d/3/f1.html: even host, 13-octet carve wins
    assert(g(10L) == ((false, Some("/d/3/f*.html$"))), s"${g(10L)}")
    // doc 5 -> wh0 /d/5/f2.html: /d/5/ vs /d/5* both 5 octets -> Allow
    assert(g(5L) == ((false, Some("/d/5*"))), s"${g(5L)}")
    // doc 40 -> wh0 /d/5/f1.json: the 8-octet JSON rule outranks the
    // 5-octet tie pair
    assert(g(40L) == ((true, Some("/*.json$"))), s"${g(40L)}")

    // the audit reconciles with the gate row-for-row, and its
    // n_allow_matched is the carve-out evidence (nonzero on every
    // host — the /d/5* tie rule fires corpus-wide)
    val pagesAll = WebOps.syntheticWildcardPages(
      spark.range(0, 500).toDF("doc_id"))
    val gate = WebOps.robotsTxtGateFull(pagesAll,
      WebOps.syntheticRobotsWildcardRules(spark)).collect()
    val fromGate = gate.groupBy(_.getAs[String]("host")).map {
      case (h, rows) => h -> ((rows.length.toLong,
        rows.count(_.getAs[Boolean]("disallowed")).toLong,
        rows.count(r => Option(r.getAs[Any]("matched_allow"))
          .contains(true)).toLong))
    }
    val audit = WebOps.robotsTxtAuditFull(pagesAll,
        WebOps.syntheticRobotsWildcardRules(spark)).collect()
      .map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("n_pages"), r.getAs[Long]("n_disallowed"),
          r.getAs[Long]("n_allow_matched"))))
      .toMap
    assert(audit == fromGate.toMap, s"audit $audit vs gate $fromGate")
    assert(audit.values.forall(_._3 > 0L),
      s"the tie rule must fire on every host: $audit")
  }

  test("robotsPatternRegex property: the translated regex agrees with " +
      "an independent RFC 9309 reference matcher on randomized " +
      "(pattern, path) pairs over a metachar-heavy alphabet") {
    // reference: direct §2.2.3 semantics — '*' spans any octets, a
    // TRAILING '$' anchors the end, everything else literal, and an
    // un-anchored pattern is a PREFIX test. Greedy leftmost placement
    // of the middle segments is the standard existence argument.
    def refMatch(pat: String, path: String): Boolean = {
      val anchored = pat.nonEmpty && pat.endsWith("$")
      val core = if (anchored) pat.dropRight(1) else pat
      val segs = core.split("\\*", -1).toIndexedSeq
      if (!path.startsWith(segs.head)) return false
      var pos = segs.head.length
      val middle = if (anchored) segs.tail.dropRight(1) else segs.tail
      for (s <- middle) {
        val idx = path.indexOf(s, pos)
        if (idx < 0) return false
        pos = idx + s.length
      }
      if (!anchored) true
      else if (segs.length == 1) path == core
      else {
        val last = segs.last
        path.length - last.length >= pos && path.endsWith(last)
      }
    }
    val rnd = new scala.util.Random(20260816L)
    val patChars = "ab/.+*$(x["
    val pathChars = "ab/.+$x(["
    val pairs = (1 to 600).map { i =>
      val pat = (0 until rnd.nextInt(8))
        .map(_ => patChars(rnd.nextInt(patChars.length))).mkString
      val path = (0 until rnd.nextInt(10))
        .map(_ => pathChars(rnd.nextInt(pathChars.length))).mkString
      (i.toLong, pat, path)
    }
    val got = pairs.toDF("i", "pat", "path")
      .withColumn("rx", WebOps.robotsPatternRegex(col("pat")))
      .withColumn("m", expr("path rlike rx"))
      .collect().map(r => r.getAs[Long]("i") -> r.getAs[Boolean]("m"))
      .toMap
    pairs.foreach { case (i, pat, path) =>
      assert(got(i) == refMatch(pat, path),
        s"pattern '$pat' vs path '$path': engine ${got(i)}, " +
          s"reference ${refMatch(pat, path)}")
    }
  }

  test("sitemapUrls: urlset and sitemapindex entries parse with loc " +
      "trim and optional lastmod; sitemapCoverage matches through the " +
      "canonical chain and splits missing from stray") {
    val bodies = Seq(
      ("a.example.com",
        "<?xml version=\"1.0\"?><urlset>" +
          "<url><loc>\n  http://a.example.com/x.html\n  </loc>" +
          "<lastmod>2026-02-01</lastmod></url>" +
          "<url><loc>HTTP://WWW.a.example.com/y.html/</loc></url>" +
          "</urlset>"),
      ("i.example.com",
        "<sitemapindex><sitemap><loc>http://i.example.com/s1.xml</loc>" +
          "</sitemap></sitemapindex>")).toDF("host", "body")
    val parsed = WebOps.sitemapUrls(bodies).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("kind"),
        r.getAs[String]("loc"), r.getAs[String]("lastmod"))).toSet
    assert(parsed == Set(
      ("a.example.com", "url", "http://a.example.com/x.html", "2026-02-01"),
      ("a.example.com", "url", "HTTP://WWW.a.example.com/y.html/", ""),
      ("i.example.com", "sitemap", "http://i.example.com/s1.xml", "")),
      s"got $parsed")

    // coverage: x.html declared+crawled (through the canonical chain —
    // the crawl fetched it under www + uppercase scheme), y.html
    // declared-only, z.html crawled-only; the index host's page is a
    // stray (its sitemap declares no pages)
    val pages = Seq(
      (1L, "HTTP://WWW.a.example.com/x.html"),
      (2L, "http://a.example.com/z.html"),
      (3L, "http://i.example.com/q.html")).toDF("doc_id", "url")
    val cov = WebOps.sitemapCoverage(pages, WebOps.sitemapUrls(bodies))
      .collect()
      .map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("n_listed"), r.getAs[Long]("n_crawled"),
          r.getAs[Long]("n_matched"), r.getAs[Long]("n_missing"),
          r.getAs[Long]("n_stray"), r.getAs[Long]("coverage_ppm"))))
      .toMap
    assert(cov("a.example.com") == ((2L, 2L, 1L, 1L, 1L, 500000L)),
      s"${cov("a.example.com")}")
    assert(cov("i.example.com") == ((0L, 1L, 0L, 0L, 1L, 0L)),
      s"${cov("i.example.com")}")

    // the registered fixture: every urlset host's /f1.html entry is
    // crawled at sf-gate scale (CRT over the doc_id residues), every
    // /f9.html entry is not, and the index-only host wh3 lists nothing
    val fixPages = WebOps.syntheticWildcardPages(
      spark.range(0, 500).toDF("doc_id"))
    val fcov = WebOps.sitemapCoverage(fixPages,
        WebOps.sitemapUrls(WebOps.syntheticSitemapBodies(spark)))
      .collect()
      .map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("n_listed"), r.getAs[Long]("n_matched"),
          r.getAs[Long]("n_missing"))))
      .toMap
    Seq(0, 1, 4).foreach { k =>
      assert(fcov(s"wh$k.example.com") == ((2L, 1L, 1L)),
        s"wh$k: ${fcov(s"wh$k.example.com")}")
    }
    assert(fcov("wh2.example.com") == ((3L, 1L, 2L)),
      s"wh2: ${fcov("wh2.example.com")}")
    assert(fcov("wh3.example.com")._1 == 0L,
      s"index-only host lists no pages: ${fcov("wh3.example.com")}")
  }

  test("robotsTxtRules named-agent group pick: named groups win their " +
      "host outright, * applies ONLY on hosts with no named group, " +
      "agent matching is case-insensitive") {
    val bodies = Seq(
      // both a named and a star group: gptbot obeys ONLY the named one
      ("a.example.com",
        "User-agent: GPTBot\nDisallow: /named\n\n" +
          "User-agent: *\nDisallow: /star\n"),
      // star only: the named agent falls back to it
      ("b.example.com", "User-agent: *\nDisallow: /fallback\n"),
      // named only: no star to fall back to, and none needed
      ("c.example.com", "User-agent: gptbot\nDisallow: /only\n"),
      // a DIFFERENT named group and no star: nothing applies
      ("d.example.com", "User-agent: bingbot\nDisallow: /other\n"))
      .toDF("host", "body")
    val named = WebOps.robotsTxtRules(bodies, agent = "gptbot").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("prefix")))
      .toSet
    assert(named == Set(("a.example.com", "/named"),
      ("b.example.com", "/fallback"), ("c.example.com", "/only")),
      s"got $named")
    // the star agent itself never falls back INTO named groups
    val star = WebOps.robotsTxtRules(bodies).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("prefix")))
      .toSet
    assert(star == Set(("a.example.com", "/star"),
      ("b.example.com", "/fallback")), s"got $star")
  }

  test("idnFold: RFC 3490 known answer, Unicode/ACE cross-form " +
      "collapse under urlDedup, ASCII hosts untouched, malformed " +
      "hosts ride through") {
    // known answer pinned against the published RFC 3490 example —
    // a JDK IDNA drift must fail loudly, not silently re-key corpora
    val ka = WebOps.urlNormalize(
      Seq((1L, "http://BÜCHER.example.com/x")).toDF("doc_id", "url"),
      idnFold = true).collect()(0)
    assert(ka.getAs[String]("host") == "xn--bcher-kva.example.com", s"$ka")
    assert(ka.getAs[String]("url_canonical") ==
      "http://xn--bcher-kva.example.com/x", s"$ka")
    // cross-form collapse: the fixture's (Unicode, ACE) pairs are one
    // canonical key with the fold, two without
    val docs = spark.range(0, 60).toDF("doc_id")
      .withColumn("url", WebOps.syntheticIdnUrl(col("doc_id")))
    val folded = WebOps.urlDedup(docs, idnFold = true).collect()
    assert(folded.forall(_.getAs[Long]("group_size") == 2L),
      "every Unicode/ACE pair must collapse under the fold")
    assert(folded.count(_.getAs[Boolean]("keep")) == 30)
    val unfolded = WebOps.urlDedup(docs).collect()
    assert(unfolded.forall(_.getAs[Long]("group_size") == 1L),
      "without the fold the two forms stay distinct keys")
    // ASCII identity: the folding normalizer equals the plain one on
    // the all-ASCII fixture (the dominant real-web case, and the
    // fast path)
    val ascii = spark.range(0, 40).toDF("doc_id")
      .withColumn("url", WebOps.syntheticUrl(col("doc_id")))
    val a = WebOps.urlNormalize(ascii).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("url_canonical")).toMap
    val b = WebOps.urlNormalize(ascii, idnFold = true).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("url_canonical")).toMap
    assert(a == b, "idnFold must be the identity on ASCII hosts")
    // a host the IDNA profile rejects rides through unchanged — a
    // canonicalizer must never null a weird-but-present host
    val weird = "http://" + ("ü" * 70) + ".example.com/x"
    val w = WebOps.urlNormalize(Seq((1L, weird)).toDF("doc_id", "url"),
      idnFold = true).collect()(0)
    assert(w.getAs[String]("host") == ("ü" * 70) + ".example.com", s"$w")
  }

  test("pageRank: dangling redistribution at iters=16 — the forced " +
      "per-round checkpoint is value-neutral vs an explicit " +
      "checkpointEvery=1 run and vs the simple variant's arithmetic " +
      "plus the dangling term") {
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 2L),
      ("a", "d", 1L)) // d is dangling
      .toDF("src_host", "dst_host", "n_links")
    def ranks(ckpt: Int) = WebOps.pageRank(edges, iters = 16,
        redistributeDangling = true, checkpointEvery = ckpt)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val at8 = ranks(8)
    val at1 = ranks(1)
    assert(at8 == at1, s"checkpoint interval changed values: $at8 vs $at1")
    // independent driver-side reference of the exact integer recurrence
    val nodes = Seq("a", "b", "c", "d")
    val out = Map("a" -> 2L, "b" -> 1L, "c" -> 2L)
    val w = Map(("a", "b") -> 1L, ("b", "c") -> 1L, ("c", "a") -> 2L,
      ("a", "d") -> 1L)
    var ref = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 16) {
      val dang = nodes.filterNot(out.contains).map(ref).sum
      val share = (BigInt(dang) * 850000 /
        (BigInt(1000000) * nodes.size)).toLong
      ref = nodes.map { v =>
        val inflow = w.collect { case ((s0, d0), wt) if d0 == v =>
          ref(s0) * 850000L * wt / (1000000L * out(s0))
        }.sum
        v -> (150000L + inflow + share)
      }.toMap
    }
    assert(at1 == ref, s"engine $at1 vs reference $ref")
  }

  // ── robots directives: Crawl-delay / Sitemap ─────────────────────

  test("robotsCrawlDelay: group-scoped seconds to floored ms — the " +
      "named group's delay never leaks into agent=*, fractions floor, " +
      "non-numeric values drop, repeated matches fold to MAX") {
    val bodies = Seq(
      // googlebot 9s must not surface under *; star has 2.5s → 2500
      ("a.example.com", "User-agent: googlebot\nCrawl-delay: 9\n" +
        "User-agent: *\nCrawl-delay: 2.5\n"),
      // two matched star groups: max(1, 4) = 4000
      ("b.example.com", "User-agent: *\nCrawl-delay: 1\n\n" +
        "User-agent: *\nCrawl-delay: 4\n"),
      // non-numeric drops; no valid delay at all -> host absent
      ("c.example.com", "User-agent: *\nCrawl-delay: soon\n"),
      // out-of-bound digits drop instead of throwing (an adversarial
      // robots.txt must never ANSI-overflow the job)
      ("e.example.com", "User-agent: *\n" +
        "Crawl-delay: 99999999999999999999\n" +
        "Crawl-delay: 2.000000001\n"),
      // no star group -> absent under *
      ("d.example.com", "User-agent: yandex\nCrawl-delay: 3\n"))
      .toDF("host", "body")
    val got = WebOps.robotsCrawlDelay(bodies).collect()
      .map(r => r.getAs[String]("host") -> r.getAs[Long]("crawl_delay_ms"))
      .toMap
    assert(got == Map("a.example.com" -> 2500L, "b.example.com" -> 4000L),
      s"got $got (e must drop both out-of-bound values, not throw)")
    // named agent: the yandex group applies on d; on a, googlebot's 9
    val yx = WebOps.robotsCrawlDelay(bodies, agent = "yandex").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(yx("d.example.com") == 3000L, s"got $yx")
    // §2.2.1 fallback: yandex has no group on a -> the star 2.5 applies
    assert(yx("a.example.com") == 2500L, s"got $yx")
    val gb = WebOps.robotsCrawlDelay(bodies, agent = "googlebot")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gb("a.example.com") == 9000L, s"got $gb")
  }

  test("robotsSitemaps: group-INDEPENDENT — before any group, inside " +
      "a group, after everything all surface; duplicates collapse; " +
      "empty values drop") {
    val bodies = Seq(
      ("a.example.com", "Sitemap: http://a.example.com/s1.xml\n" +
        "User-agent: *\nDisallow: /p\n" +
        "Sitemap: http://a.example.com/s2.xml\n" +
        "Sitemap: http://a.example.com/s1.xml\nSitemap:\n"),
      ("b.example.com", "User-agent: *\nDisallow: /q\n"))
      .toDF("host", "body")
    val got = WebOps.robotsSitemaps(bodies).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("a.example.com", "http://a.example.com/s1.xml"),
      ("a.example.com", "http://a.example.com/s2.xml")), s"got $got")
  }

  // ── fetchSchedule ─────────────────────────────────────────────────

  test("fetchSchedule: per-host seq is a 1..n permutation equal to the " +
      "single-window reference order, fetch_at = (seq-1)*delay with " +
      "declared delays honored and the default applied elsewhere") {
    val pages = (0L until 40L).map(i =>
      (i, s"http://h${i % 3}.example.com/p/$i")).toDF("doc_id", "url")
    val delays = Seq(("h0.example.com", 2000L))
      .toDF("host", "crawl_delay_ms")
    val got = WebOps.fetchSchedule(pages, delays).collect()
    val byHost = got.groupBy(_.getAs[String]("host"))
    assert(byHost.keySet == Set("h0.example.com", "h1.example.com",
      "h2.example.com"))
    for ((h, rows) <- byHost) {
      val seqs = rows.map(_.getAs[Long]("seq")).sorted
      assert(seqs.toSeq == (1L to rows.length).toSeq,
        s"$h seq not a permutation: ${seqs.toSeq}")
      val d = if (h == "h0.example.com") 2000L else 1000L
      rows.foreach { r =>
        assert(r.getAs[Long]("delay_ms") == d, s"$h delay $r")
        assert(r.getAs[Long]("fetch_at_ms") ==
          (r.getAs[Long]("seq") - 1) * d, s"$h offset $r")
      }
    }
    // the two-level rank must equal ONE row_number over
    // (host ORDER BY bucket, url) — the reference the oracle mirrors
    import org.apache.spark.sql.expressions.Window
    val ref = WebOps.urlNormalize(pages)
      .select(col("host"), col("url_canonical")).distinct()
      .withColumn("bucket",
        pmod(conv(substring(md5(col("url_canonical")), 1, 2), 16, 10)
          .cast("long"), lit(32L)))
      .withColumn("seq", row_number().over(Window.partitionBy("host")
        .orderBy("bucket", "url_canonical")).cast("long"))
      .select("host", "url_canonical", "seq").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { r =>
      val k = (r.getAs[String]("host"), r.getAs[String]("url_canonical"))
      assert(ref(k) == r.getAs[Long]("seq"), s"two-level != global at $k")
    }
  }

  test("fetchSchedule: a hot host (one host, many URLs) still yields " +
      "a dense 1..n sequence — the two-level rank composes offsets " +
      "across buckets correctly") {
    val pages = (0L until 2000L).map(i =>
      (i, s"http://hot.example.com/x/$i")).toDF("doc_id", "url")
    val empty = Seq.empty[(String, Long)].toDF("host", "crawl_delay_ms")
    val seqs = WebOps.fetchSchedule(pages, empty, nBuckets = 8)
      .select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == (1L to 2000L).toSeq, "not dense")
  }

  // ── crawlBudget ───────────────────────────────────────────────────

  test("crawlBudget: quotas sum EXACTLY to the budget, each host gets " +
      "floor-or-floor-plus-one of its proportional share above the " +
      "min, non-positive weights drop, remainder ties break to host " +
      "asc, and the empty frame yields an empty allocation") {
    val hosts = Seq(("a", 500000L), ("b", 300000L), ("c", 150000L),
      ("d", 50000L), ("dead", 0L), ("neg", -7L))
      .toDF("host", "rank_micro")
    val got = WebOps.crawlBudget(hosts, totalBudget = 1003L,
      minPerHost = 2L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    assert(!got.contains("dead") && !got.contains("neg"))
    assert(got.values.sum == 1003L, s"conservation: $got")
    // base = 1003 - 4*2 = 995 over W = 1e6
    val base = 995L; val w = Map("a" -> 500000L, "b" -> 300000L,
      "c" -> 150000L, "d" -> 50000L)
    got.foreach { case (h, q) =>
      val fl = base * w(h) / 1000000L
      assert(q == 2L + fl || q == 2L + fl + 1L, s"$h got $q (floor $fl)")
    }
    // equal weights, leftover 1 -> lexicographically first host bumps
    val eq = Seq(("x", 10L), ("y", 10L), ("z", 10L))
      .toDF("host", "rank_micro")
    val g2 = WebOps.crawlBudget(eq, totalBudget = 4L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("quota")).toMap
    assert(g2 == Map("x" -> 2L, "y" -> 1L, "z" -> 1L), s"got $g2")
    val empty = WebOps.crawlBudget(
      Seq.empty[(String, Long)].toDF("host", "rank_micro"), 100L)
    assert(empty.collect().isEmpty)
  }

  // ── recrawlPriority ───────────────────────────────────────────────

  test("recrawlPriority: missing / stale / fresh / undeclared classes, " +
      "strictly-greater staleness (lastmod == fetched_at is fresh), " +
      "max-fold across duplicate declarations and re-fetches") {
    val pages = Seq(
      (1L, "http://a.io/fresh", "2026-03-01"),
      (2L, "http://a.io/stale", "2026-03-01"),
      // re-fetched: max(fetched) = 04-01, lastmod 03-15 -> fresh
      (3L, "http://a.io/refetched", "2026-02-01"),
      (4L, "http://a.io/refetched", "2026-04-01"),
      (5L, "http://a.io/orphan", "2026-03-01"))
      .toDF("doc_id", "url", "fetched_at")
    val sitemap = Seq(
      ("a.io", "url", "http://a.io/fresh", "2026-03-01"),
      ("a.io", "url", "http://a.io/stale", "2026-03-02"),
      // duplicate declaration: max(lastmod) = 03-15
      ("a.io", "url", "http://a.io/refetched", "2026-01-01"),
      ("a.io", "url", "http://a.io/refetched", "2026-03-15"),
      ("a.io", "url", "http://a.io/never", "2026-01-01"),
      // index entries never count as declarations
      ("a.io", "sitemap", "http://a.io/child.xml", ""))
      .toDF("host", "kind", "loc", "lastmod")
    val got = WebOps.recrawlPriority(pages, sitemap).collect()
      .map(r => r.getAs[String]("url_canonical") ->
        r.getAs[String]("status")).toMap
    assert(got == Map(
      "http://a.io/fresh" -> "fresh",
      "http://a.io/stale" -> "stale",
      "http://a.io/refetched" -> "fresh",
      "http://a.io/orphan" -> "undeclared",
      "http://a.io/never" -> "missing"), s"got $got")
  }
}
