package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.serving.HttpApi

/** End-to-end spec for the HTTP serving layer (reference: server.py +
  * src/search_api.py + the src/routes files) — a real server on an
  * ephemeral port, hit with the JDK HttpClient. */
class HttpApiSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private val srcDir = "/root/testdata/sf0.001"
  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft-http").toString
  private lazy val api = new HttpApi(spark, srcDir, outDir)
  private lazy val port = api.start()
  private val client = HttpClient.newHttpClient()

  /** A second server whose output directory holds a customer store
    * synced the way `EntityCatalog.syncAll` writes it (typed columns,
    * `{id}_{runTs}` document ids) and no other store. */
  private lazy val syncedOut = {
    val out =
      java.nio.file.Files.createTempDirectory("graft-http-synced").toString
    val spec = graft.catalog.EntityCatalog.entities("customer")
    val docs = graft.catalog.EntityCatalog.documents(
      graft.sources.Tables(spark, srcDir, "customer"), spec,
      graft.operators.Denormalize.RunTs)
    graft.sinks.DocumentSink.validatedWrite(docs, s"$out/customer",
      spec.requiredCols.map(c => s"customer_$c"),
      fieldTypes = graft.catalog.EntityCatalog.fieldTypes(docs.schema, spec))
    out
  }
  private lazy val synced = new HttpApi(spark, srcDir, syncedOut)
  private lazy val syncedPort = synced.start()

  override protected def afterAll(): Unit = {
    api.stop(); synced.stop(); super.afterAll()
  }

  private def get(path: String): HttpResponse[String] = getAt(port, path)

  private def getAt(p: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    postAt(port, path, body)

  private def postAt(p: Int, path: String,
                     body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("a body with query AND suggest yields hits and suggestions in " +
    "ONE response — ES's combined contract") {
    val r = post("/search/advanced",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}},
        | "suggest": {"fix": {"text": "windoq",
        |   "term": {"field": "text"}}},
        | "size": 3}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"hits\": ["), r.body().take(400))
    assert(r.body().contains("\"suggest\": {\"fix\": ["),
      r.body().take(400))
    assert(r.body().contains("\"suggestion\""), r.body().take(400))
    // the hits really are the query's (scored), not the suggester's
    assert(r.body().contains("\"_score\""))
  }

  test("POST /search/count returns the exact match-set size; " +
    "hit knobs reject by name; bodyless counts everything") {
    val r = post("/search/count",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("count").asLong
    // cross-check against the actual hits of an uncapped-size search
    val s = post("/search/advanced",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}, "size": 1000}"""
        .stripMargin)
    val total = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s.body()).get("hits").get("hits").size.toLong
    assert(n == total && n > 0, s"count $n vs hits $total")
    val all = post("/search/count", """{"index": "documents"}""")
    assert(all.statusCode() == 200)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(all.body()).get("count").asLong >= n)
    val badKnob = post("/search/count",
      """{"index": "documents", "query": {"match_all": {}},
        | "size": 5}""".stripMargin)
    assert(badKnob.statusCode() == 400 && badKnob.body().contains("size"))
    val badIdx = post("/search/count", """{"index": "nope"}""")
    assert(badIdx.statusCode() == 404)
  }

  test("POST /search/validate compiles without executing: valid " +
    "true/false with the compile error, 404 only for unknown index") {
    val ok = post("/search/validate",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}}""".stripMargin)
    assert(ok.statusCode() == 200 && ok.body().contains("true"))
    val badQ = post("/search/validate",
      """{"index": "documents",
        | "query": {"bogus_clause": {}}}""".stripMargin)
    assert(badQ.statusCode() == 200, badQ.body())
    assert(badQ.body().contains("\"valid\":false") &&
      badQ.body().contains("bogus_clause"), badQ.body())
    val badCol = post("/search/validate",
      """{"index": "documents",
        | "query": {"term": {"no_such_col": 1}}}""".stripMargin)
    assert(badCol.statusCode() == 200 &&
      badCol.body().contains("\"valid\":false"), badCol.body())
    assert(post("/search/validate", """{"index": "nope"}""")
      .statusCode() == 404)
  }

  test("POST /search/field_caps maps the schema; wildcard field " +
    "patterns filter") {
    val r = post("/search/field_caps", """{"index": "documents"}""")
    assert(r.statusCode() == 200, r.body())
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body())
    val fs = tree.get("fields")
    assert(fs.get("text").get("text").get("type").asText == "text")
    assert(fs.get("n_chars").get("long").get("type").asText == "long")
    assert(fs.get("n_chars").get("long").get("aggregatable").asBoolean)
    val pat = post("/search/field_caps",
      """{"index": "documents", "fields": ["n_*"]}""")
    val pfs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(pat.body()).get("fields")
    assert(pfs.has("n_chars") && !pfs.has("text") && !pfs.has("lang"))
  }

  test("POST /search/analyze runs THE engine analyzer with offsets; " +
    "foreign analyzer names reject") {
    val r = post("/search/analyze", """{"text": "The  Window batch"}""")
    assert(r.statusCode() == 200, r.body())
    val toks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("tokens")
    assert(toks.size == 3)
    assert(toks.get(0).get("token").asText == "the" &&
      toks.get(0).get("start_offset").asInt == 0 &&
      toks.get(0).get("end_offset").asInt == 3)
    // offsets point into the ORIGINAL text (double space skipped)
    assert(toks.get(1).get("token").asText == "window" &&
      toks.get(1).get("start_offset").asInt == 5 &&
      toks.get(1).get("end_offset").asInt == 11 &&
      toks.get(1).get("position").asInt == 1)
    assert(post("/search/analyze",
      """{"text": "x", "analyzer": "italian"}""").statusCode() == 400)
    assert(post("/search/analyze", """{}""").statusCode() == 400)
    // spanish (round 18): stopwords consume positions, the
    // light_spanish stem folds accents itself, original offsets
    val es = post("/search/analyze",
      """{"text": "la sorte", "analyzer": "spanish"}""")
    val esToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(es.body()).get("tokens")
    assert(esToks.size == 1, es.body())
    assert(esToks.get(0).get("token").asText == "sort" &&
      esToks.get(0).get("position").asInt == 1 &&
      esToks.get(0).get("start_offset").asInt == 3 &&
      esToks.get(0).get("end_offset").asInt == 8)
    // german (round 17): stop positions consumed, normalization
    // (ß→ss) before the light_german stem, original offsets
    val de = post("/search/analyze",
      """{"text": "die straße", "analyzer": "german"}""")
    val deToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(de.body()).get("tokens")
    assert(deToks.size == 1, de.body())
    assert(deToks.get(0).get("token").asText == "strass" &&
      deToks.get(0).get("position").asInt == 1 &&
      deToks.get(0).get("start_offset").asInt == 4 &&
      deToks.get(0).get("end_offset").asInt == 10)
    // simple splits at non-letters and lowercases; stop also drops
    // the classic english set (positions consumed)
    val sim = post("/search/analyze",
      """{"text": "Window7Batch", "analyzer": "simple"}""")
    val simToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sim.body()).get("tokens")
    assert(simToks.size == 2, sim.body())
    assert(simToks.get(0).get("token").asText == "window" &&
      simToks.get(0).get("end_offset").asInt == 6)
    assert(simToks.get(1).get("token").asText == "batch" &&
      simToks.get(1).get("start_offset").asInt == 7 &&
      simToks.get(1).get("position").asInt == 1)
    val stp = post("/search/analyze",
      """{"text": "The Batch", "analyzer": "stop"}""")
    val stpToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(stp.body()).get("tokens")
    assert(stpToks.size == 1 &&
      stpToks.get(0).get("token").asText == "batch" &&
      stpToks.get(0).get("position").asInt == 1, stp.body())
    // the EXPLICIT custom-chain form (round 17): tokenizer + filter
    // — the standard TOKENIZER keeps case (lowercasing is a filter),
    // and stemmer language "french" is the SNOWBALL algorithm the
    // prebuilt analyzer no longer defaults to, reachable here
    val cc = post("/search/analyze",
      """{"text": "La Continuation", "tokenizer": "standard",
        | "filter": ["lowercase",
        |   {"type": "stop", "stopwords": "_french_"},
        |   {"type": "stemmer", "language": "french"}]}""".stripMargin)
    val ccToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(cc.body()).get("tokens")
    assert(ccToks.size == 1 &&
      ccToks.get(0).get("token").asText == "continu" &&
      ccToks.get(0).get("position").asInt == 1, cc.body())
    // no lowercase filter → the stemmer sees the cased token and the
    // snowball/light split is observable: light keeps 4-letter data
    val cc2 = post("/search/analyze",
      """{"text": "data", "tokenizer": "standard",
        | "filter": [{"type": "stemmer",
        |   "language": "light_french"}]}""".stripMargin)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(cc2.body()).get("tokens").get(0).get("token")
      .asText == "data", cc2.body())
    val cc3 = post("/search/analyze",
      """{"text": "data", "tokenizer": "standard",
        | "filter": [{"type": "stemmer",
        |   "language": "french"}]}""".stripMargin)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(cc3.body()).get("tokens").get(0).get("token")
      .asText == "dat", cc3.body())
    // rejections: analyzer+tokenizer together, unknown filter,
    // unknown stemmer language
    assert(post("/search/analyze",
      """{"text": "x", "analyzer": "standard",
        | "tokenizer": "keyword"}""".stripMargin).statusCode() == 400)
    assert(post("/search/analyze",
      """{"text": "x", "filter": ["asciifolding"]}""")
      .statusCode() == 400)
    assert(post("/search/analyze",
      """{"text": "x", "filter": [{"type": "stemmer",
        | "language": "spanish"}]}""".stripMargin).statusCode() == 400)
    // the NORMALIZER form (round 18 — ES's tokenizer-less contract):
    // `filter` with no `tokenizer` means keyword tokenizer, ONE
    // token over the whole text, multi-term-aware filters only
    val nm = post("/search/analyze",
      """{"text": "Foo Bar", "filter": ["lowercase"]}""")
    val nmToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(nm.body()).get("tokens")
    assert(nmToks.size == 1, nm.body())
    assert(nmToks.get(0).get("token").asText == "foo bar" &&
      nmToks.get(0).get("start_offset").asInt == 0 &&
      nmToks.get(0).get("end_offset").asInt == 7 &&
      nmToks.get(0).get("position").asInt == 0, nm.body())
    // a token-dropping/splitting filter inside the normalizer form
    // rejects BY NAME (ES refuses stop/stemmer in normalizers too)
    val nmBad = post("/search/analyze",
      """{"text": "x", "filter": ["lowercase", "stop"]}""")
    assert(nmBad.statusCode() == 400 &&
      nmBad.body().contains("stop"), nmBad.body())
    // edge_ngram (round 18): every gram keeps its source token's
    // offsets and position (the search-as-you-type index chain)
    val eg = post("/search/analyze",
      """{"text": "Window", "tokenizer": "standard",
        | "filter": ["lowercase", {"type": "edge_ngram",
        |   "min_gram": 2, "max_gram": 3}]}""".stripMargin)
    val egToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(eg.body()).get("tokens")
    assert(egToks.size == 2, eg.body())
    assert(egToks.get(0).get("token").asText == "wi" &&
      egToks.get(1).get("token").asText == "win" &&
      egToks.get(1).get("start_offset").asInt == 0 &&
      egToks.get(1).get("end_offset").asInt == 6 &&
      egToks.get(1).get("position").asInt == 0, eg.body())
    // explicit standard == the default; whitespace = raw \S+ tokens,
    // NO lowercase (ES's whitespace analyzer)
    val std = post("/search/analyze",
      """{"text": "The Window,x", "analyzer": "standard"}""")
    val stdToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(std.body()).get("tokens")
    assert(stdToks.size == 3 &&
      stdToks.get(0).get("token").asText == "the" &&
      stdToks.get(1).get("token").asText == "window" &&
      stdToks.get(2).get("token").asText == "x")
    val ws = post("/search/analyze",
      """{"text": "The Window,x", "analyzer": "whitespace"}""")
    val wsToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ws.body()).get("tokens")
    assert(wsToks.size == 2 &&
      wsToks.get(0).get("token").asText == "The" &&
      wsToks.get(1).get("token").asText == "Window,x")
    // english: stems, ORIGINAL offsets, positions with stop gaps
    // (the stop at position 0 is consumed, not renumbered)
    val en = post("/search/analyze",
      """{"text": "The runner's running shoes",
        | "analyzer": "english"}""".stripMargin)
    val enToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(en.body()).get("tokens")
    assert(enToks.size == 3, en.body())
    assert(enToks.get(0).get("token").asText == "runner" &&
      enToks.get(0).get("position").asInt == 1 &&
      enToks.get(0).get("start_offset").asInt == 4 &&
      enToks.get(0).get("end_offset").asInt == 12)
    assert(enToks.get(1).get("token").asText == "run" &&
      enToks.get(1).get("position").asInt == 2)
    assert(enToks.get(2).get("token").asText == "shoe" &&
      enToks.get(2).get("position").asInt == 3)
    // french (round 16; light_french since round 17): elision keeps
    // the ORIGINAL token offsets, stopwords consume positions,
    // tokens are light_french stems (ES's prebuilt default)
    val fr = post("/search/analyze",
      """{"text": "la continuation de l'analogie",
        | "analyzer": "french"}""".stripMargin)
    val frToks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(fr.body()).get("tokens")
    assert(frToks.size == 2, fr.body())
    assert(frToks.get(0).get("token").asText == "continu" &&
      frToks.get(0).get("position").asInt == 1 &&
      frToks.get(0).get("start_offset").asInt == 3 &&
      frToks.get(0).get("end_offset").asInt == 15)
    assert(frToks.get(1).get("token").asText == "analog" &&
      frToks.get(1).get("position").asInt == 3 &&
      frToks.get(1).get("start_offset").asInt == 19 &&
      frToks.get(1).get("end_offset").asInt == 29)
  }

  test("POST /search/mget returns docs in request order with found " +
    "flags; wildcard index rejects") {
    val r = post("/search/mget",
      """{"index": "documents", "ids": ["3", "999999", "1"]}""")
    assert(r.statusCode() == 200, r.body())
    val docs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("docs")
    assert(docs.size == 3)
    assert(docs.get(0).get("_id").asText == "3" &&
      docs.get(0).get("found").asBoolean &&
      docs.get(0).get("_source").get("doc_id").asLong == 3L)
    assert(!docs.get(1).get("found").asBoolean &&
      !docs.get(1).has("_source"))
    assert(docs.get(2).get("_id").asText == "1" &&
      docs.get(2).get("found").asBoolean)
    assert(post("/search/mget", """{"index": "*", "ids": ["1"]}""")
      .statusCode() == 400)
    assert(post("/search/mget", """{"index": "documents"}""")
      .statusCode() == 400)
  }

  test("POST /search/termvectors reports term_freq + positions and " +
    "offsets per analyzed field; missing doc found=false") {
    val r = post("/search/termvectors",
      """{"index": "documents", "id": "1", "fields": ["text"]}""")
    assert(r.statusCode() == 200, r.body())
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body())
    assert(tree.get("found").asBoolean)
    val terms = tree.get("term_vectors").get("text").get("terms")
    assert(terms.fieldNames().hasNext)
    val first = terms.get(terms.fieldNames().next())
    assert(first.get("term_freq").asInt >= 1 &&
      first.get("tokens").get(0).has("position") &&
      first.get("tokens").get(0).has("start_offset"))
    val gone = post("/search/termvectors",
      """{"index": "documents", "id": "999999"}""")
    assert(gone.statusCode() == 200 &&
      !new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(gone.body()).get("found").asBoolean)
    assert(post("/search/termvectors",
      """{"index": "documents", "id": "1", "fields": ["n_chars"]}""")
      .statusCode() == 400)
  }

  test("POST /search/explain scores one doc with corpus statistics — " +
    "bit-identical to the doc's score in the full search") {
    // find a matching doc and its score from the search response
    val s = post("/search/advanced",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}, "size": 1}"""
        .stripMargin)
    val hit = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s.body()).get("hits").get("hits").get(0)
    val (hid, hscore) =
      (hit.get("doc_id").asLong, hit.get("_score").asDouble)
    val e = post("/search/explain",
      s"""{"index": "documents", "id": "$hid",
         | "query": {"match": {"text": "window"}}}""".stripMargin)
    assert(e.statusCode() == 200, e.body())
    val et = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(e.body())
    assert(et.get("matched").asBoolean)
    assert(et.get("explanation").get("value").asDouble == hscore)
    val miss = post("/search/explain",
      """{"index": "documents", "id": "999999",
        | "query": {"match": {"text": "window"}}}""".stripMargin)
    assert(miss.statusCode() == 200 &&
      !new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(miss.body()).get("matched").asBoolean)
    assert(post("/search/explain",
      """{"index": "documents", "id": "1",
        | "query": {"match_all": {}}, "size": 5}""".stripMargin)
      .statusCode() == 400)
  }

  test("terms lookup resolves through the HTTP layer's index catalog") {
    val r = post("/search/advanced",
      """{"index": "documents",
        | "query": {"terms": {"lang":
        |   {"index": "documents", "id": "7", "path": "lang"}}},
        | "size": 3}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"lang\":\"en\""), r.body().take(300))
    val badIdx = post("/search/advanced",
      """{"index": "documents",
        | "query": {"terms": {"lang":
        |   {"index": "nope", "id": "7", "path": "lang"}}}}"""
        .stripMargin)
    assert(badIdx.statusCode() == 400 && badIdx.body().contains("nope"))
  }

  test("parent/child rides HTTP: has_child over the lake's foreign " +
    "keys, and _count folds the child join too") {
    val r = post("/search/advanced",
      """{"index": "orders",
        | "query": {"has_child": {"type": "lineitem",
        |   "query": {"range": {"l_quantity": {"gte": 45}}},
        |   "score_mode": "sum", "min_children": 2}},
        | "size": 3}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    val hits = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("hits").get("hits")
    assert(hits.size > 0 && hits.get(0).get("_score").asDouble >= 2.0,
      r.body().take(300))
    val c = post("/search/count",
      """{"index": "orders",
        | "query": {"has_child": {"type": "lineitem",
        |   "query": {"range": {"l_quantity": {"gte": 45}}},
        |   "min_children": 2}}}""".stripMargin)
    assert(c.statusCode() == 200, c.body())
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(c.body()).get("count").asLong > 0)
    // documents has no registered relations: fails by name
    val bad = post("/search/advanced",
      """{"index": "documents",
        | "query": {"has_child": {"type": "lineitem",
        |   "query": {"match_all": {}}}}}""".stripMargin)
    assert(bad.statusCode() == 400 &&
      bad.body().contains("child"), bad.body())
  }

  test("POST /search/msearch answers ndjson pairs in order; a failing " +
    "item errors IN ITS SLOT and the envelope stays 200") {
    val nd =
      """{"index": "documents"}
        |{"query": {"match": {"text": "window"}}, "size": 2}
        |{"index": "nope"}
        |{"query": {"match_all": {}}}
        |{"index": "documents"}
        |{"query": {"bogus_clause": {}}}
        |{}
        |{"query": {"term": {"table": "documents"}}, "size": 1}
        |""".stripMargin
    val r = post("/search/msearch", nd)
    assert(r.statusCode() == 200, r.body())
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body())
    val rs = tree.get("responses")
    assert(rs != null && rs.isArray && rs.size == 4, r.body().take(400))
    assert(rs.get(0).has("hits"))
    assert(rs.get(1).get("status").asInt == 404)
    assert(rs.get(2).get("status").asInt == 400 &&
      rs.get(2).get("error").asText.contains("bogus_clause"))
    assert(rs.get(3).has("hits")) // headerless {} defaults to "*"
    val odd = post("/search/msearch", """{"index": "documents"}""")
    assert(odd.statusCode() == 400 && odd.body().contains("pairs"))
  }

  test("scroll: a 3-page walk covers the match set in order, with no " +
    "overlap, and the cursor ends when the set is exhausted") {
    val open = post("/search/advanced",
      """{"index": "documents", "scroll": "1m",
        | "query": {"match": {"text": "window"}}, "size": 40}"""
        .stripMargin)
    assert(open.statusCode() == 200, open.body())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def idsOf(body: String): Seq[Long] = {
      val n = mapper.readTree(body)
      val hits = n.get("hits").get("hits")
      (0 until hits.size).map(hits.get(_).get("doc_id").asLong)
    }
    def sidOf(body: String): Option[String] =
      Option(mapper.readTree(body).get("_scroll_id")).map(_.asText)
    var pages = List(idsOf(open.body()))
    var sid = sidOf(open.body())
    var hops = 0
    while (sid.isDefined && hops < 10) {
      val nxt = post("/search/scroll",
        s"""{"scroll_id": "${sid.get}"}""")
      assert(nxt.statusCode() == 200, nxt.body())
      val ids = idsOf(nxt.body())
      if (ids.nonEmpty) pages = pages :+ ids
      sid = if (ids.isEmpty) None else sidOf(nxt.body())
      hops += 1
    }
    assert(pages.length >= 3, s"expected >= 3 pages, got $pages")
    val all = pages.flatten
    assert(all.distinct.length == all.length, "pages overlap")
    // the walk equals the direct query's full match set
    val direct = serving.EsDsl.search(
      spark.read.parquet(s"$srcDir/documents.parquet"),
      mapper.readTree("""{"query": {"match": {"text": "window"}},
        "size": 10000}"""))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(all == direct, s"scroll walk diverged: ${all.length} vs ${
      direct.length} hits")
    // guard: scroll + sort is rejected by name
    val badReq = post("/search/advanced",
      """{"index": "documents", "scroll": "1m",
        | "query": {"match_all": {}},
        | "sort": [{"doc_id": {"order": "asc"}}]}""".stripMargin)
    assert(badReq.statusCode() == 400 && badReq.body().contains("sort"))
    val badSid = post("/search/scroll", """{"scroll_id": "!!!"}""")
    assert(badSid.statusCode() == 400)
  }

  test("knn bodies are served over HTTP; knn+suggest is rejected by " +
    "name, never silently dropped") {
    val body = s"""{"index": "embeddings", ${
      queries.PipelineQueries.knnBody.trim.drop(1)}"""
    val r = post("/search/advanced", body)
    assert(r.statusCode() == 200, r.body().take(300))
    assert(r.body().contains("\"_score\"") &&
      r.body().contains("\"vec_id\""), r.body().take(300))
    val combined = post("/search/advanced", s"""{"index": "embeddings",
      "suggest": {"s": {"text": "x", "term": {"field": "vec_id"}}},
      ${queries.PipelineQueries.knnBody.trim.drop(1)}""")
    assert(combined.statusCode() == 400 &&
      combined.body().contains("suggest"), combined.body())
  }

  test("a rankable wildcard multi_match body ranks PER-INDEX over " +
    "HTTP — the identity-triple response /search rank=bm25 serves") {
    val r = post("/search/advanced",
      """{"query": {"multi_match": {"query": "small error household"}},
        | "size": 5}""".stripMargin)
    assert(r.statusCode() == 200, r.body().take(300))
    // per-index hits are the (table, document_id, score) triple — a
    // union-view fallback would return document fields + _score
    assert(r.body().contains("\"table\"") &&
      r.body().contains("\"document_id\"") &&
      r.body().contains("\"score\""), r.body().take(400))
    assert(!r.body().contains("\"_score\""), r.body().take(400))
  }

  test("GET /health returns ok + timestamp (Q3)") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"status\": \"ok\""))
    assert(r.body().contains("timestamp"))
  }

  test("GET /entities lists the catalog (Q4)") {
    val r = get("/entities")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"customer\"") && r.body().contains("\"events\""))
  }

  test("POST /search runs multi_match over the lake (Q1)") {
    val r = post("/search",
      """{"search_term": "window", "fields": ["text", "source"],
        | "index": "documents", "limit": 5}""".stripMargin)
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("""{"hits": {"total": """))
    assert(r.body().contains("\"score\""))
    // limit respected
    assert("\"doc_id\"".r.findAllIn(r.body()).size <= 5)
  }

  test("POST /search defaults fields to every string column (multi_match *)") {
    val r = post("/search", """{"search_term": "window", "limit": 3}""")
    assert(r.statusCode() == 200 && r.body().contains("\"score\""))
    val missing = post("/search", "{}")
    assert(missing.statusCode() == 400)
  }

  test("POST /search with index '*' searches every entity index at once " +
      "(the reference's data_lake_* wildcard)") {
    val r = post("/search",
      """{"search_term": "er", "index": "*", "limit": 50}""")
    assert(r.statusCode() == 200)
    assert(r.body().startsWith("""{"hits": {"total": """))
    // hits come from MORE THAN ONE entity index ("er" matches customer
    // and supplier names and error events)
    val tables = "\"table\":\"([a-z]+)\"".r
      .findAllMatchIn(r.body()).map(_.group(1)).toSet
    assert(tables.size > 1, s"expected multi-entity hits, got $tables")
    // the data_lake_* form routes identically to "*"
    val r2 = post("/search",
      """{"search_term": "er", "index": "data_lake_*", "limit": 5}""")
    assert(r2.statusCode() == 200 && r2.body().contains("\"score\""))
    // rank=bm25 across every index: per-index statistics, hits from
    // more than one entity interleaved by score
    val rb = post("/search",
      """{"search_term": "small error household", "index": "*",
        | "rank": "bm25", "limit": 30}""".stripMargin)
    assert(rb.statusCode() == 200, rb.body().take(300))
    val rbTables = "\"table\":\"([a-z]+)\"".r
      .findAllMatchIn(rb.body()).map(_.group(1)).toSet
    assert(rbTables.size > 1, s"expected multi-entity ranked hits: $rbTables")
    val rbScores = "\"score\":([0-9.]+)".r
      .findAllMatchIn(rb.body()).map(_.group(1).toDouble).toSeq
    assert(rbScores == rbScores.sorted.reverse)
    // the wildcard honors the 3-key [score, document_id, table] cursor:
    // two ranked pages == one larger request, no overlap, no gap
    def hitsOf(body: String): Seq[(String, String, Double)] =
      ("\\{\"table\":\"([a-z]+)\",\"document_id\":\"([^\"]+)\"," +
        "\"score\":([0-9.]+)\\}").r.findAllMatchIn(body)
        .map(m => (m.group(1), m.group(2), m.group(3).toDouble)).toSeq
    // the tfidf wildcard tier serves and ranks too
    val tf = post("/search",
      """{"search_term": "small error household", "index": "*",
        | "rank": "tfidf", "limit": 10}""".stripMargin)
    assert(tf.statusCode() == 200 && tf.body().contains("\"score\""))
    val q = """{"search_term": "small error household", "index": "*",
      | "rank": "bm25", "limit": 8%s}""".stripMargin
    val h1 = hitsOf(post("/search", q.format("")).body())
    assert(h1.size == 8, s"page1: $h1")
    val (lt, li, ls) = (h1.last._1, h1.last._2, h1.last._3)
    val h2 = hitsOf(post("/search",
      q.format(s""", "search_after": [$ls, "$li", "$lt"]""")).body())
    val all = hitsOf(post("/search",
      q.format("").replace("\"limit\": 8", "\"limit\": 16")).body())
    assert(h1 ++ h2 == all, s"paged=${h1 ++ h2} single=$all")
    // phrase and operator=and span the wildcard too (per-entity
    // positional indexes): "blue rod" is adjacent only in part names,
    // so phrase hits are part-only and AND ⊇ phrase
    val ph = post("/search",
      """{"search_term": "blue rod", "index": "*",
        | "type": "phrase", "limit": 50}""".stripMargin)
    assert(ph.statusCode() == 200, ph.body().take(300))
    val phTables = "\"table\":\"([a-z]+)\"".r
      .findAllMatchIn(ph.body()).map(_.group(1)).toSet
    assert(phTables == Set("part"), s"wildcard phrase tables: $phTables")
    val an = post("/search",
      """{"search_term": "blue rod", "index": "*",
        | "operator": "and", "limit": 50}""".stripMargin)
    assert(an.statusCode() == 200, an.body().take(300))
    assert(hitsOf(an.body()).size >= hitsOf(ph.body()).size)
    assert(hitsOf(ph.body()).nonEmpty)
  }

  test("POST /search with rank=bm25 returns BM25-scored hit identities " +
      "(the scorer ES's multi_match actually runs)") {
    val r = post("/search",
      """{"search_term": "window", "fields": ["text"],
        | "index": "documents", "rank": "bm25", "limit": 5}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"score\""))
    val scores = "\"score\":([0-9.]+)".r
      .findAllMatchIn(r.body()).map(_.group(1).toDouble).toSeq
    assert(scores.nonEmpty && scores.length <= 5)
    assert(scores == scores.sorted.reverse) // ranked descending
    // tfidf mode serves too, and ranks differently or equally — both
    // bounded and well-formed
    val t = post("/search",
      """{"search_term": "window", "fields": ["text"],
        | "index": "documents", "rank": "tfidf", "limit": 5}""".stripMargin)
    assert(t.statusCode() == 200 && t.body().contains("\"score\""))
  }

  test("POST /search rank=bm25 scores the WHOLE fields list (true " +
      "multi_match): two fields rank differently than either alone") {
    def topIds(body: String): Seq[Long] =
      "\"doc_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
    // 'window' only matches text; 'src3' only matches source — so the
    // two-field ranking must differ from each single-field ranking
    val both = post("/search",
      """{"search_term": "window src3", "fields": ["text", "source"],
        | "index": "documents", "rank": "bm25", "limit": 10}""".stripMargin)
    val textOnly = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "rank": "bm25", "limit": 10}""".stripMargin)
    val srcOnly = post("/search",
      """{"search_term": "window src3", "fields": ["source"],
        | "index": "documents", "rank": "bm25", "limit": 10}""".stripMargin)
    assert(both.statusCode() == 200, both.body())
    val (b, tx, so) =
      (topIds(both.body()), topIds(textOnly.body()), topIds(srcOnly.body()))
    assert(b.nonEmpty && b != tx && b != so,
      s"multi-field ranking should differ: both=$b text=$tx source=$so")
    // best_fields (ES's default multi_match type) serves and is ranked
    val best = post("/search",
      """{"search_term": "window src3", "fields": ["text", "source"],
        | "index": "documents", "rank": "bm25",
        | "type": "best_fields", "limit": 10}""".stripMargin)
    assert(best.statusCode() == 200 && best.body().contains("\"score\""))
  }

  test("POST /search type=phrase needs adjacency; operator=and needs " +
      "every term (ES multi_match modes)") {
    val ph = post("/search",
      """{"search_term": "the window", "fields": ["text"],
        | "index": "documents", "type": "phrase", "limit": 100}""".stripMargin)
    assert(ph.statusCode() == 200, ph.body())
    val phN = "\"doc_id\"".r.findAllIn(ph.body()).size
    // both-terms-anywhere (operator=and) matches strictly more docs
    // than the adjacency-constrained phrase
    val and = post("/search",
      """{"search_term": "the window", "fields": ["text"],
        | "index": "documents", "operator": "and", "limit": 100}""".stripMargin)
    val andN = "\"doc_id\"".r.findAllIn(and.body()).size
    assert(phN > 0 && phN < andN, s"phrase=$phN and=$andN")
    // operator=and: 'src3' never appears in text, so text-only AND is
    // empty while text+source AND is not
    val andBoth = post("/search",
      """{"search_term": "window src3", "fields": ["text", "source"],
        | "index": "documents", "operator": "and"}""".stripMargin)
    val andText = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "operator": "and"}""".stripMargin)
    assert(andBoth.statusCode() == 200 && andText.statusCode() == 200)
    assert("\"doc_id\"".r.findAllIn(andBoth.body()).size > 0)
    assert("\"doc_id\"".r.findAllIn(andText.body()).size == 0)
    // minimum_should_match: 2-of-2 over text-only == the AND result
    val mm = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": 2}""".stripMargin)
    assert(mm.statusCode() == 200)
    assert("\"doc_id\"".r.findAllIn(mm.body()).size == 0)
    val mm1 = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": 1}""".stripMargin)
    assert("\"doc_id\"".r.findAllIn(mm1.body()).size > 0)
    // ES string grammar: "100%" of 2 distinct terms == the integer-2
    // result; a conditional spec with bound ≥ term count requires all
    val mmPct = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": "100%"}"""
        .stripMargin)
    assert(mmPct.statusCode() == 200, mmPct.body())
    assert(mmPct.body() == mm.body(), "\"100%\" of 2 != integer 2")
    val mmCond = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": "3<-25%"}"""
        .stripMargin)
    assert(mmCond.statusCode() == 200, mmCond.body())
    assert(mmCond.body() == mm.body(), "2 terms ≤ bound 3 should be AND")
    // "50%" of 2 terms floors to 1 — the OR-wide result
    val mmHalf = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": "50%"}"""
        .stripMargin)
    assert(mmHalf.body() == mm1.body(), "\"50%\" of 2 != integer 1")
    // ES's negative-integer form: -1 of 2 terms = total-1 = 1 required
    // (the OR-wide result) — the integral JSON node must route through
    // the same grammar resolver as the string specs, not clamp to 1
    val mmNeg = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": -1}""".stripMargin)
    assert(mmNeg.statusCode() == 200, mmNeg.body())
    assert(mmNeg.body() == mm1.body(), "-1 of 2 terms != integer 1")
    // malformed specs are the caller's error
    val mmBad = post("/search",
      """{"search_term": "window src3", "fields": ["text"],
        | "index": "documents", "minimum_should_match": "banana"}"""
        .stripMargin)
    assert(mmBad.statusCode() == 400, mmBad.body())
    // fuzziness: a 1-edit typo still hits; 0 edits does not; junk is 400
    val fz1 = post("/search",
      """{"search_term": "windoq", "fields": ["text"],
        | "index": "documents", "fuzziness": 1}""".stripMargin)
    assert(fz1.statusCode() == 200, fz1.body().take(300))
    assert("\"doc_id\"".r.findAllIn(fz1.body()).size > 0, "typo not rescued")
    val fz0 = post("/search",
      """{"search_term": "windoq", "fields": ["text"],
        | "index": "documents", "fuzziness": "0"}""".stripMargin)
    assert("\"doc_id\"".r.findAllIn(fz0.body()).size == 0)
    val fzAuto = post("/search",
      """{"search_term": "windoq", "fields": ["text"],
        | "index": "documents", "fuzziness": "AUTO"}""".stripMargin)
    assert(fzAuto.statusCode() == 200 &&
      "\"doc_id\"".r.findAllIn(fzAuto.body()).size > 0)
    assert(post("/search",
      """{"search_term": "windoq", "fields": ["text"],
        | "index": "documents", "fuzziness": "9"}""".stripMargin)
      .statusCode() == 400)
  }

  test("POST /search/advanced runs real SQL over registered views (Q2)") {
    val r = post("/search/advanced",
      """{"sql": "SELECT n_name FROM nation ORDER BY n_name LIMIT 2"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("n_name"))
    assert("\"n_name\"".r.findAllIn(r.body()).size == 2)
  }

  test("POST /search/advanced accepts verbatim ES-DSL bodies (the " +
    "reference's raw passthrough shape) and 400s unsupported DSL") {
    val r = post("/search/advanced",
      """{"query": {"bool": {
        |  "must": [{"match": {"text": "window"}}],
        |  "filter": [{"range": {"n_chars": {"gte": 1}}}]}},
        | "size": 5, "index": "documents"}""".stripMargin)
    assert(r.statusCode() == 200, r.body().take(300))
    assert("\"doc_id\"".r.findAllIn(r.body()).size > 0)
    assert(r.body().contains("\"_score\""))
    val scores = "\"_score\":([0-9.]+)".r
      .findAllMatchIn(r.body()).map(_.group(1).toDouble).toSeq
    assert(scores.nonEmpty && scores == scores.sorted.reverse)
    // round-10 surface serves over HTTP: span proximity, a decay
    // function, and a terms HAVING pipeline
    val sp = post("/search/advanced",
      """{"query": {"span_near": {"clauses": [
        |   {"span_term": {"text": "the"}},
        |   {"span_term": {"text": "window"}}],
        |  "slop": 2, "in_order": true}},
        | "size": 3, "index": "documents"}""".stripMargin)
    assert(sp.statusCode() == 200, sp.body().take(300))
    assert(sp.body().contains("\"_score\""))
    val dec = post("/search/advanced",
      """{"query": {"function_score": {
        |  "query": {"match_all": {}},
        |  "functions": [{"linear": {"n_chars":
        |    {"origin": 300, "scale": 200, "decay": 0.5}}}],
        |  "boost_mode": "replace"}},
        | "size": 3, "index": "documents"}""".stripMargin)
    assert(dec.statusCode() == 200, dec.body().take(300))
    val having = post("/search/advanced",
      """{"query": {"match_all": {}},
        | "aggs": {"by_src": {"terms": {"field": "source", "size": 20},
        |   "aggs": {"keep": {"bucket_selector":
        |     {"buckets_path": {"c": "_count"},
        |      "script": "params.c > 0"}}}}},
        | "size": 0, "index": "documents"}""".stripMargin)
    assert(having.statusCode() == 200, having.body().take(300))
    assert(having.body().contains("\"by_src\""))
    // a typo'd top-level key 400s by name over HTTP
    val typo = post("/search/advanced",
      """{"query": {"match_all": {}}, "agg": {}, "index": "documents"}""")
    assert(typo.statusCode() == 400 && typo.body().contains("agg"),
      typo.body())
    // query_string serves over HTTP (round 9); its strict syntax
    // errors surface as 400s naming the defect
    val qs = post("/search/advanced",
      """{"query": {"query_string": {"query": "text:window -text:batch"}},
        | "size": 5, "index": "documents"}""".stripMargin)
    assert(qs.statusCode() == 200, qs.body().take(300))
    assert("\"doc_id\"".r.findAllIn(qs.body()).size > 0)
    val qsBad = post("/search/advanced",
      """{"query": {"query_string": {"query": "(a"}}, "index": "documents"}""")
    assert(qsBad.statusCode() == 400, qsBad.body())
    assert(qsBad.body().toLowerCase.contains("query_string"))
    // a sibling pipeline listed BEFORE the bucket agg: the response
    // section is still keyed by the base bucket agg's name, and the
    // whole body parses as JSON (agg names are escaped)
    val sib = post("/search/advanced",
      """{"query": {"match_all": {}},
        | "aggs": {
        |   "avg\"daily": {"avg_bucket":
        |     {"buckets_path": "per_day>_count"}},
        |   "per_day": {"date_histogram":
        |     {"field": "ts", "fixed_interval": "1d"}}},
        | "size": 0, "index": "events"}""".stripMargin)
    assert(sib.statusCode() == 200, sib.body().take(300))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sib.body())
    assert(parsed.get("aggregations").hasNonNull("per_day"),
      sib.body().take(300))
    // suggest-only body: the term suggester's flat response
    val sug = post("/search/advanced",
      """{"suggest": {"fix": {"text": "windoq",
        | "term": {"field": "text"}}}, "index": "documents"}"""
        .stripMargin)
    assert(sug.statusCode() == 200, sug.body().take(300))
    assert(sug.body().contains("\"suggestion\""), sug.body().take(300))
    assert(sug.body().contains("window"), sug.body().take(300))
    // phrase suggester rides the same suggest section (scan path —
    // the bigram LM has no index probe)
    val ph = post("/search/advanced",
      """{"suggest": {"fix": {"text": "windoq bath",
        | "phrase": {"field": "text"}}}, "index": "documents"}"""
        .stripMargin)
    assert(ph.statusCode() == 200, ph.body().take(300))
    // single-error budget: each suggestion corrects ONE token
    assert(ph.body().contains("windoq batch") &&
      ph.body().contains("window bath"), ph.body().take(500))
    // unsupported construct: named rejection, not a wrong result
    val bad = post("/search/advanced",
      """{"query": {"percolate": {"field": "q"}}, "index": "documents"}""")
    assert(bad.statusCode() == 400, bad.body())
    assert(bad.body().contains("percolate"))
    assert(post("/search/advanced",
      """{"query": {"match_all": {}}, "index": "nope"}""")
      .statusCode() == 404)
    // index "*": the reference's es_connector always targets
    // index_prefix* — DSL bodies run against the union document view
    val wild = post("/search/advanced",
      """{"query": {"match": {"customer_c_mktsegment": "building"}},
        | "index": "data_lake_*", "size": 5}""".stripMargin)
    assert(wild.statusCode() == 200, wild.body().take(300))
    assert(wild.body().contains("\"document_id\""))
    assert("\"table\":\"customer\"".r.findAllIn(wild.body()).nonEmpty)
  }

  test("POST /search/advanced returns hits AND aggregations from one " +
    "DSL body (ES's response shape), and defaults to the union view") {
    val r = post("/search/advanced",
      """{"query": {"range": {"n_chars": {"gte": 1}}}, "size": 5,
        | "index": "documents",
        | "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5}}}}"""
        .stripMargin)
    assert(r.statusCode() == 200, r.body().take(300))
    // 5 hits AND the buckets, in one response
    assert("\"doc_id\"".r.findAllIn(r.body()).size == 5, r.body().take(500))
    assert(r.body().contains("\"aggregations\": {\"by_lang\": " +
      "{\"buckets\": ["), r.body().take(500))
    assert(r.body().contains("\"doc_count\""))
    // size 0 = buckets only, the ES idiom
    val b0 = post("/search/advanced",
      """{"query": {"match_all": {}}, "size": 0, "index": "documents",
        | "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5}}}}"""
        .stripMargin)
    assert(b0.statusCode() == 200)
    assert(!b0.body().contains("\"doc_id\""))
    assert(b0.body().contains("\"aggregations\""))
    // no "index" field → the union document view (the reference's
    // es_connector always searches index_prefix*), NOT a named table
    val dflt = post("/search/advanced",
      """{"query": {"match": {"customer_c_mktsegment": "building"}},
        | "size": 3}""".stripMargin)
    assert(dflt.statusCode() == 200, dflt.body().take(300))
    assert(dflt.body().contains("\"document_id\""))
    assert("\"table\":\"customer\"".r.findAllIn(dflt.body()).nonEmpty)
  }

  test("POST /search/advanced hard-caps corpus-sized results — a " +
      "SELECT * never materializes the corpus in the serving JVM") {
    // lineitem at sf0.001 is ~6k rows, well past the 1000-row cap
    val r = post("/search/advanced",
      """{"sql": "SELECT l_orderkey FROM lineitem"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"capped\": true"), r.body().take(200))
    assert(r.body().contains("\"max_hits\": 1000"))
    assert("\"l_orderkey\"".r.findAllIn(r.body()).size == 1000)
    // a capped envelope must NOT pass the page size off as the corpus
    // total: ES reports a lower bound with relation "gte"
    assert(r.body().contains("\"relation\": \"gte\""), r.body().take(200))
    assert("\"total\": \\{\"value\": (\\d+)".r.findFirstMatchIn(r.body())
      .exists(_.group(1).toInt > 1000))
    // a bounded query comes back whole and unflagged
    val small = post("/search/advanced",
      """{"sql": "SELECT n_name FROM nation"}""")
    assert(small.statusCode() == 200)
    assert(small.body().contains("\"capped\": false"))
    assert(small.body().contains("\"relation\": \"eq\""))
    assert("\"n_name\"".r.findAllIn(small.body()).size == 25)
  }

  test("POST /search pages with a search_after cursor: two pages, " +
      "no overlap, no gap (ES deep pagination)") {
    def hitsOf(body: String): Seq[(Long, Double)] =
      "\\{\"doc_id\":(\\d+),\"score\":([0-9.]+)\\}".r
        .findAllMatchIn(body)
        .map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq
    val q = """{"search_term": "window the of", "fields": ["text"],
      | "index": "documents", "rank": "bm25", "limit": 7%s}""".stripMargin
    val p1 = post("/search", q.format(""))
    assert(p1.statusCode() == 200, p1.body())
    val h1 = hitsOf(p1.body())
    assert(h1.size == 7)
    val (lastId, lastScore) = (h1.last._1, h1.last._2)
    val p2 = post("/search",
      q.format(s""", "search_after": [$lastScore, $lastId]"""))
    assert(p2.statusCode() == 200, p2.body())
    val h2 = hitsOf(p2.body())
    assert(h2.size == 7)
    // no overlap, and the two pages are exactly the first 14 hits of a
    // single larger request (no gap)
    assert((h1.map(_._1).toSet intersect h2.map(_._1).toSet).isEmpty)
    val all = hitsOf(post("/search",
      q.format("").replace("\"limit\": 7", "\"limit\": 14")).body())
    assert(h1 ++ h2 == all, s"paged=${h1 ++ h2} single=$all")
  }

  test("POST /search/advanced pages with next_page_token; a token for " +
      "different sql is a 400") {
    // orders has a unique key (1500 rows at sf0.001), so page contents
    // can be compared set-wise
    val sql = """{"sql": "SELECT o_orderkey FROM orders"%s}"""
    val p1 = post("/search/advanced", sql.format(""))
    assert(p1.statusCode() == 200)
    assert(p1.body().contains("\"capped\": true"))
    val tok = "\"next_page_token\": \"([^\"]+)\"".r
      .findFirstMatchIn(p1.body()).map(_.group(1))
    assert(tok.isDefined, p1.body().take(300))
    val p2 = post("/search/advanced",
      sql.format(s""", "page_token": "${tok.get}""""))
    assert(p2.statusCode() == 200, p2.body().take(300))
    def keys(body: String): Set[Long] =
      "\"o_orderkey\":(\\d+)".r.findAllMatchIn(body)
        .map(_.group(1).toLong).toSet
    val (k1, k2) = (keys(p1.body()), keys(p2.body()))
    // full pages, zero overlap, union covers the whole table — the
    // deterministic all-columns sort makes offset paging sound for
    // unordered SQL (no gap, no repeat)
    assert(k1.size == 1000 && k2.size == 500, s"${k1.size} ${k2.size}")
    assert((k1 intersect k2).isEmpty)
    assert((k1 union k2).size == 1500)
    assert(p2.body().contains("\"capped\": false"))
    // a token replayed against DIFFERENT sql must not return a silently
    // wrong page
    val bad = post("/search/advanced",
      s"""{"sql": "SELECT n_name FROM nation", "page_token": "${tok.get}"}""")
    assert(bad.statusCode() == 400)
  }

  test("POST /search with an explicit empty fields list is a 400, " +
      "not a 500 (ranked modes score at least one field)") {
    val r = post("/search",
      """{"search_term": "window", "fields": [],
        | "index": "documents", "rank": "bm25"}""".stripMargin)
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("field"))
  }

  test("POST /{entity} inserts one validated doc and returns its id") {
    val r = post("/customer",
      """{"c_custkey": 990001, "c_name": "api user",
        | "c_nationkey": 1, "c_acctbal": 0.0,
        | "c_mktsegment": "BUILDING"}""".stripMargin)
    assert(r.statusCode() == 201, r.body())
    assert(r.body().contains("\"document_id\": \"990001\""))
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/customer")
    assert(stored.filter(stored("document_id") === "990001").count() == 1)
  }

  test("POST /{entity} mints a uuid id when the id is absent (F4) and " +
       "returns the SAME id it stored") {
    val r = post("/events",
      """{"user_id": 7, "event_type": "api", "props": "{}"}""")
    assert(r.statusCode() == 201, r.body())
    val id = """"document_id": "([^"]+)"""".r
      .findFirstMatchIn(r.body()).get.group(1)
    assert(id.length >= 32) // uuid-shaped, not a literal null
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/events")
    assert(stored.filter(stored("document_id") === id).count() == 1)
  }

  test("POST /{entity}/batch indexes valid rows, counts invalid (bulk)") {
    val r = post("/supplier/batch",
      """[{"s_suppkey": 990100, "s_name": "ok", "s_nationkey": 1},
        | {"s_suppkey": 990101, "s_name": null, "s_nationkey": 1}]"""
        .stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == """{"indexed": 1, "errors": 1}""")
  }

  test("POST /{entity}/sync re-indexes one record from the source (R1)") {
    val r = post("/customer/sync", """{"id": "42"}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"result\": \"synced\""))
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/customer")
    assert(stored.filter(stored("document_id") === "42").count() == 1)
    // the earlier API insert survived the upsert (merge, not truncate)
    assert(stored.filter(stored("document_id") === "990001").count() == 1)
  }

  test("GET /{entity}/{id} and GET /{entity} read the SYNCED index") {
    // runs after the insert/sync tests above, so the customer index exists
    val one = get("/customer/990001")
    assert(one.statusCode() == 200, one.body())
    assert(one.body().contains("\"customer_c_name\":\"api user\""))
    assert(get("/customer/nope-missing").statusCode() == 404)
    val list = get("/customer?limit=2")
    assert(list.statusCode() == 200)
    assert("\"document_id\"".r.findAllIn(list.body()).size == 2)
    // listing pages with the same after-cursor contract as /search:
    // page 2 starts strictly after page 1's last document_id, and the
    // two pages equal one larger request
    def ids(body: String): Seq[String] =
      "\"document_id\":\"([^\"]+)\"".r.findAllMatchIn(body)
        .map(_.group(1)).toSeq
    val all = ids(get("/customer?limit=100").body())
    assert(all.size >= 2, s"need >=2 synced docs, got $all")
    val p1 = ids(get("/customer?limit=1").body())
    val p2 = ids(get(s"/customer?limit=1&after=${p1.head}").body())
    assert(p1 == all.take(1) && p2 == all.slice(1, 2),
      s"cursor walk $p1 then $p2 != $all")
    // entity known but never synced → 404, reads never touch the source
    assert(get("/part").statusCode() == 404)
  }

  test("update_by_query mutates the synced store by the query's " +
    "match set; the script is the Painless subset with ctx._source " +
    "refs; counts verify") {
    // seed a fresh entity store: 3 suppliers via batch
    val seed = post("/supplier/batch",
      """[{"s_suppkey": 991001, "s_name": "alpha", "s_nationkey": 77,
        |   "s_acctbal": 100.0},
        |  {"s_suppkey": 991002, "s_name": "beta", "s_nationkey": 77,
        |   "s_acctbal": 200.0},
        |  {"s_suppkey": 991003, "s_name": "gamma", "s_nationkey": 78,
        |   "s_acctbal": 300.0}]""".stripMargin)
    assert(seed.statusCode() == 200, seed.body())
    val r = post("/supplier/update_by_query",
      """{"query": {"term": {"supplier_s_nationkey": 77}},
        | "script": {"source":
        |   "ctx._source.supplier_s_acctbal = ctx._source.supplier_s_acctbal * params.f + 5",
        |   "params": {"f": 2}}}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == """{"updated": 2}""", r.body())
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/supplier")
    def bal(id: Long): Double =
      stored.filter(stored("supplier_s_suppkey") === id)
        .select("supplier_s_acctbal").collect()(0).getDouble(0)
    assert(bal(991001L) == 205.0 && bal(991002L) == 405.0 &&
      bal(991003L) == 300.0)
    // fail-loud: unknown field, non-assignment statement, bad key
    assert(post("/supplier/update_by_query",
      """{"script": "ctx._source.nope = 1"}""").statusCode() == 400)
    assert(post("/supplier/update_by_query",
      """{"script": "return 1"}""").statusCode() == 400)
    assert(post("/supplier/update_by_query",
      """{"script": "ctx._source.supplier_s_acctbal = 1",
        | "extra": 1}""".stripMargin).statusCode() == 400)
    assert(post("/supplier/update_by_query",
      """{"query": {"match_all": {}}}""").statusCode() == 400)
  }

  test("delete_by_query drops the match set from the store and " +
    "reports the deleted count; a bodyless query deletes everything") {
    val before = graft.sinks.DocumentSink.read(spark, s"$outDir/supplier").count()
    assert(before >= 3)
    val r = post("/supplier/delete_by_query",
      """{"query": {"term": {"supplier_s_nationkey": 78}}}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body() == """{"deleted": 1}""", r.body())
    val after = graft.sinks.DocumentSink.read(spark, s"$outDir/supplier")
    assert(after.count() == before - 1)
    assert(after.filter(
      after("supplier_s_suppkey") === 991003L).count() == 0)
    // deleting nothing reports 0 and leaves the store intact
    val zero = post("/supplier/delete_by_query",
      """{"query": {"term": {"supplier_s_nationkey": 999}}}""")
    assert(zero.body() == """{"deleted": 0}""")
    assert(graft.sinks.DocumentSink.read(spark, s"$outDir/supplier").count()
      == before - 1)
  }

  test("a punctuation-only search_term 400s by name on token-based " +
    "rank modes and still serves the substring scorer") {
    val r = post("/search",
      """{"search_term": "!!!", "index": "documents", "rank": "bm25"}""")
    assert(r.statusCode() == 400 && r.body().contains("tokens"), r.body())
    assert(post("/search",
      """{"search_term": "!!!", "index": "*",
        | "type": "phrase"}""".stripMargin).statusCode() == 400)
    // the default occurrence scorer is substring-based — still 200
    assert(post("/search",
      """{"search_term": "!!!", "index": "documents"}""")
      .statusCode() == 200)
  }

  test("comma-separated multi-index targets: per-index ranking over " +
    "the named entity subset on /search and /search/advanced; " +
    "unknown components 404") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val pair = post("/search",
      """{"search_term": "small error household",
        | "index": "customer,part", "rank": "bm25"}""".stripMargin)
    assert(pair.statusCode() == 200, pair.body())
    val tables = om.readTree(pair.body()).get("hits").get("hits")
    val seen = (0 until tables.size)
      .map(i => tables.get(i).get("table").asText).toSet
    assert(seen == Set("customer", "part"), seen)
    // advanced multi_match body over the same comma target: same route
    val adv = post("/search/advanced",
      """{"index": "customer,part",
        | "query": {"multi_match": {"query": "small error household"}},
        | "size": 100}""".stripMargin)
    assert(adv.statusCode() == 200, adv.body())
    val advTables = om.readTree(adv.body()).get("hits").get("hits")
    assert((0 until advTables.size)
      .map(i => advTables.get(i).get("table").asText).toSet ==
      Set("customer", "part"))
    // a filter-context body over the comma target rides the union
    // subset view (count = the two entities' doc counts)
    val cnt = post("/search/count",
      """{"index": "customer,part"}""")
    assert(cnt.statusCode() == 200, cnt.body())
    assert(om.readTree(cnt.body()).get("count").asLong > 0)
    // unknown component -> 404 naming it
    val bad404 = post("/search",
      """{"search_term": "x", "index": "customer,nope"}""")
    assert(bad404.statusCode() == 404 && bad404.body().contains("nope"))
    assert(post("/search/count",
      """{"index": "customer,nope"}""").statusCode() == 404)
  }

  test("index aliases resolve on every search surface and on the " +
    "entity routes; shadowing and alias-of-alias reject") {
    assert(put("/search/aliases/docs_alias",
      """{"index": "documents"}""").statusCode() == 200)
    // /search/count through the alias == through the real name
    def countOf(idx: String): Long = {
      val r = post("/search/count",
        s"""{"index": "$idx", "query": {"match": {"text": "window"}}}""")
      assert(r.statusCode() == 200, r.body())
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(r.body()).get("count").asLong
    }
    assert(countOf("docs_alias") == countOf("documents"))
    // entity alias: GET routes resolve (customer synced earlier)
    assert(put("/search/aliases/cust_alias",
      """{"index": "customer"}""").statusCode() == 200)
    assert(get("/cust_alias/990001").statusCode() == 200)
    // listing carries both
    val ls = get("/search/aliases")
    assert(ls.body().contains("docs_alias") &&
      ls.body().contains("cust_alias"))
    // rejections: shadow a real name, alias-of-alias, unknown target
    assert(put("/search/aliases/documents",
      """{"index": "orders"}""").statusCode() == 400)
    assert(put("/search/aliases/chain",
      """{"index": "docs_alias"}""").statusCode() == 400)
    assert(put("/search/aliases/ghost",
      """{"index": "no_such"}""").statusCode() == 400)
    // delete: the alias stops resolving
    assert(delete("/search/aliases/docs_alias").statusCode() == 200)
    assert(post("/search/count",
      """{"index": "docs_alias"}""").statusCode() == 404)
    assert(delete("/search/aliases/docs_alias").statusCode() == 404)
    assert(delete("/search/aliases/cust_alias").statusCode() == 200)
  }

  test("concurrent searches on one session all succeed (thread safety)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 8).map(i => Future {
        post("/search", s"""{"search_term": "window", "limit": $i}""")
      })), 60.seconds)
    assert(results.forall(_.statusCode() == 200))
    assert(results.forall(_.body().startsWith("""{"hits"""")))
  }

  test("a quote in an entity path stays inside the 404 body's JSON " +
    "string") {
    val r = post("/no%22such", "{}")
    assert(r.statusCode() == 404)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("error").asText ==
        "unknown entity 'no\"such'", r.body())
  }

  test("a quote in an index name stays inside the 404 body's JSON " +
    "string") {
    val r = post("/search/count", """{"index": "no\"such"}""")
    assert(r.statusCode() == 404)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("error").asText ==
        "unknown index 'no\"such'", r.body())
  }

  test("unknown entity and unknown route are 404; bad body is 400") {
    assert(post("/nosuch", "{}").statusCode() == 404)
    assert(get("/nosuch").statusCode() == 404)
    assert(post("/customer/batch", "{}").statusCode() == 400)
    assert(post("/search/advanced", "{}").statusCode() == 400)
  }

  test("POST /_bulk: mixed index/create/update/delete apply in order " +
    "with ES per-item status slots; one failing item never fails the " +
    "request; the store shows the net delta") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ndjson = Seq(
      """{"index": {"_index": "part", "_id": "880001"}}""",
      """{"p_name": "bulk one", "p_brand": "Brand#88"}""",
      """{"create": {"_index": "part", "_id": "880002"}}""",
      """{"p_name": "bulk two"}""",
      // create of an id indexed EARLIER IN THIS REQUEST conflicts
      """{"create": {"_index": "part", "_id": "880002"}}""",
      """{"p_name": "dup"}""",
      // update sees the in-request doc; fields are the store's
      // namespaced columns
      """{"update": {"_index": "part", "_id": "880001"}}""",
      """{"doc": {"part_p_brand": "Brand#99"}}""",
      """{"update": {"_index": "part", "_id": "880404"}}""",
      """{"doc": {"part_p_brand": "X"}}""",
      // minted id + null required field -> per-item validation error
      """{"index": {"_index": "part"}}""",
      """{"p_name": null}""",
      """{"delete": {"_index": "part", "_id": "880002"}}""",
      """{"delete": {"_index": "part", "_id": "880404"}}"""
    ).mkString("\n") + "\n"
    val r = post("/_bulk", ndjson)
    assert(r.statusCode() == 200, r.body())
    val root = om.readTree(r.body())
    assert(root.get("errors").asBoolean, r.body())
    val items = root.get("items")
    assert(items.size == 8, r.body())
    def at(i: Int, op: String) = {
      val n = items.get(i).get(op)
      assert(n != null, s"item $i is not '$op': ${items.get(i)}")
      n
    }
    assert(at(0, "index").get("status").asInt == 201)
    assert(at(0, "index").get("result").asText == "created")
    assert(at(1, "create").get("status").asInt == 201)
    assert(at(2, "create").get("status").asInt == 409)
    assert(at(2, "create").get("error").get("type").asText ==
      "version_conflict_engine_exception")
    assert(at(3, "update").get("status").asInt == 200)
    assert(at(4, "update").get("status").asInt == 404)
    assert(at(4, "update").get("error").get("type").asText ==
      "document_missing_exception")
    assert(at(5, "index").get("status").asInt == 400)
    // delete of an id created-then-deleted IN this request succeeds;
    // delete of a missing id is not_found WITHOUT an error slot (ES)
    assert(at(6, "delete").get("status").asInt == 200)
    assert(at(7, "delete").get("status").asInt == 404)
    assert(at(7, "delete").get("result").asText == "not_found")
    assert(at(7, "delete").get("error") == null)
    // net store delta: ONLY 880001 landed (880002 was deleted before
    // the batch applied; the invalid row never indexed), and the
    // update's merge is visible
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/part")
    assert(stored.count() == 1, "net bulk delta")
    val row = stored.collect().head
    assert(String.valueOf(row.getAs[Any]("document_id")) == "880001")
    assert(row.getAs[String]("part_p_brand") == "Brand#99")

    // entity-scoped route defaults the index; deletes of STORED docs
    // swap the store; unknown entity is a per-item 404
    val r2 = post("/part/_bulk", Seq(
      """{"index": {"_id": "880003"}}""",
      """{"p_name": "bulk three"}""",
      """{"delete": {"_id": "880001"}}""",
      """{"index": {"_index": "nosuch", "_id": "1"}}""",
      """{"x": 1}"""
    ).mkString("\n"))
    assert(r2.statusCode() == 200, r2.body())
    val items2 = om.readTree(r2.body()).get("items")
    assert(items2.get(0).get("index").get("status").asInt == 201)
    assert(items2.get(1).get("delete").get("status").asInt == 200)
    assert(items2.get(2).get("index").get("status").asInt == 404)
    assert(items2.get(2).get("index").get("error").get("type").asText ==
      "index_not_found_exception")
    val after = graft.sinks.DocumentSink.read(spark, s"$outDir/part")
    assert(after.count() == 1)
    assert(String.valueOf(after.collect().head
      .getAs[Any]("document_id")) == "880003")

    // structural failures reject wholesale (ES 400s malformed ndjson):
    // a dangling action line and an unknown op
    assert(post("/_bulk",
      """{"index": {"_index": "part"}}""").statusCode() == 400)
    assert(post("/_bulk", Seq(
      """{"upsert": {"_index": "part", "_id": "1"}}""",
      """{"p_name": "x"}""").mkString("\n")).statusCode() == 400)
    // update/delete need _id (per-item slots, not wholesale)
    val r3 = post("/part/_bulk", Seq(
      """{"update": {}}""",
      """{"doc": {"part_p_brand": "Y"}}""",
      """{"delete": {}}""").mkString("\n"))
    assert(r3.statusCode() == 200, r3.body())
    val items3 = om.readTree(r3.body()).get("items")
    assert(items3.get(0).get("update").get("status").asInt == 400)
    assert(items3.get(1).get("delete").get("status").asInt == 400)

    // a create whose id rides the SOURCE body (no explicit _id) still
    // conflicts with the STORED doc (the probe covers derived ids);
    // index over it reports updated, not created; and an update may
    // not rewrite the document identity
    val r4 = post("/part/_bulk", Seq(
      """{"create": {}}""",
      """{"p_partkey": 880003, "p_name": "sneaky"}""",
      """{"index": {}}""",
      """{"p_partkey": 880003, "p_name": "re-index"}""",
      """{"update": {"_id": "880003"}}""",
      """{"doc": {"document_id": "999999"}}""").mkString("\n"))
    assert(r4.statusCode() == 200, r4.body())
    val items4 = om.readTree(r4.body()).get("items")
    assert(items4.get(0).get("create").get("status").asInt == 409,
      r4.body())
    assert(items4.get(1).get("index").get("status").asInt == 200)
    assert(items4.get(1).get("index").get("result").asText == "updated")
    assert(items4.get(2).get("update").get("status").asInt == 400)
    assert(items4.get(2).get("update").get("error").get("reason")
      .asText.contains("identity"))
    val after4 = graft.sinks.DocumentSink.read(spark, s"$outDir/part")
    assert(after4.count() == 1, "the conflicting create must not fork")
    val row4 = after4.collect().head
    assert(String.valueOf(row4.getAs[Any]("document_id")) == "880003")
    assert(row4.getAs[String]("part_p_name") == "re-index")

    // a quote in an unknown _index must not break the response JSON
    val rEsc = post("/_bulk",
      """{"delete": {"_index": "a\"b", "_id": "1"}}""")
    assert(rEsc.statusCode() == 200, rEsc.body())
    val escItems = om.readTree(rEsc.body()).get("items")
    assert(escItems.get(0).get("delete").get("status").asInt == 404)
    assert(escItems.get(0).get("delete").get("_index").asText == "a\"b")
  }

  test("single-doc _update and DELETE ride the same store machinery: " +
    "partial merge with identity protection, 404s by name") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // seed the doc HERE (order-independent; the upsert is idempotent
    // whether or not the bulk test ran first)
    assert(post("/part/_bulk", Seq(
      """{"index": {"_id": "880003"}}""",
      """{"p_name": "bulk three"}""").mkString("\n"))
      .statusCode() == 200)
    val up = post("/part/_update/880003",
      """{"doc": {"part_p_name": "renamed"}}""")
    assert(up.statusCode() == 200, up.body())
    // a read-modify-write echo of UNCHANGED identity values is a
    // no-op, not a rejection
    assert(post("/part/_update/880003",
      """{"doc": {"document_id": "880003",
        | "part_p_name": "renamed"}}""".stripMargin)
      .statusCode() == 200)
    val stored = graft.sinks.DocumentSink.read(spark, s"$outDir/part")
    assert(stored.filter(stored("document_id") === "880003")
      .collect().head.getAs[String]("part_p_name") == "renamed")
    // identity columns reject; unknown doc 404s; bad envelope 400s
    assert(post("/part/_update/880003",
      """{"doc": {"document_id": "999"}}""").statusCode() == 400)
    assert(post("/part/_update/nope",
      """{"doc": {"part_p_name": "x"}}""").statusCode() == 404)
    assert(post("/part/_update/880003",
      """{"doc": {"part_p_name": "x"}, "upsert": {}}""")
      .statusCode() == 400)
    // DELETE /{entity}/{id}: deleted then not_found
    assert(delete("/part/880003").statusCode() == 200)
    val afterDel = graft.sinks.DocumentSink.read(spark, s"$outDir/part")
    assert(afterDel.filter(afterDel("document_id") === "880003")
      .count() == 0)
    assert(delete("/part/880003").statusCode() == 404)
    assert(om.readTree(delete("/part/880404").body())
      .get("result").asText == "not_found")
    // ES writes a tombstone even for a missing id: the single-doc 404
    // bumps _version/_seq_no exactly like the bulk route's not_found
    // delete (never-stored id -> tombstone version 1, then 2, ...)
    val nfA = om.readTree(delete("/part/880405").body())
    assert(nfA.get("result").asText == "not_found")
    assert(nfA.get("_version").asLong == 1L)
    val nfB = om.readTree(delete("/part/880405").body())
    assert(nfB.get("_version").asLong == 2L)
    assert(nfB.get("_seq_no").asLong > nfA.get("_seq_no").asLong)
  }

  test("_bulk wire completeness: _version/_seq_no/_primary_term per " +
    "write op, took in the envelope, a structural errors flag, and a " +
    "version line that survives delete (tombstone) and restart from " +
    "the sidecar") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def slot(body: String, i: Int, op: String) = {
      val n = om.readTree(body).get("items").get(i).get(op)
      assert(n != null, s"item $i is not '$op': $body")
      n
    }
    // ONE request, index -> update -> delete on one fresh id: versions
    // 1, 2, 3 with strictly increasing seq_nos (the in-request walk)
    val r1 = post("/part/_bulk", Seq(
      """{"index": {"_id": "990001"}}""",
      """{"p_name": "v one"}""",
      """{"update": {"_id": "990001"}}""",
      """{"doc": {"part_p_name": "v two"}}""",
      """{"delete": {"_id": "990001"}}""").mkString("\n"))
    assert(r1.statusCode() == 200, r1.body())
    val env1 = om.readTree(r1.body())
    assert(env1.get("took").asLong >= 1, r1.body())
    assert(!env1.get("errors").asBoolean, r1.body())
    val ix = slot(r1.body(), 0, "index")
    val up = slot(r1.body(), 1, "update")
    val de = slot(r1.body(), 2, "delete")
    assert(ix.get("_version").asLong == 1 && ix.get("status").asInt == 201)
    assert(up.get("_version").asLong == 2 && up.get("status").asInt == 200)
    assert(de.get("_version").asLong == 3 &&
      de.get("result").asText == "deleted")
    val seqs = Seq(ix, up, de).map(_.get("_seq_no").asLong)
    assert(seqs == seqs.sorted && seqs.distinct.size == 3, r1.body())
    assert(Seq(ix, up, de).forall(_.get("_primary_term").asLong == 1))
    assert(ix.get("_shards").get("successful").asInt == 1)
    // SEPARATE request: the tombstone persisted, so re-creating the
    // deleted id CONTINUES the version line at 4 (ES gc_deletes
    // semantics), result created, and seq_no advanced past request 1
    val r2 = post("/part/_bulk", Seq(
      """{"create": {"_id": "990001"}}""",
      """{"p_name": "reborn"}""").mkString("\n"))
    val cr = slot(r2.body(), 0, "create")
    assert(cr.get("_version").asLong == 4, r2.body())
    assert(cr.get("status").asInt == 201 &&
      cr.get("result").asText == "created")
    assert(cr.get("_seq_no").asLong > seqs.last, r2.body())
    // a not_found delete is NOT a failure (no error slot) -> the
    // structural flag stays false, but the tombstone still takes a
    // version (1) and a seq_no, like ES
    val r3 = post("/part/_bulk", Seq(
      """{"index": {"_id": "990002"}}""",
      """{"p_name": "ok"}""",
      """{"delete": {"_id": "990404"}}""").mkString("\n"))
    val env3 = om.readTree(r3.body())
    assert(!env3.get("errors").asBoolean, r3.body())
    val nf = slot(r3.body(), 1, "delete")
    assert(nf.get("status").asInt == 404 &&
      nf.get("result").asText == "not_found")
    assert(nf.get("_version").asLong == 1, r3.body())
    // failed items take NEITHER a version nor a seq_no -> the next
    // success on that id still lands on version 1, and the flag flips
    // through the carried Boolean (an error item exists), not a
    // substring scan
    val r4 = post("/part/_bulk", Seq(
      """{"create": {"_id": "990002"}}""",
      """{"p_name": "conflict"}""",
      """{"update": {"_id": "990777"}}""",
      """{"doc": {"part_p_name": "missing"}}""").mkString("\n"))
    val env4 = om.readTree(r4.body())
    assert(env4.get("errors").asBoolean, r4.body())
    assert(slot(r4.body(), 0, "create").get("_version") == null)
    assert(slot(r4.body(), 1, "update").get("_seq_no") == null)
    val r5 = post("/part/_bulk", Seq(
      """{"update": {"_id": "990002"}}""",
      """{"doc": {"part_p_name": "touched"}}""").mkString("\n"))
    assert(slot(r5.body(), 0, "update").get("_version").asLong == 2,
      r5.body())
    // single-doc _update and DELETE ride the same version line
    val u = post("/part/_update/990002",
      """{"doc": {"part_p_name": "thrice"}}""")
    assert(om.readTree(u.body()).get("_version").asLong == 3, u.body())
    val d = delete("/part/990002")
    val dn = om.readTree(d.body())
    assert(dn.get("_version").asLong == 4, d.body())
    assert(dn.get("_primary_term").asLong == 1)
  }

  test("_bulk index of a new customer and partial update of a synced " +
    "customer in one store leave it readable: derived columns take the " +
    "store's types, and a value the stored type cannot hold is that " +
    "item's mapper_parsing_exception") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val syncedId = s"1_${graft.operators.Denormalize.RunTs}"
    val r = postAt(syncedPort, "/_bulk", Seq(
      """{"index": {"_index": "customer"}}""",
      """{"c_custkey": 990001, "c_name": "new", "c_nationkey": 3, """ +
        """"c_acctbal": 1.5, "c_mktsegment": "X"}""",
      s"""{"update": {"_index": "customer", "_id": "$syncedId"}}""",
      """{"doc": {"customer_c_name": "renamed"}}""",
      """{"index": {"_index": "customer", "_id": "not-a-key"}}""",
      """{"c_name": "bad id"}""").mkString("\n"))
    assert(r.statusCode() == 200, r.body())
    val items = om.readTree(r.body()).get("items")
    assert(items.get(0).get("index").get("status").asInt == 201, r.body())
    assert(items.get(1).get("update").get("status").asInt == 200, r.body())
    val bad = items.get(2).get("index")
    assert(bad.get("status").asInt == 400, r.body())
    assert(bad.get("error").get("type").asText ==
      "mapper_parsing_exception", r.body())
    assert(bad.get("error").get("reason").asText
      .contains("customer_c_custkey"), r.body())
    val fresh = getAt(syncedPort, "/customer/990001")
    assert(fresh.statusCode() == 200, fresh.body())
    assert(fresh.body().contains("\"customer_c_name\":\"new\""))
    val updated = getAt(syncedPort, s"/customer/$syncedId")
    assert(updated.statusCode() == 200, updated.body())
    assert(updated.body().contains("\"customer_c_name\":\"renamed\""))
    val base = spark.read.parquet(s"$syncedOut/customer/data").schema
    import org.apache.spark.sql.functions.col
    val line = graft.sinks.DocumentSink.read(spark, s"$syncedOut/customer")
    Seq("customer_c_custkey", "customer_c_nationkey").foreach { c =>
      assert(line.schema(c).dataType == base(c).dataType, c)
    }
  }

  test("_bulk parity across document shapes: an integral and a " +
    "fractional s_acctbal, a missing optional field, a null required " +
    "field and a minted id keep each document's own schema and ES " +
    "item slots") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val r = postAt(syncedPort, "/supplier/_bulk", Seq(
      """{"index": {}}""",
      """{"s_suppkey": 1, "s_name": "int", "s_acctbal": 100, "s_phone": "p1"}""",
      """{"index": {}}""",
      """{"s_suppkey": 2, "s_name": "frac", "s_acctbal": 12.5, "s_phone": "p2"}""",
      """{"create": {}}""",
      """{"s_suppkey": 3, "s_name": "nophone", "s_acctbal": 7.25}""",
      """{"index": {}}""",
      """{"s_suppkey": 4, "s_name": null, "s_acctbal": 1.0, "s_phone": "p4"}""",
      """{"index": {}}""",
      """{"s_name": "minted", "s_acctbal": 2.5, "s_phone": "p5"}""")
      .mkString("\n"))
    assert(r.statusCode() == 200, r.body())
    val items = om.readTree(r.body()).get("items")
    val slots = (0 until items.size).map { i =>
      val n = items.get(i).fields().next().getValue
      (n.get("status").asInt, Option(n.get("result")).map(_.asText),
        Option(n.get("_version")).map(_.asLong),
        Option(n.get("_seq_no")).map(_.asLong))
    }
    assert(slots == Seq(
      (201, Some("created"), Some(1L), Some(0L)),
      (201, Some("created"), Some(1L), Some(1L)),
      (201, Some("created"), Some(1L), Some(2L)),
      (400, None, None, None),
      (201, Some("created"), Some(1L), Some(3L))), r.body())
    assert(items.get(3).get("index").get("error").get("reason").asText ==
      "validation failed (null required field)")
    val minted = items.get(4).get("index").get("_id").asText
    assert(minted.length == 36, minted)
    val line = graft.sinks.DocumentSink.read(spark, s"$syncedOut/supplier")
    val types = line.schema.fields.map(f => f.name -> f.dataType.simpleString)
      .toMap
    assert(types == Map("supplier_s_suppkey" -> "string",
      "supplier_s_name" -> "string", "supplier_s_acctbal" -> "double",
      "supplier_s_phone" -> "string", "table" -> "string",
      "document_id" -> "string", "indexed_at" -> "timestamp"), types)
    val rows = line.collect().map { row =>
      (row.getAs[String]("document_id"),
        (row.getAs[String]("supplier_s_name"),
          row.getAs[Double]("supplier_s_acctbal"),
          Option(row.getAs[String]("supplier_s_phone"))))
    }.toMap
    assert(rows == Map(
      "1" -> (("int", 100.0, Some("p1"))),
      "2" -> (("frac", 12.5, Some("p2"))),
      "3" -> (("nophone", 7.25, None)),
      minted -> (("minted", 2.5, Some("p5")))), rows)
    assert(getAt(syncedPort, s"/supplier/$minted").statusCode() == 200)
  }

  /** The shared [[JobLog]] listener, under this spec's name for it. */
  private final class JobCounter extends JobLog(spark)

  test("_bulk runs a fixed number of Spark jobs per entity and document " +
    "schema: 40 index actions run no more jobs than 4") {
    def batch(from: Int, n: Int) = (from until from + n).flatMap(i => Seq(
      """{"index": {"_index": "region"}}""",
      s"""{"r_regionkey": $i, "r_name": "r$i", "r_comment": "c"}"""))
      .mkString("\n")
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      def jobs(body: String): Int = {
        val before = counter.drained()
        val r = postAt(syncedPort, "/_bulk", body)
        assert(r.statusCode() == 200 && !r.body().contains("\"errors\": true"),
          r.body())
        counter.drained() - before
      }
      // the store's base, then its first delta generation: the two
      // measured requests meet the same store layout (base + deltas),
      // and each replaces one base document, so their id probes both
      // reach a non-empty base bucket
      jobs(batch(500000, 4))
      jobs(batch(550000, 4))
      val four = jobs(batch(500000, 1) + "\n" + batch(600000, 3))
      val forty = jobs(batch(500001, 1) + "\n" + batch(700000, 39))
      info(s"Spark jobs: 4 index actions $four, 40 index actions $forty")
      assert(forty <= four, s"40 actions ran $forty jobs, 4 ran $four")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** Lands `n` customer documents from `from` on the synced store as
    * one `_bulk` (one delta generation). */
  private def customerBulk(from: Int, n: Int): String =
    (from until from + n).flatMap(i => Seq(
      """{"index": {"_index": "customer"}}""",
      s"""{"c_custkey": $i, "c_name": "c$i", "c_nationkey": 3, """ +
        s""""c_acctbal": 1.5, "c_mktsegment": "X"}""")).mkString("\n")

  test("a GET by id on a store with delta generations runs at most 2 " +
    "Spark jobs: no schema inference, one id lookup") {
    Seq(993000, 993100).foreach { from =>
      val r = postAt(syncedPort, "/_bulk", customerBulk(from, 3))
      assert(r.statusCode() == 200 && !r.body().contains("\"errors\": true"),
        r.body())
    }
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      // the first GET warms the route; the second is measured
      assert(getAt(syncedPort, "/customer/993001").statusCode() == 200)
      val before = log.drained()
      val r = getAt(syncedPort, "/customer/993101")
      val jobs = log.drained() - before
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"customer_c_name\":\"c993101\""), r.body())
      info(s"Spark jobs of one GET: $jobs")
      assert(jobs <= 2, s"one GET ran $jobs Spark jobs")
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("a GET by id on a store with delta generations runs exactly 1 " +
    "Spark job and no shuffle stage, and answers the resolved line's " +
    "toJSON row") {
    val updatedId = s"7_${graft.operators.Denormalize.RunTs}"
    val body = customerBulk(995000, 3) + "\n" + Seq(
      s"""{"update": {"_index": "customer", "_id": "$updatedId"}}""",
      """{"doc": {"customer_c_name": "renamed in a delta"}}""",
      """{"index": {"_index": "customer"}}""",
      """{"c_custkey": 995200, "c_name": "sparse", "c_nationkey": 3}""")
      .mkString("\n")
    Seq(body, customerBulk(995100, 3)).foreach { b =>
      val r = postAt(syncedPort, "/_bulk", b)
      assert(r.statusCode() == 200 && !r.body().contains("\"errors\": true"),
        r.body())
    }
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      // the first GET warms the route; the second is measured
      assert(getAt(syncedPort, "/customer/995001").statusCode() == 200)
      val before = log.drained()
      val shuffles = log.shuffleStages
      val r = getAt(syncedPort, "/customer/995101")
      val jobs = log.drained() - before
      assert(r.statusCode() == 200, r.body())
      assert(jobs == 1, s"one GET ran $jobs Spark jobs")
      assert(log.shuffleStages == shuffles,
        s"one GET ran ${log.shuffleStages - shuffles} shuffle stages")
    } finally spark.sparkContext.removeSparkListener(log)
    // the body is byte for byte the resolved line's toJSON row: a
    // synced document in the base, one updated in a delta, and one
    // with null fields (a _bulk document that leaves fields out)
    import org.apache.spark.sql.functions.col
    val line = graft.sinks.DocumentSink.read(spark, s"$syncedOut/customer")
    val liveId = s"11_${graft.operators.Denormalize.RunTs}"
    assert(line.filter(col("document_id") === "995200").head().anyNull)
    for (id <- Seq(liveId, updatedId, "995200")) {
      val expected = line.filter(col("document_id") === id).toJSON.collect()
      val r = getAt(syncedPort, s"/customer/$id")
      assert(r.statusCode() == 200, r.body())
      assert(expected.toSeq == Seq(r.body()), s"$id: ${r.body()}")
    }
    assert(getAt(syncedPort, s"/customer/$updatedId").body()
      .contains("\"customer_c_name\":\"renamed in a delta\""))
  }

  test("every Spark job of a _bulk runs inside an SQL execution: no " +
    "parquet footer reads outside one") {
    val syncedId = s"2_${graft.operators.Denormalize.RunTs}"
    val body = customerBulk(994000, 4) + "\n" + Seq(
      s"""{"update": {"_index": "customer", "_id": "$syncedId"}}""",
      """{"doc": {"customer_c_name": "bulk renamed"}}""",
      """{"delete": {"_index": "customer", "_id": "993002"}}""")
      .mkString("\n")
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try {
      val before = log.drained()
      val bareBefore = log.withoutExecutionId
      val r = postAt(syncedPort, "/_bulk", body)
      val jobs = log.drained() - before
      val bare = log.withoutExecutionId - bareBefore
      assert(r.statusCode() == 200 && !r.body().contains("\"errors\": true"),
        r.body())
      info(s"Spark jobs of one _bulk: $jobs, outside an SQL execution: $bare")
      assert(jobs > 0)
      assert(bare == 0, s"$bare of $jobs _bulk jobs ran outside an SQL execution")
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("stop() shuts down the request threads start() created") {
    val other = new HttpApi(spark, srcDir,
      java.nio.file.Files.createTempDirectory("graft-http-stop").toString)
    val p = other.start()
    assert(getAt(p, "/health").statusCode() == 200)
    import scala.jdk.CollectionConverters._
    val threads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(s"graft-http-$p-"))
    assert(threads.nonEmpty, "no request thread of the server found")
    other.stop()
    threads.foreach(_.join(10000))
    assert(threads.forall(!_.isAlive),
      threads.filter(_.isAlive).map(_.getName).mkString(", "))
  }

  private def put(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("search templates: render substitutes without running; a " +
    "stored template runs identically to its rendered body; scripts " +
    "CRUD round-trips; malformed mustache rejects at store time") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // render only: the substituted body comes back, nothing runs
    val rr = post("/search/render",
      """{"source": {"query": {"term": {"lang": "{{l}}"}}, "size": "{{n}}"},
        | "params": {"l": "en", "n": 5}}""".stripMargin)
    assert(rr.statusCode() == 200, rr.body())
    val rendered = mapper.readTree(rr.body()).get("template_output")
    assert(rendered.get("query").get("term").get("lang").asText == "en")
    // store -> get -> run -> delete lifecycle
    val src = """{\"index\": \"documents\", \"query\": {\"term\": """ +
      """{\"lang\": \"{{l}}\"}}, \"size\": 3}"""
    assert(put("/search/scripts/by_lang",
      s"""{"script": {"lang": "mustache", "source": "$src"}}""")
      .statusCode() == 200)
    val got = get("/search/scripts/by_lang")
    assert(got.statusCode() == 200 &&
      mapper.readTree(got.body()).get("found").asBoolean)
    val viaTemplate = post("/search/template",
      """{"id": "by_lang", "params": {"l": "en"}}""")
    assert(viaTemplate.statusCode() == 200, viaTemplate.body())
    val direct = post("/search/advanced",
      """{"index": "documents", "query": {"term": {"lang": "en"}},
        | "size": 3}""".stripMargin)
    assert(viaTemplate.body() == direct.body(),
      "template route must serve exactly the rendered body's response")
    assert(delete("/search/scripts/by_lang").statusCode() == 200)
    assert(get("/search/scripts/by_lang").statusCode() == 404)
    assert(post("/search/template",
      """{"id": "by_lang", "params": {"l": "en"}}""").statusCode() == 400)
    // store-time compile: malformed mustache is a 400 at PUT
    assert(put("/search/scripts/bad",
      """{"script": {"source": "{{#s}}never closed"}}""")
      .statusCode() == 400)
    assert(get("/search/scripts/bad").statusCode() == 404)
    // envelope validation: source XOR id, unknown keys named
    assert(post("/search/template",
      """{"source": "{}", "id": "x"}""").statusCode() == 400)
    assert(post("/search/template",
      """{"source": "{}", "bogus": 1}""").statusCode() == 400)
    // the envelope's index wins over the rendered body's
    val overridden = post("/search/template",
      """{"index": "documents",
        | "source": {"index": "orders",
        |   "query": {"term": {"lang": "en"}}, "size": 1},
        | "params": {}}""".stripMargin)
    assert(overridden.statusCode() == 200, overridden.body())
    assert(overridden.body().contains("\"lang\""))
  }

  test("percolate: stored queries match request documents with " +
    "slots; store CRUD; validation names the offender") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(put("/search/percolators/alert_window",
      """{"query": {"match": {"text": "window"}}}""").statusCode() == 200)
    assert(put("/search/percolators/route_de",
      """{"query": {"term": {"lang": "de"}}}""").statusCode() == 200)
    val got = get("/search/percolators/alert_window")
    assert(got.statusCode() == 200 &&
      mapper.readTree(got.body()).get("found").asBoolean)
    val r = post("/search/percolate",
      """{"documents": [
        |  {"text": "a window appears", "lang": "en"},
        |  {"text": "nichts", "lang": "de"},
        |  {"text": "window", "lang": "de"}]}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    val hits = mapper.readTree(r.body()).get("hits")
    assert(hits.get("total").asInt == 2)
    val byId = (0 until hits.get("hits").size)
      .map(hits.get("hits").get)
      .map(h => h.get("_id").asText ->
        (0 until h.get("_percolator_document_slot").size)
          .map(h.get("_percolator_document_slot").get(_).asLong))
      .toMap
    assert(byId("alert_window") == Seq(0L, 2L))
    assert(byId("route_de") == Seq(1L, 2L))
    // single-document form
    val one = post("/search/percolate",
      """{"document": {"text": "no match at all", "lang": "fr"}}""")
    assert(mapper.readTree(one.body()).get("hits").get("total")
      .asInt == 0)
    // validation: both forms at once, unknown keys, bad store bodies
    assert(post("/search/percolate",
      """{"document": {}, "documents": []}""").statusCode() == 400)
    assert(post("/search/percolate",
      """{"document": {}, "bogus": 1}""").statusCode() == 400)
    assert(put("/search/percolators/bad",
      """{"notquery": {}}""").statusCode() == 400)
    // an unsupported construct in a stored query names itself at
    // percolate time (store time cannot know the document shape)
    assert(put("/search/percolators/broken",
      """{"query": {"made_up": {}}}""").statusCode() == 200)
    val err = post("/search/percolate",
      """{"document": {"text": "x"}}""")
    assert(err.statusCode() == 400 && err.body().contains("made_up"))
    assert(delete("/search/percolators/broken").statusCode() == 200)
    assert(delete("/search/percolators/alert_window").statusCode() == 200)
    assert(delete("/search/percolators/route_de").statusCode() == 200)
    assert(get("/search/percolators/route_de").statusCode() == 404)
  }

  test("point-in-time: a pit search serves the pinned view exactly " +
    "like the named-index search; a rebuilt index (stale generation) " +
    "still serves identical results through the scan route; " +
    "combination and forgery are named 400s") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val opened = post("/search/pit",
      """{"index": "documents", "keep_alive": "1m"}""")
    assert(opened.statusCode() == 200, opened.body())
    val pitId = mapper.readTree(opened.body()).get("id").asText
    val body = s"""{"pit": {"id": "$pitId", "keep_alive": "1m"},
      | "query": {"match": {"text": "window"}}, "size": 5}""".stripMargin
    val viaPit = post("/search/advanced", body)
    assert(viaPit.statusCode() == 200, viaPit.body())
    val named = post("/search/advanced",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}, "size": 5}"""
        .stripMargin)
    assert(viaPit.body() == named.body(),
      "pit search must serve the named-index response verbatim")
    // advance the index generation under the PIT: the pinned view is
    // the unchanged parquet snapshot, so the stale pit routes to the
    // corpus scan and the response stays IDENTICAL
    val docs = graft.sources.Tables(spark, srcDir, "documents")
    val strCols = docs.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    graft.sinks.SearchIndex.build(docs, strCols, "doc_id",
      s"$outDir/_search_index/tables/documents")
    val stale = post("/search/advanced", body)
    assert(stale.statusCode() == 200, stale.body())
    assert(stale.body() == named.body(),
      "stale-generation pit must still serve the pinned view")
    // delete is a stateless acknowledge
    val del = delete("/search/pit")
    assert(del.statusCode() == 200 &&
      mapper.readTree(del.body()).get("succeeded").asBoolean)
    // rejections: pit+index, pit+scroll, malformed id, unknown keys,
    // pit inside msearch, unknown pit index at open
    assert(post("/search/advanced",
      s"""{"index": "documents", "pit": {"id": "$pitId"},
        | "query": {"match_all": {}}}""".stripMargin).statusCode() == 400)
    assert(post("/search/advanced",
      s"""{"pit": {"id": "$pitId"}, "scroll": "1m",
        | "query": {"match_all": {}}}""".stripMargin).statusCode() == 400)
    assert(post("/search/advanced",
      """{"pit": {"id": "bogus!!"}, "query": {"match_all": {}}}""")
      .statusCode() == 400)
    assert(post("/search/advanced",
      s"""{"pit": {"id": "$pitId", "bogus": 1},
        | "query": {"match_all": {}}}""".stripMargin).statusCode() == 400)
    assert(post("/search/pit", """{"index": "nosuch"}""")
      .statusCode() == 404)
    val ms = post("/search/msearch",
      "{\"index\": \"documents\"}\n" +
        s"""{"pit": {"id": "$pitId"}, "query": {"match_all": {}}}""" +
        "\n")
    assert(ms.statusCode() == 200 &&
      ms.body().contains("pit cannot ride msearch"))
  }

  test("scroll carries the full search routing: a has_child body " +
    "scrolls (relations registered), and the walk matches the " +
    "non-scroll match set") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val body =
      """{"index": "orders", "scroll": "1m",
        | "query": {"has_child": {"type": "lineitem",
        |   "query": {"range": {"l_quantity": {"gte": 45}}},
        |   "min_children": 2}}, "size": 50}""".stripMargin
    val direct = post("/search/count",
      """{"index": "orders",
        | "query": {"has_child": {"type": "lineitem",
        |   "query": {"range": {"l_quantity": {"gte": 45}}},
        |   "min_children": 2}}}""".stripMargin)
    val want = mapper.readTree(direct.body()).get("count").asLong
    assert(want > 0)
    var r = post("/search/advanced", body)
    var seen = 0L
    var guard = 0
    while (r != null && guard < 100) {
      assert(r.statusCode() == 200, r.body().take(400))
      val tree = mapper.readTree(r.body())
      seen += tree.get("hits").get("hits").size
      val sid = Option(tree.get("_scroll_id")).map(_.asText)
      r = sid.map(s =>
        post("/search/scroll", s"""{"scroll_id": "$s"}""")).orNull
      guard += 1
    }
    assert(seen == want, s"scroll walked $seen of $want matches")
  }

  test("msearch accepts ES's blank header lines without shifting the " +
    "pairing; an empty body line errors in its slot") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nd =
      "\n{\"query\": {\"match_all\": {}}, \"size\": 2}\n" +
        "\n{\"query\": {\"term\": {\"table\": \"documents\"}}, \"size\": 1}\n"
    val r = post("/search/msearch", nd)
    assert(r.statusCode() == 200, r.body())
    val rs = mapper.readTree(r.body()).get("responses")
    assert(rs.size == 2, r.body().take(400))
    assert(rs.get(0).has("hits") && rs.get(1).has("hits"),
      r.body().take(400))
    // header present, body line blank: the slot errors, siblings serve
    val mixed = "{\"index\": \"documents\"}\n\n" +
      "{}\n{\"query\": {\"match_all\": {}}, \"size\": 1}\n"
    val m = post("/search/msearch", mixed)
    assert(m.statusCode() == 200, m.body())
    val mr = mapper.readTree(m.body()).get("responses")
    assert(mr.size == 2 &&
      mr.get(0).get("status").asInt == 400 &&
      mr.get(1).has("hits"), m.body().take(400))
  }

  test("several named suggesters ride one body: each gets its own " +
    "response section, suggest-only and alongside a query") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val body =
      """{"index": "documents", "suggest": {
        | "fix": {"text": "windoq", "term": {"field": "text"}},
        | "rephrase": {"text": "windoq bath",
        |   "phrase": {"field": "text"}},
        | "ac": {"prefix": "wind",
        |   "completion": {"field": "text", "size": 3}}}}""".stripMargin
    val r = post("/search/advanced", body)
    assert(r.statusCode() == 200, r.body().take(400))
    val sg = mapper.readTree(r.body()).get("suggest")
    assert(sg != null && sg.hasNonNull("fix") &&
      sg.hasNonNull("rephrase") && sg.hasNonNull("ac"),
      r.body().take(400))
    assert(sg.get("fix").toString.contains("window"))
    assert(sg.get("rephrase").toString.contains("windoq batch"))
    // the completion section's options are whole corpus values
    // starting with the prefix, score 1.0
    assert(sg.get("ac").toString.toLowerCase.contains("wind"),
      sg.get("ac").toString.take(200))
    // suggest-level SHARED text: both named entries inherit it
    val rg = post("/search/advanced",
      """{"index": "documents", "suggest": {"text": "windoq",
        | "fix": {"term": {"field": "text"}},
        | "rephrase": {"phrase": {"field": "text"}}}}""".stripMargin)
    assert(rg.statusCode() == 200, rg.body().take(400))
    val sgg = mapper.readTree(rg.body()).get("suggest")
    assert(sgg.hasNonNull("fix") && sgg.hasNonNull("rephrase"),
      rg.body().take(400))
    assert(sgg.get("fix").toString.contains("window"),
      sgg.get("fix").toString.take(200))
    // alongside a query: hits AND both sections in one response
    val combined = post("/search/advanced",
      """{"index": "documents",
        | "query": {"match": {"text": "window"}}, "size": 2,
        | "suggest": {
        |  "fix": {"text": "windoq", "term": {"field": "text"}},
        |  "rephrase": {"text": "windoq bath",
        |    "phrase": {"field": "text"}}}}""".stripMargin)
    assert(combined.statusCode() == 200, combined.body().take(400))
    val ct = mapper.readTree(combined.body())
    assert(ct.get("hits").get("hits").size > 0)
    assert(ct.get("suggest").hasNonNull("fix") &&
      ct.get("suggest").hasNonNull("rephrase"),
      combined.body().take(400))
  }

  test("stored-script envelopes fail loud on unknown keys at both " +
    "levels") {
    val env = put("/search/scripts/strict1",
      """{"script": {"lang": "mustache", "source": "{}"},
        | "params": {}}""".stripMargin)
    assert(env.statusCode() == 400 &&
      env.body().contains("params"), env.body())
    val inner = put("/search/scripts/strict1",
      """{"script": {"lang": "mustache", "source": "{}",
        | "options": {}}}""".stripMargin)
    assert(inner.statusCode() == 400 &&
      inner.body().contains("options"), inner.body())
    assert(get("/search/scripts/strict1").statusCode() == 404)
  }

  test("POST /search answers 400 naming a non-integer slop, " +
    "prefix_length or max_expansions, on one index and on the " +
    "wildcard — never a silent 0") {
    val cases = Seq(
      "slop" -> """"type": "phrase", "slop": "two"""",
      "slop" -> """"type": "phrase", "slop": 1.5""",
      "prefix_length" -> """"fuzziness": 1, "prefix_length": "x"""",
      "max_expansions" -> """"fuzziness": 1, "max_expansions": "lots"""")
    for ((knob, knobs) <- cases; index <- Seq("documents", "*")) {
      val r = post("/search",
        s"""{"search_term": "the window", "index": "$index", $knobs}""")
      assert(r.statusCode() == 400, s"$index $knobs: ${r.body().take(300)}")
      assert(r.body().contains(knob), r.body())
    }
    // integers, also as JSON strings, still serve
    for (slop <- Seq("2", "\"2\""))
      assert(post("/search",
        s"""{"search_term": "the window", "index": "documents",
           | "type": "phrase", "slop": $slop}""".stripMargin)
        .statusCode() == 200)
  }

  test("DSL, /search limit and scroll size integer knobs answer 400 " +
    "naming the knob on a non-integer — never a silent 0") {
    def dsl(query: String): String =
      s"""{"index": "documents", "query": $query}"""
    val cases = Seq(
      "slop" -> dsl(
        """{"match_phrase": {"text": {"query": "the window", "slop": "two"}}}"""),
      "slop" -> dsl("""{"match_phrase_prefix": {"text": """ +
        """{"query": "the win", "slop": "two"}}}"""),
      "max_expansions" -> dsl("""{"match_phrase_prefix": {"text": """ +
        """{"query": "the win", "max_expansions": "many"}}}"""),
      "slop" -> dsl("""{"multi_match": {"query": "the window", """ +
        """"fields": ["text"], "type": "phrase", "slop": "two"}}"""),
      "slop" -> dsl("""{"multi_match": {"query": "the win", """ +
        """"fields": ["text"], "type": "phrase_prefix", "slop": "two"}}"""),
      "max_expansions" -> dsl("""{"multi_match": {"query": "the win", """ +
        """"fields": ["text"], "type": "phrase_prefix", """ +
        """"max_expansions": "many"}}"""),
      "prefix_length" -> dsl("""{"fuzzy": {"text": {"value": "windoq", """ +
        """"prefix_length": "one"}}}"""),
      "max_expansions" -> dsl("""{"fuzzy": {"text": {"value": "windoq", """ +
        """"max_expansions": "many"}}}"""),
      "prefix_length" -> ("""{"index": "documents", "suggest": {"ac": """ +
        """{"prefix": "wimd", "completion": {"field": "text", """ +
        """"fuzzy": {"prefix_length": "one"}}}}}"""),
      "size" -> ("""{"index": "documents", "scroll": "1m", "size": "big", """ +
        """"query": {"match": {"text": "window"}}}"""))
    for ((knob, body) <- cases) {
      val r = post("/search/advanced", body)
      assert(r.statusCode() == 400, s"$body: ${r.body().take(300)}")
      assert(r.body().contains(s"$knob must be an integer"), r.body())
    }
    for (index <- Seq("documents", "*")) {
      val r = post("/search",
        s"""{"search_term": "window", "index": "$index", "limit": "ten"}""")
      assert(r.statusCode() == 400, s"$index: ${r.body().take(300)}")
      assert(r.body().contains("limit must be an integer"), r.body())
    }
    // integers, also as JSON strings, still serve
    assert(post("/search/advanced", dsl("""{"match_phrase": {"text": """ +
      """{"query": "the window", "slop": "2"}}}""")).statusCode() == 200)
    assert(post("/search", """{"search_term": "window", """ +
      """"index": "documents", "limit": "3"}""").statusCode() == 200)
  }

  test("search-level size/from, knn k/num_candidates and rrf knobs " +
    "answer 400 naming the knob on a non-integer") {
    val vec = queries.PipelineQueries.knnQueryVec.mkString("[", ", ", "]")
    def knn(k: String, nc: String): String =
      s""""knn": {"field": "embedding", "query_vector": $vec, """ +
        s""""k": $k, "num_candidates": $nc}"""
    val cases = Seq(
      "size" -> ("""{"index": "documents", "query": {"match": """ +
        """{"text": "window"}}, "size": "ten"}"""),
      "from" -> ("""{"index": "documents", "query": {"match": """ +
        """{"text": "window"}}, "from": "two"}"""),
      "size" -> ("""{"query": {"multi_match": {"query": "small error"}}, """ +
        """"size": "five"}"""),
      "k" -> s"""{"index": "embeddings", ${knn("\"fifty\"", "100")}}""",
      "num_candidates" ->
        s"""{"index": "embeddings", ${knn("50", "\"many\"")}}""",
      "size" -> (s"""{"index": "embeddings", ${knn("50", "100")}, """ +
        """"size": "ten"}"""),
      "rank_window_size" -> (s"""{"index": "embeddings", """ +
        s"""${knn("5", "10")}, "query": {"match_all": {}}, """ +
        """"rank": {"rrf": {"rank_window_size": "wide"}}}"""),
      "rank_constant" -> (s"""{"index": "embeddings", """ +
        s"""${knn("5", "10")}, "query": {"match_all": {}}, """ +
        """"rank": {"rrf": {"rank_constant": "sixty"}}}"""),
      "size" -> (s"""{"index": "embeddings", ${knn("5", "10")}, """ +
        """"query": {"match_all": {}}, "rank": {"rrf": {}}, """ +
        """"size": "ten"}"""))
    for ((knob, body) <- cases) {
      val r = post("/search/advanced", body)
      assert(r.statusCode() == 400, s"$body: ${r.body().take(300)}")
      assert(r.body().contains(s"$knob must be an integer"), r.body())
    }
    // integers, also as JSON strings, still serve
    assert(post("/search/advanced", """{"index": "documents", "query": """ +
      """{"match": {"text": "window"}}, "size": "3"}""").statusCode() == 200)
  }

  test("suggester size/max_edits, rescore window_size and " +
    "more_like_this knobs answer 400 naming the knob on a non-integer") {
    def suggest(s: String): String =
      s"""{"index": "documents", "suggest": {"fix": $s}}"""
    def mlt(knob: String): String =
      """{"index": "documents", "query": {"more_like_this": """ +
        s"""{"fields": ["text"], "like": "the window", "$knob": "two"}}}"""
    val cases = Seq(
      "size" -> suggest(
        """{"text": "windoq", "term": {"field": "text", "size": "five"}}"""),
      "max_edits" -> suggest("""{"text": "windoq", "term": """ +
        """{"field": "text", "max_edits": "one"}}"""),
      "size" -> suggest("""{"text": "windoq bath", "phrase": """ +
        """{"field": "text", "size": "five"}}"""),
      "max_edits" -> suggest("""{"text": "windoq bath", "phrase": """ +
        """{"field": "text", "max_edits": "one"}}"""),
      "size" -> suggest("""{"prefix": "wind", "completion": """ +
        """{"field": "text", "size": "five"}}"""),
      "window_size" -> ("""{"index": "documents", "query": {"match": """ +
        """{"text": "window"}}, "rescore": {"window_size": "wide", """ +
        """"query": {"rescore_query": {"match_phrase": """ +
        """{"text": "the window"}}}}}"""),
      "min_term_freq" -> mlt("min_term_freq"),
      "min_doc_freq" -> mlt("min_doc_freq"),
      "max_query_terms" -> mlt("max_query_terms"))
    for ((knob, body) <- cases) {
      val r = post("/search/advanced", body)
      assert(r.statusCode() == 400, s"$body: ${r.body().take(300)}")
      assert(r.body().contains(s"$knob must be an integer"), r.body())
    }
    // integers, also as JSON strings, still serve
    assert(post("/search/advanced", suggest("""{"text": "windoq", """ +
      """"term": {"field": "text", "size": "3"}}""")).statusCode() == 200)
  }

  test("a request body declared past 100 MB is refused 413 with a JSON " +
    "error before it is read") {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      out.write(("POST /search HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Type: application/json\r\n" +
        "Content-Length: 104857601\r\n\r\n{}").getBytes("UTF-8"))
      out.flush()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
      val status = in.readLine()
      assert(status != null && status.split(" ")(1) == "413", status)
      val headers = Iterator.continually(in.readLine())
        .takeWhile(l => l != null && l.nonEmpty).toSeq
      val len = headers.collectFirst {
        case h if h.toLowerCase.startsWith("content-length:") =>
          h.drop("content-length:".length).trim.toInt
      }.getOrElse(fail(s"no Content-Length in $headers"))
      val body = new String(Array.fill(len)(in.read().toChar))
      assert(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).hasNonNull("error"), body)
    } finally sock.close()
    // the server keeps serving
    assert(get("/health").statusCode() == 200)
  }

  test("a chunked body is read to one byte past the cap, no further") {
    var consumed = 0L
    def stream(n: Long) = new java.io.InputStream {
      private var left = n
      def read(): Int =
        if (left == 0) -1 else { left -= 1; consumed += 1; 1 }
    }
    assert(HttpApi.readCapped(stream(10), 10).length == 10)
    consumed = 0
    intercept[HttpApi.BodyTooLarge](HttpApi.readCapped(stream(1000), 10))
    assert(consumed == 11, s"read $consumed bytes")
  }
}
