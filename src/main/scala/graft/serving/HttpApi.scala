package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JsonSchemas

import graft.catalog.{EntityCatalog, EntitySpec}
import graft.sinks.DocumentSink
import graft.sources.Tables
import graft.streaming.IncrementalSync

/** Thin HTTP front for the engine — the reference's Flask serving layer
  * (reference: server.py:24-53 app + /health; src/search_api.py:16-46
  * search endpoints; src/routes/ &#42;.py files per-entity add/batch/sync routes),
  * re-expressed as a JDK-built-in `com.sun.net.httpserver.HttpServer`
  * delegating every data operation to the engine:
  *
  *   GET  /health            → liveness (server.py:40-46)
  *   GET  /entities          → catalog listing (Q4; src/utils.py:5-18)
  *   POST /search            → [[Search.multiField]] (multi_match,
  *                             src/search_api.py:17-36)
  *   POST /search/advanced   → [[Search.sql]] — real SQL replaces the
  *                             raw-ES-DSL passthrough (:38-45)
  *   POST /{entity}          → single-doc insert: validate/default →
  *                             pipeline → upsert (the routes' `add_*` handlers)
  *   POST /{entity}/batch    → bulk insert with per-item error
  *                             accounting (`add_*_batch`,
  *                             src/routes/ticket_routes.py:139-210)
  *   POST /_bulk             → ES bulk wire: ndjson action/source
  *                             pairs (index/create/update/delete),
  *                             per-item status slots — the endpoint
  *                             the reference's client speaks
  *                             (src/es_connector.py:51-74); also
  *                             POST /{entity}/_bulk with a default
  *                             index
  *   POST /{entity}/_update/{id} → single-doc partial update (ES
  *                             _update: {"doc": ...} shallow merge)
  *   DELETE /{entity}/{id}   → single-doc delete (ES DELETE _doc)
  *   POST /{entity}/sync     → re-read the record from the source of
  *                             truth and re-index it
  *                             (src/routes/ticket_routes.py:212-264)
  *
  * Serving-layer concerns only: every endpoint is a bounded-size request
  * (top-k search, single/batch documents), so the driver-side JSON
  * collect is the protocol cost, not a scale hazard — the 100 TB work
  * (scans, joins, sink writes) all happens executor-side through the
  * same operators the batch entrypoints use. Jackson is used for request
  * parsing (already on Spark's classpath — Spark itself depends on it).
  */
final class HttpApi(
    spark: SparkSession,
    srcDir: String,
    outDir: String,
    runTs: String = graft.operators.Denormalize.RunTs,
    maxHits: Int = 1000) {

  import HttpApi._

  private val mapper = new ObjectMapper()
  @volatile private var server: HttpServer = _

  /** Index aliases (ES _aliases): alias -> concrete index name.
    * Server-lifetime config like the script/percolator stores; every
    * request-side index read resolves through [[resolveIndex]], so
    * aliases work for search, count, msearch, PIT, mget,
    * termvectors, explain, field_caps, analyze-by-field, templates,
    * and the by-query mutations alike. One level (an alias may not
    * point at an alias — rejected at registration). */
  private val aliasStore =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def resolveIndex(name: String): String =
    Option(aliasStore.get(name)).getOrElse(name)

  /** ES comma-separated multi-index targets ("customer,part"): each
    * component alias-resolves, and every component must be a catalog
    * ENTITY (the per-index scoring machinery is entity-shaped — an
    * arbitrary-table comma list would silently score with combined
    * statistics, which is the wildcard-union documented behavior, not
    * ES's). Returns the distinct entity subset, or the unknown names
    * for the caller's 404. */
  private def commaEntities(index: String)
      : Either[String, Seq[String]] = {
    val parts = index.split(",").map(_.trim).filter(_.nonEmpty)
      .map(resolveIndex).toSeq.distinct
    if (parts.isEmpty) return Left(index)
    val unknown = parts.filterNot(EntityCatalog.entities.contains)
    if (unknown.nonEmpty) Left(unknown.mkString(", ")) else Right(parts)
  }

  Tables.registerAll(spark, srcDir) // /search/advanced addresses views

  // -------------------------------------------------------------------
  // Write-time search indexes ([[graft.sinks.SearchIndex]]) — the ES
  // operational shape: postings + per-field statistics are built ONCE
  // (ES does it inside bulk_index, src/es_connector.py:51-74), ranked
  // requests PROBE them. Built lazily on the first ranked request per
  // target and reused for the server's lifetime; on disk under outDir
  // so a restarted server over unchanged sources reuses them too.
  // -------------------------------------------------------------------

  private val builtIndexes = scala.collection.mutable.HashMap[String, String]()

  /** Postings index over `name`'s string columns (id = first column,
    * matching the scan-path scorers' id choice). Memoizing for the
    * server's lifetime is sound because `srcDir` tables are an
    * immutable snapshot (entity writes land in the DocumentSink store
    * under outDir, never in srcDir — and the sink maintains ITS
    * adjacent indexes through upsert); a redeploy over new sources
    * rebuilds. */
  private def tableIndexPath(name: String): String =
    builtIndexes.synchronized {
      builtIndexes.getOrElseUpdate(s"table:$name", {
        val p = s"$outDir/_search_index/tables/$name"
        if (!graft.sinks.SearchIndex.exists(p)) {
          val df = Tables(spark, srcDir, name)
          val sc = df.schema.fields
            .filter(_.dataType == org.apache.spark.sql.types.StringType)
            .map(_.name).toSeq
          graft.sinks.SearchIndex.build(df, sc, df.columns.head, p)
        }
        p
      })
    }

  /** Route through the index when every requested field is indexed
    * (string columns are; a numeric field only the scan path can
    * coerce), else the equivalent corpus scan — results are identical
    * either way (SearchIndexSpec pins the equality). */
  private def indexedOrScan(index: String,
                            df: org.apache.spark.sql.DataFrame,
                            fields: Seq[String],
                            probe: String => org.apache.spark.sql.DataFrame,
                            scan: () => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = tableIndexPath(index)
    val indexed = graft.sinks.SearchIndex.readMeta(p).fields.toSet
    if (fields.forall(indexed.contains)) probe(p) else scan()
  }

  /** ES's `_source` fetch: join the (id, score) hits back to the table
    * rows — hits are limit-bounded, so the join broadcasts them and the
    * row fetch is one pruned scan. Output shape matches the scan-path
    * scorers (all table columns + score, ordered by score desc, id). */
  private def fetchBodies(df: org.apache.spark.sql.DataFrame,
                          hitIds: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val id = df.columns.head
    df.join(broadcast(hitIds), Seq(id))
      .orderBy(col("score").desc, col(id))
  }

  /** One postings index per catalog entity (the `data_lake_*` wildcard
    * targets), document_id-keyed. */
  private def entityIndexRoot(): String = builtIndexes.synchronized {
    builtIndexes.getOrElseUpdate("entities", {
      val root = s"$outDir/_search_index/entities"
      if (!EntityCatalog.entities.keys.forall(e =>
          graft.sinks.SearchIndex.exists(s"$root/$e")))
        Search.buildEntityIndexes(spark, srcDir, root, runTs)
      root
    })
  }

  @volatile private var pool: java.util.concurrent.ExecutorService = _

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // the serving loop owns each request's lifecycle: the stages
    // query builders persist die with their request, and a concurrent
    // request's stages stay (StageCache's contract)
    server.createContext("/",
      (ex: HttpExchange) => graft.StageCache.scoped(handle(ex)))
    val bound = server.getAddress.getPort
    val threads = java.util.concurrent.Executors.defaultThreadFactory()
    val n = new java.util.concurrent.atomic.AtomicInteger()
    pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => {
        val t = threads.newThread(r)
        t.setName(s"graft-http-$bound-${n.incrementAndGet()}")
        t
      })
    server.setExecutor(pool)
    server.start()
    bound
  }

  /** Stop the server and shut down its request threads (they are not
    * daemons: left running, they would keep the JVM alive), waiting a
    * bounded time for in-flight requests. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdown()
      pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  // -------------------------------------------------------------------
  // Routing
  // -------------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    val method = ex.getRequestMethod
    try {
      (method, segs) match {
        case ("GET", "health" :: Nil) =>
          respond(ex, 200, s"""{"status": "ok", "timestamp": "${
            ZonedDateTime.now(ZoneOffset.UTC)
              .format(DateTimeFormatter.ISO_INSTANT)}"}""")
        case ("GET", "entities" :: Nil) =>
          respond(ex, 200, EntityCatalog.entities.keys.toSeq.sorted
            .map(e => s""""$e"""").mkString("""{"entities": [""", ", ", "]}"))
        case ("POST", "search" :: Nil) =>
          // aux: a caller error surfacing as IllegalArgumentException
          // anywhere below (e.g. a future token-mode branch whose
          // empty-terms require the explicit guard misses) is a 400,
          // never a 500
          aux(ex) { search(ex, body(ex)) }
        case ("POST", "search" :: "advanced" :: Nil) =>
          advancedSearch(ex, body(ex))
        case ("POST", "search" :: "scroll" :: Nil) =>
          scrollContinue(ex, body(ex))
        case ("POST", "search" :: "count" :: Nil) =>
          countSearch(ex, body(ex))
        case ("POST", "search" :: "msearch" :: Nil) =>
          msearch(ex, rawBody(ex))
        case ("POST", "search" :: "validate" :: Nil) =>
          validateQuery(ex, body(ex))
        case ("POST", "search" :: "field_caps" :: Nil) =>
          fieldCaps(ex, body(ex))
        case ("POST", "search" :: "analyze" :: Nil) =>
          analyzeText(ex, body(ex))
        case ("POST", "search" :: "mget" :: Nil) =>
          mget(ex, body(ex))
        case ("POST", "search" :: "termvectors" :: Nil) =>
          termvectors(ex, body(ex))
        case ("POST", "search" :: "explain" :: Nil) =>
          explainDoc(ex, body(ex))
        case ("POST", "search" :: "template" :: Nil) =>
          aux(ex) { searchTemplate(ex, body(ex)) }
        case ("POST", "search" :: "render" :: Nil) =>
          aux(ex) { renderTemplate(ex, body(ex)) }
        case ("PUT" | "POST", "search" :: "scripts" :: id :: Nil) =>
          aux(ex) { putScript(ex, id, body(ex)) }
        case ("GET", "search" :: "scripts" :: id :: Nil) =>
          getScript(ex, id)
        case ("DELETE", "search" :: "scripts" :: id :: Nil) =>
          deleteScript(ex, id)
        case ("POST", "search" :: "percolate" :: Nil) =>
          aux(ex) { percolateDocs(ex, body(ex)) }
        case ("POST", "search" :: "pit" :: Nil) =>
          aux(ex) { openPit(ex, body(ex)) }
        case ("DELETE", "search" :: "pit" :: Nil) =>
          // stateless by design: nothing server-side to free
          respond(ex, 200, """{"succeeded": true, "num_freed": 0}""")
        case ("PUT" | "POST", "search" :: "aliases" :: alias :: Nil) =>
          aux(ex) { putAlias(ex, alias, body(ex)) }
        case ("GET", "search" :: "aliases" :: Nil) =>
          listAliases(ex)
        case ("DELETE", "search" :: "aliases" :: alias :: Nil) =>
          deleteAlias(ex, alias)
        case ("PUT" | "POST", "search" :: "percolators" :: id :: Nil) =>
          aux(ex) { putPercolator(ex, id, body(ex)) }
        case ("GET", "search" :: "percolators" :: id :: Nil) =>
          getPercolator(ex, id)
        case ("DELETE", "search" :: "percolators" :: id :: Nil) =>
          deletePercolator(ex, id)
        case ("POST" | "PUT", "_bulk" :: Nil) =>
          aux(ex) { bulk(ex, None, rawBody(ex)) }
        case ("POST", entity :: rest) =>
          EntityCatalog.entities.get(resolveIndex(entity)) match {
            case None =>
              notFound(ex, "unknown entity", entity)
            case Some(spec) => rest match {
              case Nil            => insertOne(ex, spec, body(ex))
              case "batch" :: Nil => insertBatch(ex, spec, body(ex))
              case "_bulk" :: Nil =>
                aux(ex) { bulk(ex, Some(spec.name), rawBody(ex)) }
              case "sync" :: Nil  => syncOne(ex, spec, body(ex))
              case "update_by_query" :: Nil =>
                aux(ex) { updateByQuery(ex, spec, body(ex)) }
              case "delete_by_query" :: Nil =>
                aux(ex) { deleteByQuery(ex, spec, body(ex)) }
              case "_update" :: id :: Nil =>
                aux(ex) { updateOne(ex, spec, id, body(ex)) }
              case _ => respond(ex, 404, """{"error": "not found"}""")
            }
          }
        case ("DELETE", entity :: id :: Nil)
            if EntityCatalog.entities.contains(resolveIndex(entity)) =>
          aux(ex) {
            deleteOne(ex, EntityCatalog.entities(resolveIndex(entity)), id)
          }
        case ("GET", entity0 :: rest)
            if EntityCatalog.entities.contains(resolveIndex(entity0)) =>
          val entity = resolveIndex(entity0)
          rest match {
            case Nil       => listDocs(ex, entity)
            case id :: Nil => getDoc(ex, entity, id)
            case _ => respond(ex, 404, """{"error": "not found"}""")
          }
        case _ => respond(ex, 404, """{"error": "not found"}""")
      }
    } catch {
      case _: HttpApi.BodyTooLarge =>
        respond(ex, 413, mapper.createObjectNode().put("error",
          s"request body exceeds ${HttpApi.MaxContentLength} bytes")
          .toString)
      case NonFatal(e) =>
        respond(ex, 500, mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage)).toString)
    }
  }

  // -------------------------------------------------------------------
  // Search endpoints
  // -------------------------------------------------------------------

  /** POST /search — `{"search_term": ..., "fields": [...], "index": ...,
    * "limit": ...}` (reference defaults fields to all string columns the
    * way multi_match "*" does). */
  private def search(ex: HttpExchange, req: JsonNode): Unit = {
    val term = textOr(req, "search_term", "")
    if (term.isEmpty) {
      respond(ex, 400, """{"error": "search_term is required"}"""); return
    }
    // every token-based rank mode analyzes the term (standard
    // analyzer); a term of pure punctuation has no tokens to rank by
    // — named 400 (the engine's empty-match convention), never a 500.
    // The default substring scorer still serves it (q1 semantics).
    val ranked = Set("bm25", "tfidf").contains(textOr(req, "rank", ""))
    val exact = if (ranked) Right(None) else exactMode(req, term)
    if ((ranked || exact != Right(None)) &&
        graft.functions.TextFunctions.analyzeText(term).isEmpty) {
      respond(ex, 400, """{"error": "search_term analyzes to no """ +
        """tokens (punctuation only)"}""")
      return
    }
    val index = resolveIndex(textOr(req, "index", "documents"))
    // "*" (or the reference's "data_lake_*") = search EVERY entity index
    // at once — es_connector.py:85-95 defaults to exactly this
    // wildcard. rank=bm25|tfidf scores each index with its OWN
    // statistics (ES semantics: IDF is index-local) and merges; the
    // default occurrence scorer runs over the union document view.
    if (index == "*" || index.endsWith("_*") || index.contains(",")) {
      // a comma list is the wildcard machinery restricted to the named
      // entity subset — same per-index statistics, same cursor
      val only: Seq[String] =
        if (index.contains(",")) commaEntities(index) match {
          case Right(parts) => parts
          case Left(unknown) =>
            respond(ex, 404,
              s"""{"error": "unknown index '$unknown'"}""")
            return
        } else Nil
      val limit = intArg(req, "limit").getOrElse(100)
      val best = textOr(req, "type", "most_fields") == "best_fields"
      // wildcard cursor = the last hit's [score, document_id, table]
      // (the table matters: document_ids can collide across entities;
      // a 2-element cursor skips same-id rows of other tables)
      val after3: Option[(Double, String, String)] =
        Option(req.get("search_after"))
          .filter(a => a.isArray && a.size >= 2)
          .map(a => (a.get(0).asDouble, a.get(1).asText,
            if (a.size >= 3) a.get(2).asText else "\uffff")) // no table given: exclusive everywhere
      textOr(req, "rank", "occurrences") match {
        case r @ ("bm25" | "tfidf") =>
          hits(ex, Search.acrossIndexesRankedIndexed(spark,
            entityIndexRoot(), term, limit, bestFields = best,
            bm25 = r == "bm25", after = after3, only = only))
        // phrase / and / min_should / fuzzy span the wildcard through
        // the per-entity positional indexes too — ES honors these
        // modes on multi-index multi_match, so the wildcard must not
        // silently degrade them to the occurrence scorer
        case _ => exact match {
          case Left(err) => respond(ex, 400, err)
          case Right(Some(HttpApi.PhraseMode(slop))) =>
            hits(ex, Search.acrossIndexesPhraseIndexed(spark,
              entityIndexRoot(), term, limit, after3, slop, only))
          case Right(Some(HttpApi.MinShouldMode(n))) =>
            hits(ex, Search.acrossIndexesMinShouldIndexed(spark,
              entityIndexRoot(), term, n, limit, after3, only))
          case Right(Some(HttpApi.FuzzyMode(spec, pl, me))) =>
            hits(ex, Search.acrossIndexesFuzzyIndexed(spark,
              entityIndexRoot(), term, spec, limit, after3, pl, me,
              only = only))
          case Right(None) =>
            val lake =
              EntityCatalog.unionDocuments(spark, srcDir, runTs, only)
            val fields = lake.schema.fields
              .filter(_.dataType == org.apache.spark.sql.types.StringType)
              .map(_.name).filterNot(Set("table", "document_id")).toSeq
            hits(ex, Search.acrossIndexes(lake, term, fields, limit, after3))
        }
      }
      return
    }
    val df = Tables(spark, srcDir, index)
    val stringCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    val requested = Option(req.get("fields")).filter(_.isArray)
      .map(f => (0 until f.size()).map(f.get(_).asText()))
    val rawFields = requested.filterNot(_ == Seq("*")).getOrElse(stringCols)
    // ES `field^boost` syntax: the reference forwards its fields list
    // verbatim to multi_match, where "title^2" boosts that field's
    // score by 2 (src/search_api.py:22-30). Parsed here into (name,
    // boost); a malformed suffix ("title^abc", "title^") is the
    // caller's error — 400, not an unresolved-column 500.
    val parsedFields = rawFields.map { f =>
      f.split("\\^", 2) match {
        case Array(name, b) =>
          val boost = scala.util.Try(b.toDouble).toOption.filter(_ > 0)
          (name, boost, boost.isEmpty || name.isEmpty)
        case _ => (f, None, false)
      }
    }
    if (parsedFields.exists(_._3)) {
      respond(ex, 400, """{"error": "invalid field boost; use """ +
        """\"field^positive_number\""}""")
      return
    }
    val fields = parsedFields.map(_._1)
    val boosts: Map[String, Double] =
      parsedFields.collect { case (n, Some(b), _) => n -> b }.toMap
    val limit = intArg(req, "limit").getOrElse(100)
    // an explicit `"fields": []` (or a table with no string columns at
    // all) is a caller error, not a 500: every ranking mode needs at
    // least one field to score
    if (fields.isEmpty) {
      respond(ex, 400,
        """{"error": "at least one searchable field is required"}""")
      return
    }
    // "search_after": [score, id] — the ES deep-pagination cursor: the
    // LAST hit's sort values from the previous page; every mode sorts
    // (score desc, id asc), so the cursor is deterministic
    val after: Option[(Double, Any)] =
      Option(req.get("search_after")).filter(a => a.isArray && a.size == 2)
        .map { a =>
          val id = a.get(1)
          (a.get(0).asDouble,
            if (id.isIntegralNumber) id.asLong
            else if (id.isNumber) id.asDouble
            else id.asText: Any)
        }
    // "rank": "bm25" (ES's actual multi_match scorer) or "tfidf" rank
    // the WHOLE fields list (per-field statistics, combined per
    // "type": "most_fields" sum | "best_fields" max — ES multi_match
    // types) and return hit identities (id, score) like ES's
    // _id/_score. The default occurrence scorer returns full rows and
    // honors "type": "phrase" (token adjacency) and
    // "operator": "and" (every term must token-match).
    val best = textOr(req, "type", "most_fields") == "best_fields"
    textOr(req, "rank", "occurrences") match {
      // ranked modes PROBE the write-time index — bit-identical scores
      // to the scan-path scorers (SearchIndexSpec pins the equality),
      // request cost = pruned postings reads, not a corpus re-scan
      case r @ ("bm25" | "tfidf") =>
        hits(ex, graft.sinks.SearchIndex.ranked(spark,
          tableIndexPath(index), term, fields, limit, bm25 = r == "bm25",
          bestFields = best, boosts = boosts, after = after))
      // phrase / operator=and / minimum_should_match / fuzziness PROBE
      // the index too (positional postings for phrase — what Lucene
      // stores for type=phrase) and fetch row bodies by id afterward,
      // ES's _source fetch; a request naming a non-indexed (non-string)
      // field falls back to the corpus scan, same results either way
      case _ => exact match {
        case Left(err) => respond(ex, 400, err)
        case Right(Some(HttpApi.PhraseMode(slop))) =>
          hits(ex, indexedOrScan(index, df, fields,
            p => fetchBodies(df, graft.sinks.SearchIndex.phrase(spark, p,
              term, fields, limit, boosts, after, slop = slop)),
            () => Search.slopPhrase(df, term, fields, slop, limit, after,
              boosts)))
        case Right(Some(HttpApi.MinShouldMode(n))) =>
          hits(ex, indexedOrScan(index, df, fields,
            p => fetchBodies(df, graft.sinks.SearchIndex.minShould(spark,
              p, term, fields, n, limit, boosts, after)),
            () => Search.multiFieldMinShould(df, term, fields,
              n, limit, after, boosts)))
        case Right(Some(HttpApi.FuzzyMode(spec, pl, me))) =>
          hits(ex, indexedOrScan(index, df, fields,
            p => fetchBodies(df, graft.sinks.SearchIndex.fuzzy(spark, p,
              term, fields, spec, limit, boosts, after,
              prefixLength = pl, maxExpansions = me)),
            () => Search.multiFieldFuzzy(df, term, fields, spec, limit,
              after, boosts, pl, me)))
        case Right(None) =>
          // the default occurrence scorer keeps the reference's
          // SUBSTRING semantics ("foo" matches "foobar" —
          // data_lake_sync's ILIKE heritage), which token postings
          // cannot reproduce — this mode scans the corpus BY DESIGN;
          // every token-exact mode above probes the index
          hits(ex, Search.multiField(df, term, fields, limit, after,
            boosts))
      }
    }
  }

  /** `/search`'s token-exact mode, parsed and validated ONCE for the
    * wildcard and single-index routes: `type=phrase` with `slop` (ES
    * match_phrase proximity; 0 = exact adjacency), `operator=and`
    * (checked before `minimum_should_match`: ES ignores the latter
    * under AND, where every term is already required), the full
    * `minimum_should_match` grammar resolved against the
    * distinct-term count ([[MinShouldMatch]]), and `fuzziness` with
    * `prefix_length` (chars exempt from edits — Lucene's
    * nonFuzzyPrefix) and `max_expansions` (the expansion set capped at
    * the first N candidates). Right(None) = no such mode (the
    * occurrence scorer); Left = the 400 body naming the bad knob. */
  private def exactMode(req: JsonNode, term: String)
      : Either[String, Option[HttpApi.ExactMode]] = {
    def err(msg: String): Either[String, Nothing] =
      Left(mapper.createObjectNode().put("error", msg).toString)
    def intKnob(k: String): Either[String, Option[Int]] =
      EsDsl.intKnob(req, k).left.flatMap(err)
    if (textOr(req, "type", "") == "phrase")
      intKnob("slop").flatMap {
        case Some(s) if s < 0 => err("slop must be >= 0")
        case s => Right(Some(HttpApi.PhraseMode(s.getOrElse(0))))
      }
    else if (textOr(req, "operator", "or") == "and")
      Right(Some(HttpApi.MinShouldMode(Int.MaxValue)))
    else if (req.hasNonNull("minimum_should_match")) {
      val mm = req.get("minimum_should_match")
      val nTerms = graft.functions.TextFunctions
        .analyzeText(term).distinct.length
      // integral nodes route through the SAME grammar resolver as
      // text specs: ES's negative-integer form (-2 = all-but-2
      // required) must resolve against the term count, not clamp
      val resolved: Option[Int] =
        if (mm.isIntegralNumber)
          MinShouldMatch.resolve(mm.asInt.toString, nTerms)
        else if (mm.isTextual) MinShouldMatch.resolve(mm.asText, nTerms)
        else None
      resolved.map(n => Right(Some(HttpApi.MinShouldMode(n))))
        .getOrElse(err("malformed minimum_should_match; use an " +
          "integer, percentage, or conditional spec like \"2<-25% 9<-3\""))
    } else if (req.hasNonNull("fuzziness")) {
      val fz = req.get("fuzziness")
      val spec = if (fz.isIntegralNumber) fz.asInt.toString else
        textOr(req, "fuzziness", "")
      for {
        pl <- intKnob("prefix_length")
        me <- intKnob("max_expansions")
        mode <-
          if (pl.exists(_ < 0) ||
              me.exists(n => n <= 0 || n > Search.MaxExpansionsCeiling))
            err("prefix_length must be >= 0 and max_expansions " +
              s"1..${Search.MaxExpansionsCeiling}")
          else if (!Search.fuzzyEditsValid(spec))
            err("invalid fuzziness; use \"AUTO\" or an edit distance 0..2")
          else Right(Some(HttpApi.FuzzyMode(spec, pl.getOrElse(0), me)))
      } yield mode
    } else Right(None)
  }

  /** The DSL target a request's `index` names: the union document
    * view (wildcards — pagination needs BOTH id columns, document_ids
    * collide across entities) or one registered table. */
  private def dslTarget(index: String)
      : Option[(DataFrame, Seq[String])] =
    if (index == "*" || index.endsWith("_*"))
      Some((EntityCatalog.unionDocuments(spark, srcDir, runTs),
        Seq("document_id", "table")))
    else if (index.contains(","))
      // comma list = the union view restricted to the named entities
      // (same 2-key pagination identity as the wildcard)
      commaEntities(index).toOption.map(parts =>
        (EntityCatalog.unionDocuments(spark, srcDir, runTs, parts),
          Seq("document_id", "table")))
    else if (Tables.names.contains(index))
      Some((Tables(spark, srcDir, index), Nil))
    else None

  /** The write-time table index that serves a DSL body's match/MLT
    * statistics: a NAMED table whose body names a match-family or
    * more_like_this clause (ONE routing shared by /search/advanced,
    * scroll pages, and _explain, so the trigger-key list cannot
    * drift between them). `allowProbe = false` pins a
    * stale-generation PIT to the corpus scan. The build is paid once
    * per table per server lifetime on the first such request (a body
    * whose match clauses all end up in filter context, or a column
    * literally named "match", also triggers it — a bounded one-time
    * cost for a routing probe that needs no DSL re-parse);
    * term-level bodies never pay it. */
  private def statsIdxFor(index: String, body: JsonNode,
                          allowProbe: Boolean = true): Option[String] =
    if (allowProbe && index != "*" && !index.endsWith("_*") &&
        !index.contains(",") &&
        Seq("more_like_this", "match", "multi_match")
          .exists(hasKeyDeep(body, _)))
      Some(tableIndexPath(index))
    else None

  /** The lake's foreign keys as DSL parent/child relations per
    * target table — the relational stand-in for ES's join-field
    * mapping (each relation: the other frame + the child-side column
    * holding the parent's id). */
  private def relationsFor(index: String): EsDsl.Relations = {
    def tbl(n: String) = Tables(spark, srcDir, n)
    index match {
      case "orders" => EsDsl.Relations(
        children = Map("lineitem" -> ((tbl("lineitem"), "l_orderkey"))),
        parents = Map("customer" -> ((tbl("customer"), "o_custkey"))))
      case "lineitem" => EsDsl.Relations(
        parents = Map("orders" -> ((tbl("orders"), "l_orderkey"))))
      case "customer" => EsDsl.Relations(
        children = Map("orders" -> ((tbl("orders"), "o_custkey"))))
      case _ => EsDsl.Relations()
    }
  }

  /** The suggest section's frame — ONE routing for suggest-only and
    * combined (query + suggest) bodies: a named table with the field
    * indexed probes the termstats vocabulary (term-cardinality-sized);
    * the union view and unindexed fields take the corpus scan — same
    * oracle either way (SearchIndex.suggest's contract). */
  private def suggestFrame(index: String, df: DataFrame,
                           sgNode: JsonNode,
                           allowProbe: Boolean = true): DataFrame = {
    // the phrase suggester's bigram LM needs the corpus scan either
    // way; term and completion serve from the index when it covers
    // the field (termstats vocabulary / sorted inputs dictionary)
    if (EsDsl.suggesterKind(sgNode) == "phrase")
      return EsDsl.suggest(df, sgNode)
    if (EsDsl.suggesterKind(sgNode) == "completion") {
      val cp = EsDsl.parseCompletionSuggest(sgNode)
      // geo context names are struct columns — never indexed string
      // fields, so their presence routes to the corpus scan
      return if (allowProbe && index != "*" && !index.endsWith("_*"))
        indexedOrScan(index, df, (cp.field +: cp.contexts.map(_._1)) ++
          cp.geoContexts.map(_._1),
          p =>
            if (graft.sinks.SearchIndex.hasInputs(p))
              graft.sinks.SearchIndex.completionRanked(spark, p,
                cp.prefix, cp.field, cp.size, cp.skipDuplicates,
                cp.edits, cp.fuzzyPrefixLength, cp.transpositions,
                cp.contexts, cp.regex)
            else EsDsl.suggest(df, sgNode),
          () => EsDsl.suggest(df, sgNode))
      else EsDsl.suggest(df, sgNode)
    }
    val sp = EsDsl.parseSuggest(sgNode)
    if (allowProbe && index != "*" && !index.endsWith("_*"))
      indexedOrScan(index, df, Seq(sp.field),
        p => graft.sinks.SearchIndex.suggest(spark, p, sp.field,
          sp.text, sp.size, sp.maxEdits, sp.mode, sp.sortByFreq),
        () => EsDsl.suggest(df, sgNode))
    else EsDsl.suggest(df, sgNode)
  }

  /** Is this wildcard-target body the shape
    * [[EsDsl.searchAcrossIndexes]] ranks per-index — one `multi_match`
    * without explicit fields/operator/msm/fuzziness and none of the
    * hit features the identity-triple response cannot carry? Anything
    * else stays on the union view. */
  private def wildcardRankable(req: JsonNode): Boolean = {
    val blocked = Seq("aggs", "aggregations", "sort", "collapse",
      "search_after", "rescore", "highlight", "suggest", "knn",
      "_source")
    if (blocked.exists(req.hasNonNull)) return false
    Option(req.get("query")).filter(_.isObject).exists { q =>
      val it = q.fieldNames()
      if (!it.hasNext) false
      else {
        val kind = it.next()
        if (it.hasNext || kind != "multi_match") false
        else {
          val b = q.get("multi_match")
          b.hasNonNull("query") && !b.hasNonNull("fields") &&
            !b.hasNonNull("operator") &&
            !b.hasNonNull("minimum_should_match") &&
            !b.hasNonNull("fuzziness") &&
            Option(b.get("type")).map(_.asText)
              .forall(t => t == "most_fields" || t == "best_fields")
        }
      }
    }
  }

  /** Does `key` appear anywhere in the JSON tree? (Routing probe —
    * e.g. "does this body contain a more_like_this clause".) */
  private def hasKeyDeep(n: JsonNode, key: String): Boolean = {
    if (n.isObject) {
      if (n.hasNonNull(key)) return true
      val it = n.elements()
      while (it.hasNext) if (hasKeyDeep(it.next(), key)) return true
      false
    } else if (n.isArray) {
      val it = n.elements()
      while (it.hasNext) if (hasKeyDeep(it.next(), key)) return true
      false
    } else false
  }

  // -------------------------------------------------------------------
  // Scroll — ES's legacy deep-export surface, emulated STATELESSLY
  // -------------------------------------------------------------------

  // -------------------------------------------------------------------
  // Search templates — ES's `_search/template` / `_render/template` /
  // `_scripts/{id}` surface ([[SearchTemplate]]): a mustache phase in
  // front of the ordinary DSL path. Stored templates are server CONFIG
  // (ES keeps them in cluster state), so an in-memory map is the
  // honest analogue — they are request text, not data.
  // -------------------------------------------------------------------

  private val storedTemplates =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The request's template text: inline `source`, or a stored `id` —
    * exactly one of the two (ES's contract). */
  private def templateSource(req: JsonNode): String =
    (Option(req.get("source")).filter(!_.isNull),
      Option(req.get("id")).filter(!_.isNull)) match {
      case (Some(_), Some(_)) =>
        auxBad("template takes \"source\" OR \"id\", not both")
      case (Some(s), None) => SearchTemplate.sourceText(s)
      case (None, Some(i)) =>
        val id = i.asText
        Option(storedTemplates.get(id))
          .getOrElse(auxBad(s"unknown stored template '$id'"))
      case (None, None) => auxBad("template needs \"source\" or \"id\"")
    }

  /** Substituted + parsed body for a template request (shared by run
    * and render). Unknown envelope keys reject by name — the rendered
    * BODY's keys are validated downstream by the DSL itself. */
  private def renderedBody(req: JsonNode)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val unknown = jsonKeys(req)
      .filterNot(Set("source", "id", "params", "index"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported template key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val node = SearchTemplate.renderBody(
      templateSource(req), req.get("params"))
    node match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => auxBad("rendered template must be a JSON object")
    }
  }

  /** POST /search/template — render, then serve exactly like
    * /search/advanced (same routing, scroll included). The envelope's
    * `index` wins over one the rendered body carries (ES puts the
    * index in the URL, outside the template). */
  private def searchTemplate(ex: HttpExchange, req: JsonNode): Unit = {
    val merged = renderedBody(req)
    Option(req.get("index")).filter(_.isTextual)
      .foreach(i => merged.set[JsonNode]("index", i))
    advancedSearch(ex, merged)
  }

  /** POST /search/render — ES `_render/template`: the substituted body
    * WITHOUT running it (the template-debugging contract). */
  private def renderTemplate(ex: HttpExchange, req: JsonNode): Unit =
    respond(ex, 200, s"""{"template_output": ${renderedBody(req)}}""")

  /** PUT/POST /search/scripts/{id} — store a mustache template. Like
    * ES, the template is COMPILED at store time (malformed mustache is
    * a 400 here, not at first use); substitution happens per search. */
  private def putScript(ex: HttpExchange, id: String,
                        req: JsonNode): Unit = {
    // same fail-loud envelope contract as the sibling endpoints: an
    // extra key (ES "options" we do not model, a misspelled "source")
    // rejects by name instead of being silently dropped
    val unknownEnv = jsonKeys(req).filterNot(Set("script"))
    if (unknownEnv.nonEmpty)
      auxBad(s"unsupported stored-script key" +
        s"${if (unknownEnv.size == 1) "" else "s"}: " +
        unknownEnv.mkString(", "))
    val script = Option(req.get("script")).filter(_.isObject)
      .getOrElse(auxBad("stored script needs a \"script\" object"))
    val unknownScript = jsonKeys(script).filterNot(Set("lang", "source"))
    if (unknownScript.nonEmpty)
      auxBad(s"unsupported script key" +
        s"${if (unknownScript.size == 1) "" else "s"}: " +
        unknownScript.mkString(", "))
    val lang = textOr(script, "lang", "mustache")
    if (lang != "mustache")
      auxBad(s"unsupported stored-script lang '$lang' (mustache only)")
    val src = SearchTemplate.sourceText(script.get("source"))
    SearchTemplate.validate(src)
    storedTemplates.put(id, src)
    respond(ex, 200, """{"acknowledged": true}""")
  }

  /** GET /search/scripts/{id} — ES `GET _scripts/{id}`. */
  private def getScript(ex: HttpExchange, id: String): Unit =
    Option(storedTemplates.get(id)) match {
      case None =>
        respond(ex, 404, mapper.createObjectNode()
          .put("_id", id).put("found", false).toString)
      case Some(src) =>
        val out = mapper.createObjectNode()
        out.put("_id", id).put("found", true)
        out.putObject("script").put("lang", "mustache")
          .put("source", src)
        respond(ex, 200, out.toString)
    }

  /** DELETE /search/scripts/{id}. */
  private def deleteScript(ex: HttpExchange, id: String): Unit =
    if (storedTemplates.remove(id) != null)
      respond(ex, 200, """{"acknowledged": true}""")
    else respond(ex, 404, mapper.createObjectNode()
      .put("_id", id).put("found", false).toString)

  // -------------------------------------------------------------------
  // Point-in-time — ES's `_pit` API: a search context pinned to one
  // consistent view. This engine's storage is ALREADY immutable per
  // server lifetime (srcDir parquet snapshots; the search index's
  // immutable generations behind an atomic pointer), so a PIT is a
  // STATELESS token — (index, pinned index generation) — with nothing
  // server-side to expire: `keep_alive` is accepted and ignored
  // (documented; every PIT outlives any keep_alive a client could
  // ask for). If the search index was rebuilt since the PIT opened
  // (generation advanced), searches under the PIT route to the CORPUS
  // SCAN path over the unchanged parquet snapshot — bit-identical
  // scores to the probe path by SearchIndexSpec's pinned equality, so
  // the pinned view is served either way, never a mixed one.
  // -------------------------------------------------------------------

  /** The table-index directory WITHOUT triggering a lazy build (PIT
    * open must not pay an index build). */
  private def currentGen(index: String): Int =
    if (index == "*" || index.endsWith("_*")) -1
    else {
      val p = s"$outDir/_search_index/tables/$index"
      if (graft.sinks.SearchIndex.exists(p))
        graft.sinks.SearchIndex.readMeta(p).gen
      else -1
    }

  /** POST /search/pit — `{"index": ..., "keep_alive": ...}` →
    * `{"id": ...}`. */
  private def openPit(ex: HttpExchange, req: JsonNode): Unit = {
    val unknown = jsonKeys(req).filterNot(Set("index", "keep_alive"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported pit key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val index = resolveIndex(textOr(req, "index", "*"))
    if (dslTarget(index).isEmpty) {
      notFound(ex, "unknown index", index)
      return
    }
    val node = mapper.createObjectNode()
      .put("index", index).put("gen", currentGen(index))
    val id = java.util.Base64.getUrlEncoder.encodeToString(
      node.toString.getBytes(StandardCharsets.UTF_8))
    respond(ex, 200, s"""{"id": "$id"}""")
  }

  /** Decode a search body's `pit` section → (index, pinned gen). */
  private def decodePit(pitNode: JsonNode): (String, Int) = {
    val unknown = jsonKeys(pitNode).filterNot(Set("id", "keep_alive"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported pit key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val id = textOr(pitNode, "id", "")
    if (id.isEmpty) auxBad("pit needs \"id\"")
    val decoded = scala.util.Try(mapper.readTree(
      new String(java.util.Base64.getUrlDecoder.decode(id),
        StandardCharsets.UTF_8))).toOption
      .filter(c => c.hasNonNull("index") && c.hasNonNull("gen"))
      .getOrElse(auxBad("malformed pit id"))
    (decoded.get("index").asText, decoded.get("gen").asInt)
  }

  // -------------------------------------------------------------------
  // Percolation ([[Percolate]]) — ES's reverse search: stored queries
  // matched against request documents. The percolator store mirrors
  // the scripts store (stored queries are configuration); documents
  // are the data side and never persist here.
  // -------------------------------------------------------------------

  private val storedPercolators =
    new java.util.concurrent.ConcurrentHashMap[String, JsonNode]()

  /** PUT/POST /search/percolators/{id} — store `{"query": {...}}`.
    * Store-time validation is structural (a JSON object under
    * "query"); field resolution is percolate-time by design — the
    * document shape is unknown until documents arrive. */
  private def putPercolator(ex: HttpExchange, id: String,
                            req: JsonNode): Unit = {
    val unknown = jsonKeys(req).filterNot(_ == "query")
    if (unknown.nonEmpty)
      auxBad(s"unsupported percolator key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val q = Option(req.get("query")).filter(_.isObject)
      .getOrElse(auxBad("stored percolator needs a \"query\" object"))
    storedPercolators.put(id, q)
    respond(ex, 200, """{"acknowledged": true}""")
  }

  /** GET /search/percolators/{id}. */
  private def getPercolator(ex: HttpExchange, id: String): Unit =
    Option(storedPercolators.get(id)) match {
      case None =>
        respond(ex, 404, mapper.createObjectNode()
          .put("_id", id).put("found", false).toString)
      case Some(q) =>
        val out = mapper.createObjectNode()
        out.put("_id", id).put("found", true)
        out.set[JsonNode]("query", q)
        respond(ex, 200, out.toString)
    }

  /** DELETE /search/percolators/{id}. */
  private def deletePercolator(ex: HttpExchange, id: String): Unit =
    if (storedPercolators.remove(id) != null)
      respond(ex, 200, """{"acknowledged": true}""")
    else respond(ex, 404, mapper.createObjectNode()
      .put("_id", id).put("found", false).toString)

  /** POST /search/percolate — `{"document": {...}}` or
    * `{"documents": [...]}`: which stored percolators match. Hits are
    * the stored queries (id + query + matching document slots),
    * ordered by store id — ES's percolate-hit shape over the
    * engine's percolator store. */
  private def percolateDocs(ex: HttpExchange, req: JsonNode): Unit = {
    val unknown = jsonKeys(req)
      .filterNot(Set("document", "documents"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported percolate key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val docs: Seq[JsonNode] =
      (Option(req.get("document")), Option(req.get("documents"))) match {
        case (Some(_), Some(_)) =>
          auxBad("percolate takes \"document\" OR \"documents\", not both")
        case (Some(d), None) => Seq(d)
        case (None, Some(ds)) if ds.isArray =>
          (0 until ds.size).map(ds.get)
        case (None, Some(_)) =>
          auxBad("\"documents\" must be an array")
        case (None, None) =>
          auxBad("percolate needs \"document\" or \"documents\"")
      }
    val stored = {
      import scala.jdk.CollectionConverters._
      storedPercolators.entrySet().asScala.toSeq
        .map(e => (e.getKey, e.getValue)).sortBy(_._1)
    }
    val hits = Percolate.matches(spark, stored, docs)
    // the response serializes the SNAPSHOT the match ran against —
    // re-reading the store here would race a concurrent DELETE into a
    // "query": null hit
    val byId = stored.toMap
    val out = mapper.createObjectNode()
    val hitsObj = out.putObject("hits")
    hitsObj.put("total", hits.size)
    val arr = hitsObj.putArray("hits")
    hits.foreach { case (id, slots) =>
      val h = arr.addObject()
      h.put("_id", id)
      h.put("_score", 1.0)
      h.set[JsonNode]("query", byId(id))
      val sl = h.putArray("_percolator_document_slot")
      slots.foreach(sl.add)
    }
    respond(ex, 200, out.toString)
  }

  /** A `scroll` search opens a cursor over the match set; POST
    * /search/scroll with the returned `_scroll_id` walks it page by
    * page. ES keeps a server-side scroll context (a point-in-time
    * snapshot that can expire); this engine's storage is already
    * immutable between syncs (parquet snapshots; the search index's
    * immutable generations), so the cursor is SELF-CONTAINED — the
    * original body plus the last hit's effective-sort values — and the
    * continuation is one `search_after` query: O(page) at any depth,
    * nothing server-side to expire (the `scroll` duration is accepted
    * and ignored — documented PIT emulation). Supported for plain
    * query bodies (`query` + `size`); sort/collapse/search_after/
    * rescore/aggs/suggest/knn/_source/from are rejected by name — the
    * scroll use case is "export the whole match set", which needs
    * none of them. */
  private def scrollStart(ex: HttpExchange, req: JsonNode, index: String,
                          df: DataFrame, ties: Seq[String]): Unit = {
    for (k <- Seq("sort", "collapse", "search_after", "rescore", "aggs",
        "aggregations", "suggest", "knn", "_source", "from")
        if req.hasNonNull(k)) {
      respond(ex, 400, mapper.createObjectNode()
        .put("error", s"scroll cannot be combined with $k").toString)
      return
    }
    // the per-index wildcard ranking route has no cursor — name the
    // actionable alternative instead of letting the union view's
    // multi_match translator emit a confusing 'needs fields' 400
    if ((index == "*" || index.endsWith("_*")) && wildcardRankable(req)) {
      respond(ex, 400, mapper.createObjectNode()
        .put("error", "scroll over the data_lake_* wildcard is not " +
          "supported on the per-index ranked route; scroll a named " +
          "index, or give the multi_match explicit fields to scroll " +
          "the union view").toString)
      return
    }
    val size = intArg(req, "size").getOrElse(10)
    if (size > maxHits) {
      respond(ex, 400, mapper.createObjectNode()
        .put("error", s"scroll page size must be <= $maxHits")
        .toString)
      return
    }
    val clean = req.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    clean.remove("scroll")
    clean.remove("index")
    serveScrollPage(ex, index, clean, df, ties)
  }

  /** POST /search/scroll — `{"scroll_id": "..."}`: decode the cursor,
    * re-run the body strictly after the recorded sort position, emit
    * the next page and the next cursor (absent once the match set is
    * exhausted, ES's end-of-scroll signal). */
  private def scrollContinue(ex: HttpExchange, req: JsonNode): Unit = {
    val sid = textOr(req, "scroll_id", "")
    if (sid.isEmpty) {
      respond(ex, 400, """{"error": "scroll_id is required"}"""); return
    }
    val cursor = scala.util.Try(mapper.readTree(
      new String(java.util.Base64.getUrlDecoder.decode(sid),
        StandardCharsets.UTF_8))).toOption
      .filter(c => c.hasNonNull("index") && c.hasNonNull("body") &&
        c.hasNonNull("after"))
    cursor match {
      case None =>
        respond(ex, 400, """{"error": "malformed scroll_id"}""")
      case Some(c) =>
        val index = resolveIndex(c.get("index").asText)
        dslTarget(index) match {
          case None =>
            notFound(ex, "unknown index", index)
          case Some((df, ties)) =>
            try {
              val body = c.get("body")
                .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
              body.set("search_after", c.get("after"))
              serveScrollPage(ex, index, body, df, ties)
            } catch {
              case e: IllegalArgumentException =>
                respond(ex, 400, mapper.createObjectNode()
                  .put("error", String.valueOf(e.getMessage)).toString)
            }
        }
    }
  }

  /** One scroll page: run `body` (already carrying the cursor's
    * search_after, if any), serve the hits, and derive the NEXT
    * `_scroll_id` from the last hit's (score, tiebreak) values under
    * the DSL's default effective sort. */
  private def serveScrollPage(ex: HttpExchange, index: String,
                              body: com.fasterxml.jackson.databind.node.ObjectNode,
                              df: DataFrame, ties: Seq[String]): Unit = {
    try {
      // same routing as the non-scroll path: the write-time index
      // serves match/MLT statistics, terms lookups resolve through
      // the registry, and the table's foreign keys register as
      // parent/child relations — a scrollable body is exactly a
      // searchable body plus a cursor
      val (page, _) = EsDsl.searchParts(df, body, ties,
        statsIdxFor(index, body), Some(dslTarget _), relationsFor(index))
      val capped = page.limit(maxHits)
      val tieNames = if (ties.nonEmpty) ties else Seq(df.columns.head)
      // ONE collect per page (the deep-export path is O(page) by
      // contract): each row carries its JSON rendering AND the typed
      // cursor key values
      import org.apache.spark.sql.functions.{col, struct, to_json}
      val rows = capped.select(
        to_json(struct(capped.columns.map(col): _*)).as("_j") +:
          ("_score" +: tieNames).map(col): _*).collect()
      val jsonRows = rows.map(_.getString(0))
      val scrollField =
        if (rows.isEmpty) ""
        else {
          val last = rows.last
          val cursor = mapper.createObjectNode()
          cursor.put("index", index)
          val cleanBody = body.deepCopy[com.fasterxml.jackson.databind
            .node.ObjectNode]()
          cleanBody.remove("search_after")
          cursor.set[JsonNode]("body", cleanBody)
          val arr = cursor.putArray("after")
          // key values must round-trip TYPED through the cursor — a
          // stringified numeric would make the continuation's
          // strictly-after literal compare against a mis-typed value
          (1 until last.length).foreach { i =>
            last.get(i) match {
              case d: java.lang.Double  => arr.add(d.doubleValue())
              case f: java.lang.Float   => arr.add(f.doubleValue())
              case l: java.lang.Long    => arr.add(l.longValue())
              case n: java.lang.Integer => arr.add(n.intValue())
              case b: java.lang.Boolean => arr.add(b.booleanValue())
              case s: String            => arr.add(s)
              case other => throw new IllegalArgumentException(
                s"scroll needs numeric/string tiebreak columns; '${
                  tieNames.lift(i - 2).getOrElse("_score")}' is ${
                  if (other == null) "null" else other.getClass.getName}")
            }
          }
          val sid = java.util.Base64.getUrlEncoder.encodeToString(
            cursor.toString.getBytes(StandardCharsets.UTF_8))
          s""", "_scroll_id": "$sid""""
        }
      // a live cursor means more hits may follow — total is a LOWER
      // BOUND then ("gte"), exact only once the scroll is exhausted
      val relation = if (scrollField.nonEmpty) "gte" else "eq"
      respond(ex, 200,
        s"""{"hits": {"total": {"value": ${jsonRows.length}, ${""
          }"relation": "$relation"}, "hits": [${
          jsonRows.mkString(", ")}]}$scrollField}""")
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage)).toString)
      case e: org.apache.spark.sql.AnalysisException =>
        // a forged/stale cursor referencing a column the current
        // schema lacks is the CALLER's error — 400, never a 500
        respond(ex, 400, mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage)).toString)
    }
  }

  /** POST /search/advanced — `{"sql": "SELECT ...", "page_token": ...}`
    * over the registered lake views; the engine's real query language
    * instead of a raw ES DSL forward.
    *
    * Pagination: a capped page returns `next_page_token`; replaying the
    * SAME sql with that token returns the next page. The token encodes
    * (sql-hash, offset) — a mismatched sql is a 400, not a silently
    * wrong page. Determinism: paging needs a total order, so a query
    * without its own global ORDER BY gets a deterministic all-columns
    * sort appended; with the page-sized limit on top Spark executes it
    * as TakeOrdered (top-k per partition), NOT a full corpus sort. A
    * result with un-orderable columns (maps) serves page 1 capped with
    * no token. */
  /** The DSL search core shared by `/search/advanced` and `_msearch`:
    * route the body (suggest-only, ranked-wildcard, or the general
    * searchParts path with an index-probe statsIndex) and build the
    * hits-response JSON. Throws `IllegalArgumentException` /
    * `AnalysisException` for the callers' 400 mapping. */
  private def dslSearchJson(index: String, df: DataFrame,
                            ties: Seq[String], req: JsonNode,
                            allowProbe: Boolean = true): String = {
    // suggest-only body: ONE suggester keeps the flat-table-as-hits
    // shape (the registered-query contract); SEVERAL named suggesters
    // each get their own response section, ES's multi-suggester body
    if (req.hasNonNull("suggest") && !req.hasNonNull("query") &&
        !req.hasNonNull("knn")) {
      val sg = req.get("suggest")
      val names = EsDsl.suggesterNames(sg)
      if (names.size == 1)
        return hitsJson(suggestFrame(index, df, sg, allowProbe))
      return hitsJson(spark.emptyDataFrame,
        suggest = names.map(n =>
          (suggestFrame(index, df, EsDsl.oneSuggester(sg, n),
            allowProbe), n)))
    }
    // data_lake_* wildcard bodies of the rankable multi_match
    // shape score with PER-INDEX statistics (ES's wildcard
    // semantics — IDF is index-local) through the entity
    // postings indexes, the same ranking /search rank=bm25
    // serves; other wildcard bodies keep the union view
    // (corpus-wide statistics, documented)
    if ((index == "*" || index.endsWith("_*")) && wildcardRankable(req))
      return hitsJson(EsDsl.searchAcrossIndexes(spark, srcDir, runTs,
        req, indexRoot = Some(entityIndexRoot())))
    if (index.contains(",") && wildcardRankable(req))
      commaEntities(index).foreach(parts =>
        return hitsJson(EsDsl.searchAcrossIndexes(spark, srcDir, runTs,
          req, indexRoot = Some(entityIndexRoot()), only = parts)))
    // named-table bodies that NAME match-family or
    // more_like_this clauses ride the table's write-time
    // index ([[statsIdxFor]]): match clauses score by postings
    // probes (zero corpus scans) and MLT reads fieldstats/
    // termstats — bit-identical to the scan pass either way.
    // ES returns hits AND aggregations in one response; the
    // flat bucket table rides an "aggregations" section keyed
    // by the body's top-level agg name
    val (page, aggs) = EsDsl.searchParts(df, req, ties,
      statsIdxFor(index, req, allowProbe),
      Some(dslTarget _), relationsFor(index))
    // the section is keyed by the BASE bucket agg's name —
    // never a sibling pipeline's, regardless of body key order
    val aggName = aggs.map(_ => EsDsl.responseAggName(
      Option(req.get("aggs")).getOrElse(req.get("aggregations"))))
    // a `suggest` section NEXT TO the query rides the same
    // response (ES's combined body), keyed by the suggester
    val suggestOut = Option(req.get("suggest"))
      .filter(!_.isNull).toSeq.flatMap { sg =>
        EsDsl.suggesterNames(sg).map(n =>
          (suggestFrame(index, df, EsDsl.oneSuggester(sg, n),
            allowProbe), n))
      }
    hitsJson(page, aggs = aggs.zip(aggName), suggest = suggestOut)
  }

  /** POST /search/count — ES's `_count` API: `{"index": ...,
    * "query": {...}}` → `{"count": N}`. The query compiles in filter
    * context ([[EsDsl.countFrame]] — scores never change a count) and
    * the count is one distributed aggregate. */
  private def countSearch(ex: HttpExchange, req: JsonNode): Unit = {
    val index = resolveIndex(textOr(req, "index", "*"))
    dslTarget(index) match {
      case None =>
        notFound(ex, "unknown index", index)
      case Some((df, ties)) =>
        try {
          val n = EsDsl.countFrame(df, req, ties, Some(dslTarget _),
            relationsFor(index)).collect()(0).getLong(0)
          respond(ex, 200, s"""{"count": $n}""")
        } catch {
          case e: IllegalArgumentException =>
            respond(ex, 400, mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
          case e: org.apache.spark.sql.AnalysisException =>
            respond(ex, 400, mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
        }
    }
  }

  /** POST /search/msearch — ES's `_msearch` API: ndjson header/body
    * line pairs (`{"index": ...}` then a search body), answered as
    * `{"responses": [...]}` in request order. ES's per-item error
    * contract: a failing sub-search becomes an error object WITH a
    * status in its slot and the envelope stays 200 — one bad body
    * never voids its siblings. Scroll cannot ride msearch (ES rejects
    * it there too). */
  private def msearch(ex: HttpExchange, raw: String): Unit = {
    // ES accepts a BLANK header line (same as {}) — dropping blanks
    // wholesale would shift the header/body pairing and run the wrong
    // searches; only the trailing newline's empty cells are padding
    val lines = raw.split("\n", -1).map(_.trim)
      .reverse.dropWhile(_.isEmpty).reverse.toSeq
    if (lines.isEmpty || lines.length % 2 != 0) {
      respond(ex, 400, """{"error": "msearch expects ndjson """ +
        """header/body line pairs"}""")
      return
    }
    def errObj(status: Int, msg: String): String =
      mapper.createObjectNode().put("status", status)
        .put("error", String.valueOf(msg)).toString
    val responses = lines.grouped(2).map { pair =>
      if (pair(1).isEmpty) errObj(400, "msearch body line is empty")
      else try {
        val header =
          if (pair(0).isEmpty) mapper.createObjectNode()
          else mapper.readTree(pair(0))
        val body0 = mapper.readTree(pair(1))
        val index = resolveIndex(textOr(header, "index",
          textOr(body0, "index", "*")))
        if (body0.hasNonNull("scroll"))
          errObj(400, "scroll cannot ride msearch")
        else if (body0.hasNonNull("pit"))
          errObj(400, "pit cannot ride msearch")
        else dslTarget(index) match {
          case None => errObj(404, s"unknown index '$index'")
          case Some((df, ties)) =>
            try dslSearchJson(index, df, ties, body0)
            catch {
              case e: IllegalArgumentException =>
                errObj(400, e.getMessage)
              case e: org.apache.spark.sql.AnalysisException =>
                errObj(400, e.getMessage)
            }
        }
      } catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          errObj(400, s"malformed msearch line: ${e.getMessage}")
      }
    }
    respond(ex, 200,
      s"""{"responses": [${responses.mkString(", ")}]}""")
  }

  private def jsonKeys(n: JsonNode): Seq[String] = {
    val it = n.fieldNames()
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) out += it.next()
    out.toSeq
  }

  /** 400 with the message — the auxiliary APIs' shared fail-loud
    * path (thrown inside a handler, mapped by [[aux]]). */
  private def auxBad(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // compiled once — the letter-run (simple/stop/letter tokenizers)
  // and whitespace-run patterns several _analyze branches share
  private val LetterRun = java.util.regex.Pattern.compile("\\p{L}+")
  private val SpaceRun = java.util.regex.Pattern.compile("\\S+")

  /** Run an auxiliary-API handler body with the standard error
    * mapping: IllegalArgumentException/AnalysisException → 400. */
  private def aux(ex: HttpExchange)(body: => Unit): Unit =
    try body catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage)).toString)
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 400, mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage)).toString)
    }

  /** POST /search/validate — ES `_validate/query`: compile the body's
    * query WITHOUT executing it. A malformed query is a 200 with
    * `valid: false` plus the compile error (ES's contract — the API
    * exists to report query errors, so they can't BE transport
    * errors); only an unknown index stays 404. Forcing the analyzed
    * plan catches unresolved columns too, still with zero execution. */
  private def validateQuery(ex: HttpExchange, req: JsonNode): Unit = {
    val index = resolveIndex(textOr(req, "index", "*"))
    dslTarget(index) match {
      case None =>
        notFound(ex, "unknown index", index)
      case Some((df, ties)) =>
        try {
          EsDsl.countFrame(df, req, ties, Some(dslTarget _),
            relationsFor(index)).queryExecution.analyzed
          respond(ex, 200, """{"valid": true}""")
        } catch {
          case e: IllegalArgumentException =>
            respond(ex, 200, mapper.createObjectNode()
              .put("valid", false)
              .put("error", String.valueOf(e.getMessage)).toString)
          case e: org.apache.spark.sql.AnalysisException =>
            respond(ex, 200, mapper.createObjectNode()
              .put("valid", false)
              .put("error", String.valueOf(e.getMessage)).toString)
        }
    }
  }

  /** POST /search/field_caps — ES `_field_caps`: per-field type and
    * capability flags from the target's schema (type mapping =
    * [[DocumentSink.esType]], the same derivation the index-create
    * DDL uses, so the two can never drift). `fields` accepts ES
    * wildcard patterns; default every field. Every served column is
    * both searchable and aggregatable here — one analyzer, exact
    * aggregation over the same column; there is no text/keyword
    * split to report. */
  private def fieldCaps(ex: HttpExchange, req: JsonNode): Unit =
    aux(ex) {
      val index = resolveIndex(textOr(req, "index", "*"))
      dslTarget(index) match {
        case None =>
          notFound(ex, "unknown index", index)
        case Some((df, _)) =>
          val pats: Seq[String] = Option(req.get("fields")) match {
            case None => Seq("*")
            case Some(n) if n.isArray =>
              if (n.size == 0) auxBad("field_caps fields must not be " +
                "an empty array")
              (0 until n.size).map(n.get(_).asText)
            case Some(n) if n.isTextual => Seq(n.asText)
            case Some(_) =>
              auxBad("field_caps fields must be a string or an array")
          }
          def wildRe(p: String): String = p.flatMap {
            case '*' => ".*"
            case '?' => "."
            case c if "\\.[]{}()+^$|".contains(c) => "\\" + c
            case c   => c.toString
          }
          val res = pats.map(p => java.util.regex.Pattern
            .compile("^(?:" + wildRe(p) + ")$"))
          val fieldsJson = mapper.createObjectNode()
          df.schema.fields.sortBy(_.name)
            .filter(f => res.exists(_.matcher(f.name).matches()))
            .foreach { f =>
              val t = DocumentSink.esType(f.dataType)
              fieldsJson.putObject(f.name).putObject(t)
                .put("type", t)
                .put("searchable", true).put("aggregatable", true)
              ()
            }
          val resp = mapper.createObjectNode()
          resp.putArray("indices").add(index)
          resp.set[com.fasterxml.jackson.databind.node.ObjectNode](
            "fields", fieldsJson)
          respond(ex, 200, resp.toString)
      }
    }

  /** POST /search/analyze — ES `_analyze`: the engine's default
    * chain is the STANDARD analyzer (the tokenization every scorer,
    * span matcher, and index build uses — [[Search
    * .analyzeWithOffsets]]); `analyzer: "whitespace"` serves ES's
    * whitespace analyzer (raw `\S+` tokens, no lowercase — the
    * pipeline layer's unit) and `"keyword"` the whole input as one
    * token — the SAME inventory the match family accepts (the
    * language chains english/french/german, and simple/stop since
    * round 17). Offsets point into the ORIGINAL text,
    * like ES. Any OTHER analyzer name rejects by name — silently
    * standard-analyzing a request for `spanish` would misreport what
    * the engine actually indexes. */
  private def analyzeText(ex: HttpExchange, req: JsonNode): Unit =
    aux(ex) {
      val textN = Option(req.get("text")).filter(!_.isNull)
        .getOrElse(auxBad("_analyze needs \"text\""))
      if (!textN.isTextual)
        auxBad("_analyze text must be a string")
      // ES's EXPLICIT custom-chain form (round 17): `tokenizer` +
      // `filter` instead of a named analyzer — the route that makes
      // every shipped token filter individually reachable (e.g.
      // `{"type": "stemmer", "language": "french"}` = the Snowball
      // algorithm the prebuilt analyzer no longer defaults to)
      if (req.hasNonNull("tokenizer") || req.hasNonNull("filter")) {
        if (req.hasNonNull("analyzer"))
          auxBad("_analyze takes analyzer OR tokenizer/filter, " +
            "not both")
        respond(ex, 200, analyzeCustomChain(req, textN.asText))
        return
      }
      val which = Option(req.get("analyzer")).map(_.asText)
        .getOrElse("standard") match {
        case "standard" | "default" => "standard"
        case "whitespace"           => "whitespace"
        case "english"              => "english"
        case "french"               => "french"
        case "german"               => "german"
        case "spanish"              => "spanish"
        case "simple"               => "simple"
        case "stop"                 => "stop"
        case "keyword"              => "keyword"
        case other => auxBad(s"unsupported analyzer '$other' — " +
          "standard (the engine's chain), english, french, german, " +
          "spanish, simple, stop, whitespace and keyword only")
      }
      val spans = which match {
        case "standard" => Search.analyzeWithOffsets(textN.asText)
        case "keyword" =>
          // ES's keyword analyzer: the WHOLE input as one token,
          // verbatim — offsets span the original text
          val t = textN.asText
          if (t.isEmpty) Seq.empty else Seq((t, 0, t.length, 0))
        case "english" =>
          // the query-side english chain with ES's _analyze contract:
          // token = the stem, offsets = the ORIGINAL token's span,
          // position = the original slot (stopwords consume positions
          // — the gaps the phrase machinery matches against)
          Search.analyzeWithOffsets(textN.asText).flatMap {
            case (t, s0, e0, p) =>
              val stripped =
                graft.functions.EnglishAnalysis.stripPossessive(t)
              if (graft.functions.EnglishAnalysis.isStop(stripped)) None
              else Some((graft.functions.PorterStemmer.stem(stripped),
                s0, e0, p))
          }
        case "french" =>
          // the french chain under the same contract: elision keeps
          // the ORIGINAL token's offsets (ES's ElisionFilter does),
          // stopwords consume positions, token = the light_french
          // stem (the prebuilt analyzer's default stemmer)
          Search.analyzeWithOffsets(textN.asText).flatMap {
            case (t, s0, e0, p) =>
              val elided = graft.functions.FrenchAnalysis.elide(t)
              if (elided.isEmpty ||
                  graft.functions.FrenchAnalysis.isStop(elided)) None
              else Some(
                (graft.functions.FrenchLightStemmer.stem(elided),
                  s0, e0, p))
          }
        case "german" =>
          // the german chain: stopwords consume positions, then
          // german_normalization (ß→ss, ae/oe/ue folds) and the
          // light_german stem — offsets stay the ORIGINAL token's
          Search.analyzeWithOffsets(textN.asText).flatMap {
            case (t, s0, e0, p) =>
              if (graft.functions.GermanAnalysis.isStop(t)) None
              else Some((graft.functions.GermanLightStemmer.stem(
                graft.functions.GermanAnalysis.normalize(t)),
                s0, e0, p))
          }
        case "spanish" =>
          // the spanish chain: stopwords consume positions, the
          // light_spanish stem folds accents itself — offsets stay
          // the ORIGINAL token's
          Search.analyzeWithOffsets(textN.asText).flatMap {
            case (t, s0, e0, p) =>
              if (graft.functions.SpanishAnalysis.isStop(t)) None
              else Some((graft.functions.SpanishLightStemmer.stem(t),
                s0, e0, p))
          }
        case "simple" | "stop" =>
          // ES's simple analyzer (lowercase LETTER runs — digits and
          // punctuation split) and its stop sibling (+ the classic
          // english stop set, positions consumed)
          val m = LetterRun.matcher(textN.asText)
          val runs = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, Int, Int)]
          var pos = 0
          while (m.find()) {
            runs += ((m.group.toLowerCase, m.start, m.end, pos))
            pos += 1
          }
          if (which == "simple") runs.toSeq
          else runs.toSeq.filterNot { case (t, _, _, _) =>
            graft.functions.EnglishAnalysis.isStop(t) }
        case _ =>
          val m = SpaceRun.matcher(textN.asText)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, Int, Int)]
          while (m.find()) out += ((m.group, m.start, m.end, out.length))
          out.toSeq
      }
      val ttype =
        if (which == "whitespace" || which == "keyword" ||
            which == "simple" || which == "stop") "word"
        else "<ALPHANUM>"
      val toks = spans.map {
        case (t, s0, e0, p) =>
          mapper.createObjectNode().put("token", t)
            .put("start_offset", s0).put("end_offset", e0)
            .put("type", ttype).put("position", p).toString
      }
      respond(ex, 200, s"""{"tokens": [${toks.mkString(", ")}]}""")
    }

  /** The `_analyze` EXPLICIT chain — delegates to
    * [[graft.functions.CustomChain]] (ONE chain engine shared with
    * the index-mapping route, so `_analyze` previews exactly what a
    * custom-mapped index would tokenize): `tokenizer` (standard —
    * case KEPT, lowercasing is a filter here, like ES — | lowercase
    * | letter | whitespace | keyword) then `filter` entries in
    * order (lowercase, stop with named `_lang_` sets or explicit
    * lists, elision, german_normalization, stemmer, edge_ngram).
    * A body with `filter` but NO `tokenizer` is ES's NORMALIZER
    * form: keyword tokenizer, one token, multi-term-aware filters
    * only — `{"filter": ["lowercase"], "text": "Foo Bar"}` answers
    * the single token "foo bar", and a stop/stemmer/edge_ngram
    * inside it rejects by name (ES refuses them in normalizers
    * too). Anything else rejects by name. */
  private def analyzeCustomChain(req: JsonNode, text: String): String = {
    import graft.functions.CustomChain
    // tokenizer-less + filter = the normalizer form (keyword
    // tokenizer); a bare tokenizer-less body never reaches here
    // (the named-analyzer route handles it)
    val tokOpt = Option(req.get("tokenizer")).map(_.asText)
    val normalizer = tokOpt.isEmpty
    val tok = tokOpt.getOrElse("keyword")
    if (!CustomChain.Tokenizers.contains(tok))
      auxBad(s"unsupported tokenizer '$tok' " +
        s"(${CustomChain.Tokenizers.toSeq.sorted.mkString(", ")})")
    val filterNodes: Seq[JsonNode] = Option(req.get("filter")) match {
      case None => Nil
      case Some(fn) if fn.isArray => (0 until fn.size).map(fn.get)
      case Some(_) => auxBad("filter must be an array")
    }
    val spec = CustomChain.Spec(tok,
      filterNodes.map(CustomChain.parseFilter(_, normalizer, auxBad)))
    val ttype = if (tok == "standard") "<ALPHANUM>" else "word"
    val out = CustomChain.run(spec, text).map { case (t, s0, e0, p) =>
      mapper.createObjectNode().put("token", t)
        .put("start_offset", s0).put("end_offset", e0)
        .put("type", ttype).put("position", p).toString
    }
    s"""{"tokens": [${out.mkString(", ")}]}"""
  }

  /** POST /search/mget — ES `_mget`: `{"index", "ids": [...]}` →
    * docs in REQUEST order, `{"_id", "found"}` (+`_source` when
    * found). ONE distributed point-set filter — the id predicate
    * pushes to the scan — then a collect bounded by the ids list
    * (itself capped at maxHits). A concrete index is required: ids
    * are only unique per table (ES _mget addresses one index too). */
  private def mget(ex: HttpExchange, req: JsonNode): Unit =
    aux(ex) {
      val index = resolveIndex(textOr(req, "index", ""))
      if (index.isEmpty) auxBad("_mget needs \"index\"")
      if (index == "*" || index.endsWith("_*"))
        auxBad("_mget needs a concrete index (ids are per-table)")
      dslTarget(index) match {
        case None =>
          notFound(ex, "unknown index", index)
        case Some((df, ties)) =>
          val idsN = Option(req.get("ids")).filter(_.isArray)
            .getOrElse(auxBad("_mget needs an \"ids\" array"))
          if (idsN.size == 0) auxBad("_mget ids must not be empty")
          if (idsN.size > maxHits)
            auxBad(s"_mget ids capped at $maxHits")
          val ids = (0 until idsN.size).map(idsN.get(_).asText)
          val idName = ties.headOption.getOrElse(df.columns.head)
          val rows = df
            .filter(col(idName).cast("string").isInCollection(ids))
            .toJSON.collect()
          val byId = rows.flatMap { j =>
            Option(mapper.readTree(j).get(idName)).map(_.asText -> j)
          }.toMap
          val docs = ids.map { id =>
            val idJ = mapper.writeValueAsString(id)
            byId.get(id) match {
              case Some(src) =>
                s"""{"_id": $idJ, "found": true, "_source": $src}"""
              case None => s"""{"_id": $idJ, "found": false}"""
            }
          }
          respond(ex, 200, s"""{"docs": [${docs.mkString(", ")}]}""")
      }
    }

  /** POST /search/termvectors — ES `_termvectors`: one document's
    * per-field term vectors — term_freq plus per-occurrence
    * position/offsets — from a point lookup analyzed with the
    * engine's one analyzer. String fields only (term vectors are
    * defined over analyzed text); others reject by name. */
  private def termvectors(ex: HttpExchange, req: JsonNode): Unit =
    aux(ex) {
      val index = resolveIndex(textOr(req, "index", ""))
      if (index.isEmpty || index == "*" || index.endsWith("_*"))
        auxBad("_termvectors needs a concrete index")
      val id = textOr(req, "id", "")
      if (id.isEmpty) auxBad("_termvectors needs \"id\"")
      dslTarget(index) match {
        case None =>
          notFound(ex, "unknown index", index)
        case Some((df, ties)) =>
          val stringCols = df.schema.fields.collect {
            case f if f.dataType ==
              org.apache.spark.sql.types.StringType => f.name
          }.toSeq
          val fields: Seq[String] = Option(req.get("fields")) match {
            case None => stringCols
            case Some(n) if n.isArray =>
              val fs = (0 until n.size).map(n.get(_).asText)
              fs.filterNot(stringCols.contains).foreach(f =>
                auxBad(s"_termvectors field '$f' is not an analyzed " +
                  "text field of this index"))
              fs
            case Some(_) => auxBad("_termvectors fields must be an array")
          }
          val idName = ties.headOption.getOrElse(df.columns.head)
          val rows = df.filter(col(idName).cast("string") === id)
            .select(fields.map(col): _*).limit(2).collect()
          if (rows.length > 1)
            auxBad(s"id '$id' is not unique in '$index'")
          val idJ = mapper.writeValueAsString(id)
          if (rows.isEmpty) {
            respond(ex, 200, s"""{"_id": $idJ, "found": false}""")
          } else {
            val row = rows.head
            val tv = mapper.createObjectNode()
            fields.zipWithIndex.foreach { case (f, i) =>
              val text = if (row.isNullAt(i)) "" else row.getString(i)
              val terms = tv.putObject(f).putObject("terms")
              Search.analyzeWithOffsets(text)
                .groupBy(_._1).toSeq.sortBy(_._1)
                .foreach { case (tok, occs) =>
                  val t = terms.putObject(tok)
                  t.put("term_freq", occs.size)
                  val arr = t.putArray("tokens")
                  occs.foreach { case (_, s0, e0, p) =>
                    arr.addObject().put("position", p)
                      .put("start_offset", s0).put("end_offset", e0)
                    ()
                  }
                }
            }
            respond(ex, 200, s"""{"_id": $idJ, "found": true, ${""
              }"term_vectors": $tv}""")
          }
      }
    }

  /** POST /search/explain — ES `_explain`: does `id` match `query`,
    * and with what score? The query compiles EXACTLY as a search —
    * the score statistics stay corpus-wide — narrowed to the one
    * document by an injected ids post_filter, so the reported score
    * is bit-identical to the document's score in the full search
    * response. */
  private def explainDoc(ex: HttpExchange, req: JsonNode): Unit =
    aux(ex) {
      val unknown = jsonKeys(req)
        .filterNot(Set("index", "id", "query"))
      if (unknown.nonEmpty)
        auxBad(s"unsupported _explain body key" +
          s"${if (unknown.size == 1) "" else "s"}: " +
          unknown.mkString(", "))
      val index = resolveIndex(textOr(req, "index", ""))
      if (index.isEmpty || index == "*" || index.endsWith("_*"))
        auxBad("_explain needs a concrete index")
      val idN = Option(req.get("id")).filter(!_.isNull)
        .getOrElse(auxBad("_explain needs \"id\""))
      val qN = Option(req.get("query")).filter(!_.isNull)
        .getOrElse(auxBad("_explain needs \"query\""))
      dslTarget(index) match {
        case None =>
          notFound(ex, "unknown index", index)
        case Some((df, ties)) =>
          val built = mapper.createObjectNode()
          built.set[com.fasterxml.jackson.databind.node.ObjectNode](
            "query", qN)
          built.putObject("post_filter").putObject("ids")
            .putArray("values").add(idN)
          built.put("size", 1)
          val (page, _) = EsDsl.searchParts(df, built, ties,
            statsIdxFor(index, req), Some(dslTarget _),
            relationsFor(index))
          val rows = page.collect()
          val idJ = mapper.writeValueAsString(idN.asText)
          if (rows.isEmpty)
            respond(ex, 200, s"""{"_id": $idJ, "matched": false}""")
          else {
            val score = rows.head.getAs[Double]("_score")
            respond(ex, 200,
              s"""{"_id": $idJ, "matched": true, "explanation": ${""
                }{"value": $score, "description": "sum of clause ${""
                }scores (match family: BM25 over corpus statistics; ${""
                }documented count families otherwise)"}}""")
          }
      }
    }

  private def advancedSearch(ex: HttpExchange, req: JsonNode): Unit = {
    // a body carrying "query" is an ES-DSL search request — the exact
    // shape the reference forwards verbatim to ES
    // (src/search_api.py:38-46); translate its supported core to a
    // Catalyst plan (serving/EsDsl) over the named table (default: the
    // documents corpus). An unsupported construct is the caller's
    // error: EsDsl names it in a 400, never returns a wrong result.
    if (req.hasNonNull("query") || req.hasNonNull("suggest") ||
        req.hasNonNull("knn")) {
      // a `pit` section pins the search to a point-in-time token: the
      // index comes FROM the pit (ES 400s a pit combined with an
      // index), and a stale pinned generation forces the scan route
      // over the unchanged snapshot ([[openPit]] doc).
      Option(req.get("pit")).filter(!_.isNull).foreach { pitNode =>
        try {
          if (req.hasNonNull("index"))
            auxBad("pit cannot be combined with index")
          if (req.hasNonNull("scroll"))
            auxBad("pit cannot be combined with scroll")
          val (pitIndex, pinnedGen) = decodePit(pitNode)
          dslTarget(pitIndex) match {
            case None =>
              respond(ex, 404,
                s"""{"error": "pit index '$pitIndex' is gone"}""")
            case Some((df, ties)) =>
              val clean = req
                .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
              clean.remove("pit")
              respond(ex, 200, dslSearchJson(pitIndex, df, ties, clean,
                allowProbe = pinnedGen == currentGen(pitIndex)))
          }
        } catch {
          case e: IllegalArgumentException =>
            respond(ex, 400, mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
          case e: org.apache.spark.sql.AnalysisException =>
            respond(ex, 400, mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
        }
        return
      }
      // index "*" / data_lake_* = the union document view, the exact
      // target the reference's passthrough queries (its es_connector
      // always searches index_prefix*) — and therefore the DEFAULT: a
      // verbatim reference body with no "index" field must hit the same
      // corpus the reference would. A named table addresses that table
      // directly. The union's pagination tiebreak needs BOTH id columns
      // — document_ids can collide across entities.
      val index = resolveIndex(textOr(req, "index", "*"))
      dslTarget(index) match {
        case None =>
          notFound(ex, "unknown index", index)
        case Some((df, ties)) =>
          try {
            // ?scroll-style cursoring: a body carrying "scroll" opens
            // a stateless deep-export cursor ([[scrollContinue]])
            if (req.hasNonNull("scroll")) {
              scrollStart(ex, req, index, df, ties)
              return
            }
            respond(ex, 200, dslSearchJson(index, df, ties, req))
          } catch {
            case e: IllegalArgumentException =>
              respond(ex, 400, mapper.createObjectNode()
                .put("error", String.valueOf(e.getMessage)).toString)
            case e: org.apache.spark.sql.AnalysisException =>
              // a body referencing a column the translator could not
              // pre-validate (nested aggs paths, etc.) is the
              // CALLER's error — name it in a 400, never a 500
              respond(ex, 400, mapper.createObjectNode()
                .put("error", String.valueOf(e.getMessage)).toString)
          }
      }
      return
    }
    val query = textOr(req, "sql", "")
    if (query.isEmpty) {
      respond(ex, 400, """{"error": "sql is required"}"""); return
    }
    val sqlHash = md5hex(query)
    val offset = textOr(req, "page_token", "") match {
      case "" => 0
      case tok =>
        // malformed tokens (bad base64, junk payload) are the CALLER's
        // error — same 400 as a sql-mismatched token, never a 500
        val parsed = scala.util.Try {
          val parts = new String(
            java.util.Base64.getUrlDecoder.decode(tok),
            StandardCharsets.UTF_8).split(":", 2)
          if (parts.length == 2 && parts(0) == sqlHash) parts(1).toInt
          else -1
        }.getOrElse(-1)
        if (parsed < 0) {
          respond(ex, 400,
            """{"error": "invalid page_token for this sql"}""")
          return
        }
        parsed
    }
    val df = Search.sql(spark, query)
    // the user's ORDER BY makes paging deterministic only when it is
    // the TOP-LEVEL order of the result — a Sort buried in a subquery
    // does not survive the outer operators, so it must not suppress
    // the engine's own total order
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
    def topSorted(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case pr: Project => topSorted(pr.child)
      case a: SubqueryAlias => topSorted(a.child)
      case g: GlobalLimit => topSorted(g.child)
      case l: LocalLimit => topSorted(l.child)
      case _ => false
    }
    val userSorted = topSorted(df.queryExecution.analyzed)
    val (pageable, tokenable) =
      if (userSorted) (df, true)
      else scala.util.Try(df.orderBy(df.columns.map(col): _*).toDF())
        .map((_, true)).getOrElse((df, false))
    hits(ex, if (offset > 0) pageable.offset(offset) else pageable,
      nextToken = () =>
        if (!tokenable) None
        else Some(java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
          s"$sqlHash:${offset + maxHits}".getBytes(StandardCharsets.UTF_8))),
      baseOffset = offset)
  }

  /** ES-shaped hits envelope: `{"hits": {"total": n, "hits": [...]}}` —
    * what the reference returns to its callers (search_api.py:36).
    *
    * Results are HARD-CAPPED at `maxHits` before the driver-side
    * collect: /search and the entity listings are top-k-limited
    * upstream, but /search/advanced passes arbitrary SQL, and
    * `SELECT * FROM documents` must return a bounded page — not
    * materialize the corpus in the serving JVM (ES itself pages its
    * hits, default 10 — src/es_connector.py:85-95). One extra row is
    * fetched to detect truncation; `"capped": true` plus the cap in the
    * envelope tells the caller to narrow the query or paginate. */
  private def hits(ex: HttpExchange, df: DataFrame,
                   nextToken: () => Option[String] = () => None,
                   baseOffset: Int = 0,
                   aggs: Option[(DataFrame, String)] = None,
                   suggest: Seq[(DataFrame, String)] = Nil): Unit =
    respond(ex, 200, hitsJson(df, nextToken, baseOffset, aggs, suggest))

  /** The hits-response JSON builder behind [[hits]] — shared with
    * `_msearch`, whose per-item responses embed in one envelope. */
  private def hitsJson(df: DataFrame,
                       nextToken: () => Option[String] = () => None,
                       baseOffset: Int = 0,
                       aggs: Option[(DataFrame, String)] = None,
                       suggest: Seq[(DataFrame, String)] = Nil)
      : String = {
    val rows = df.limit(maxHits + 1).toJSON.collect()
    val capped = rows.length > maxHits
    val page = if (capped) rows.take(maxHits) else rows
    // ES's `total` object: an exact count when the page holds every
    // hit, a LOWER BOUND (`relation: "gte"`) when capped — never the
    // page size masquerading as the corpus-wide total. On offset pages
    // the skipped rows count toward the query-wide total.
    val relation = if (capped) "gte" else "eq"
    val token = if (capped) nextToken() else None
    val tokenField = token
      .map(t => s""", "next_page_token": "$t"""").getOrElse("")
    // ES returns aggregations NEXT TO hits; buckets are the flat
    // relational bucket table (size-capped upstream by the agg
    // translator; maxHits bounds the serving collect regardless)
    val aggsField = aggs.map { case (bdf, name) =>
      val buckets = bdf.limit(maxHits).toJSON.collect()
      // the agg name is caller-controlled — JSON-escape it (the only
      // interpolated value not already serialized by Jackson)
      s""", "aggregations": {${mapper.writeValueAsString(name)}: ${""
        }{"buckets": [${buckets.mkString(", ")}]}}"""
    }.getOrElse("")
    // ES returns the suggest section NEXT TO hits in the same
    // response — one flat table per named suggester, keyed by its
    // body name (several suggesters ride one body, like ES)
    val suggestField =
      if (suggest.isEmpty) ""
      else suggest.map { case (sdf, name) =>
        val entries = sdf.limit(maxHits).toJSON.collect()
        s"${mapper.writeValueAsString(name)}: [${entries.mkString(", ")}]"
      }.mkString(""", "suggest": {""", ", ", "}")
    s"""{"hits": {"total": {"value": ${baseOffset + rows.length}, ${""
      }"relation": "$relation"}, "max_hits": $maxHits, ${""
      }"capped": $capped$tokenField, "hits": [${
      page.mkString(", ")}]}$aggsField$suggestField}"""
  }

  // -------------------------------------------------------------------
  // Entity CRUD / sync endpoints
  // -------------------------------------------------------------------

  /** One-row (or array) JSON body → DataFrame, schema inferred — the
    * serving-side analog of the reference building docs from request
    * dicts in the route files. Bounded by request size, never
    * corpus-sized. */
  private def bodyDf(node: JsonNode): DataFrame =
    spark.read.json(
      spark.createDataset(Seq(node.toString))(Encoders.STRING))

  /** POST /{entity} — validate + default + lineage, then upsert into the
    * entity's document index (reference `add_*`: prepare_entity_data →
    * index, src/routes/ticket_routes.py:98-137). Missing id → minted
    * uuid (src/utils.py:99-111). The document derives through the SAME
    * [[deriveDocs]] the bulk endpoint's index action uses. */
  private def insertOne(ex: HttpExchange, spec: EntitySpec,
                        req: JsonNode): Unit = {
    if (!req.isObject) {
      respond(ex, 400, """{"error": "expected a JSON object"}"""); return
    }
    deriveDocs(spec, Seq((None, req)),
        DocumentSink.lineSchema(spark, s"$outDir/${spec.name}")).head match {
      case Left(MissingFields(missing)) =>
        respond(ex, 400, s"""{"error": "missing required fields: ${
          missing.mkString(", ")}"}""")
      case Left(NullRequired) =>
        respond(ex, 400, """{"error": "validation failed"}""")
      case Left(u: Unparsable) =>
        respond(ex, 400, mapper.createObjectNode()
          .put("error", u.reason).toString)
      case Right((row, schema)) =>
        DocumentSink.upsert(spark.createDataFrame(
          java.util.Arrays.asList(row), schema), s"$outDir/${spec.name}")
        val id = row.getAs[Any](schema.fieldIndex("document_id"))
        respond(ex, 201, s"""{"result": "created", "document_id": ${
          mapper.writeValueAsString(String.valueOf(id))}}""")
    }
  }

  /** POST /{entity}/batch — bulk insert with the reference's per-item
    * error contract (`add_*_batch` + bulk raise_on_error=False,
    * src/routes/ticket_routes.py:139-210): valid rows index, invalid
    * rows are counted and reported, the request never fails wholesale. */
  private def insertBatch(ex: HttpExchange, spec: EntitySpec,
                          req: JsonNode): Unit = {
    if (!req.isArray || req.size() == 0) {
      respond(ex, 400, """{"error": "expected a non-empty JSON array"}""")
      return
    }
    val raw = bodyDf(req)
    val missing = spec.requiredCols.filterNot(raw.columns.contains)
    if (missing.nonEmpty) {
      respond(ex, 400, s"""{"error": "missing required fields: ${
        missing.mkString(", ")}"}""")
      return
    }
    val valid = raw.filter(EntityCatalog.validPredicate(spec))
    val errors = req.size() - valid.count()
    val docs = EntityCatalog.pipeline(valid, spec, runTs)
      .withColumn("document_id",
        col(s"${spec.name}_${spec.idCol}").cast("string"))
    if (!docs.isEmpty) DocumentSink.upsert(docs, s"$outDir/${spec.name}")
    respond(ex, 200,
      s"""{"indexed": ${req.size() - errors}, "errors": $errors}""")
  }

  // -------------------------------------------------------------------
  // POST /_bulk — ES's bulk wire (the endpoint the reference's client
  // speaks: elasticsearch.helpers.bulk with raise_on_error=False,
  // src/es_connector.py:51-74): ndjson action/source line pairs over
  // index/create/update/delete, applied IN ORDER with per-item status
  // slots — a failing item never fails the request wholesale. The
  // cost follows the entities and document schemas a request touches,
  // not its action count: index/create sources derive in one Spark job
  // per (entity, inferred document schema) ([[deriveDocs]]), the
  // in-order walk is driver work over request-bounded probes, and each
  // touched entity's net upserts and deletes land as ONE delta
  // generation ([[DocumentSink.write]]).
  // -------------------------------------------------------------------

  /** A pinned stored document and its row schema. */
  private type Doc = (org.apache.spark.sql.Row,
                      org.apache.spark.sql.types.StructType)

  private final case class BulkAct(op: String, entity: String,
                                   id: Option[String],
                                   source: Option[JsonNode])

  /** Parse the ndjson frame. Structural errors (malformed JSON, a
    * missing source line, an unknown op) reject the WHOLE request —
    * ES 400s a malformed bulk body the same way; only per-DOCUMENT
    * failures get item slots. */
  private def parseBulk(defaultIndex: Option[String],
                        raw: String): Seq[BulkAct] = {
    val lines = raw.split("\n", -1).map(_.trim)
      .reverse.dropWhile(_.isEmpty).reverse.toSeq
    if (lines.isEmpty) auxBad("bulk expects ndjson action/source lines")
    val acts = scala.collection.mutable.ArrayBuffer.empty[BulkAct]
    var i = 0
    while (i < lines.length) {
      val node =
        try mapper.readTree(lines(i))
        catch { case e: com.fasterxml.jackson.core.JacksonException =>
          auxBad(s"malformed bulk line ${i + 1}: ${e.getMessage}") }
      if (!node.isObject || node.size() != 1)
        auxBad(s"bulk action line ${i + 1} must hold exactly one of " +
          "index/create/update/delete")
      val op = node.fieldNames().next()
      if (!Set("index", "create", "update", "delete").contains(op))
        auxBad(s"unsupported bulk op '$op'")
      val meta = node.get(op)
      val entity = resolveIndex(
        textOr(meta, "_index", defaultIndex.getOrElse("")))
      if (entity.isEmpty)
        auxBad(s"bulk action line ${i + 1} needs \"_index\" " +
          "(no default index on /_bulk)")
      val id = Option(meta.get("_id")).map(_.asText).filter(_.nonEmpty)
      val source =
        if (op == "delete") None
        else {
          i += 1
          if (i >= lines.length || lines(i).isEmpty)
            auxBad(s"missing source line for '$op'")
          val s =
            try mapper.readTree(lines(i))
            catch { case e: com.fasterxml.jackson.core.JacksonException =>
              auxBad(s"malformed bulk source line ${i + 1}: " +
                e.getMessage) }
          // update wraps the partial document: {"doc": {...}}
          if (op == "update") {
            val doc = s.get("doc")
            if (doc == null || !doc.isObject)
              auxBad("bulk update source must be {\"doc\": {...}}")
            Some(doc)
          } else if (!s.isObject)
            auxBad(s"bulk source line ${i + 1} must be a JSON object")
          else Some(s)
        }
      acts += BulkAct(op, entity, id, source)
      i += 1
    }
    acts.toSeq
  }

  /** Validate + default + pipeline an entity's source documents into
    * pinned stored documents, one result per source in input order;
    * `(id, source)` carries an explicit `_id` that lands in the entity
    * id column. Per-document semantics are those of reading each
    * source alone with `spark.read.json`: every document keeps the
    * schema Spark infers for it by itself (inferred here on the
    * driver, [[JsonSchemas.inferOne]]), and the documents are derived
    * in ONE Spark job per distinct inferred schema — never merged
    * across schemas, so an integral and a fractional value of one
    * field stay LONG and DOUBLE. Required keys are checked from each
    * schema (no job), null required values are a validity column (no
    * filter, so each collected row maps back to its source), and the
    * collect pins minted uuids before any write. Where the store's
    * `line` already holds a derived column, the value is cast to the
    * stored type, so a request's generations never disagree with the
    * line on a column's type (parquet schema merge fails on that);
    * a value the cast turns to null is the document's
    * [[Unparsable]]. */
  private def deriveDocs(spec: EntitySpec,
                         srcs: Seq[(Option[String], JsonNode)],
                         line: Option[org.apache.spark.sql.types.StructType])
      : Seq[Either[Underived, Doc]] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.sql.catalyst.expressions.Cast
    val texts = srcs.map(_._2.toString)
    val schemas = texts.map(JsonSchemas.inferOne(spark, _))
    val out = new Array[Either[Underived, Doc]](srcs.size)
    srcs.indices.groupBy(schemas).foreach { case (schema, idxs) =>
      val missing = spec.requiredCols
        .filterNot((schema.fieldNames :+ spec.idCol).contains)
      if (missing.nonEmpty)
        idxs.foreach(i => out(i) = Left(MissingFields(missing)))
      else {
        // each source rides an envelope with its explicit `_id`, so the
        // override is a column and never a key of the document
        val env = spark.read
          .schema(StructType(Seq(StructField("id", StringType),
            StructField("doc", schema))))
          .json(spark.createDataset(idxs.map { i =>
            val e = mapper.createObjectNode()
            srcs(i)._1.foreach(e.put("id", _))
            e.set[JsonNode]("doc", srcs(i)._2)
            e.toString
          })(Encoders.STRING))
        val fields = schema.fieldNames.toSeq.map { f =>
          (if (f == spec.idCol) coalesce(col("id"),
             col("doc").getField(f).cast("string"))
           else col("doc").getField(f)).as(f)
        }
        val raw = env.select((
          if (schema.fieldNames.contains(spec.idCol)) fields
          else fields :+ col("id").as(spec.idCol)): _*)
        val docs = EntityCatalog.documents(
            EntityCatalog.defaulted(raw, spec), spec, runTs)
          .withColumn("document_id",
            col(s"${spec.name}_${spec.idCol}").cast("string"))
        val stored = line.map(_.fields.map(f => f.name -> f.dataType).toMap)
          .getOrElse(Map.empty)
        val recast = docs.schema.fields.toSeq.collect {
          case f if stored.get(f.name).exists(_ != f.dataType) =>
            val to = stored(f.name)
            f.name -> (if (Cast.canTryCast(f.dataType, to))
              col(f.name).try_cast(to) else lit(null).cast(to))
        }
        val docCols = docs.columns.toSeq.map(c => recast
          .collectFirst { case (`c`, v) => v }.getOrElse(col(c)).as(c))
        // validity and cast failures read the UNCAST columns; the check
        // struct's name cannot collide with a namespaced document column
        val checks = spec.requiredCols
          .map(c => col(s"${spec.name}_$c").isNotNull).reduce(_ && _) +:
          recast.map { case (c, v) => col(c).isNotNull && v.isNull }
        val rows = docs
          .select(docCols :+ struct(checks: _*).as("_check"): _*)
          .collect()
        val docSchema = docs.select(docCols: _*).schema
        require(rows.length == idxs.size, "one derived row per source")
        idxs.zip(rows).foreach { case (i, r) =>
          val check = r.getStruct(r.length - 1)
          out(i) =
            if (!check.getBoolean(0)) Left(NullRequired)
            else recast.indices.find(j => check.getBoolean(j + 1)) match {
              case Some(j) =>
                Left(Unparsable(recast(j)._1, stored(recast(j)._1)))
              case None => Right((org.apache.spark.sql.Row.fromSeq(
                r.toSeq.init), docSchema))
            }
        }
      }
    }
    out.toSeq
  }

  /** Shallow-merge an update's `doc` fields into the stored row — ES
    * `_update` partial-document semantics over the synced store's
    * namespaced columns. Unknown columns, IDENTITY columns
    * (document_id / the namespaced id / the `table` discriminator —
    * ES's _update cannot change _id either; rewriting them here would
    * fork the row under a new id while reporting an update) and
    * non-scalar values are the item's error (the store's schema is
    * the mapping). */
  private def bulkMerge(spec: EntitySpec,
                        base: (org.apache.spark.sql.Row,
                               org.apache.spark.sql.types.StructType),
                        doc: JsonNode)
      : Either[String, (org.apache.spark.sql.Row,
                        org.apache.spark.sql.types.StructType)] = {
    import org.apache.spark.sql.types._
    val identity =
      Set("document_id", "table", s"${spec.name}_${spec.idCol}")
    val (row, schema) = base
    val values = row.toSeq.toArray
    val names = doc.fieldNames()
    while (names.hasNext) {
      val key = names.next()
      val idx = schema.fieldNames.indexOf(key)
      if (idx < 0)
        return Left(s"unknown field '$key' (not in the mapping)")
      val v = doc.get(key)
      if (identity(key)) {
        // a read-modify-write client ECHOES the fetched document —
        // an identity key carrying the UNCHANGED value is a no-op,
        // only an actual re-id rejects
        val same = !v.isNull && values(idx) != null &&
          v.asText == String.valueOf(values(idx))
        if (!same)
          return Left(s"field '$key' is the document identity " +
            "— an update cannot re-id a document (delete + index)")
      } else {
        val coerced: Either[String, Any] =
          if (v.isNull) Right(null)
          else schema.fields(idx).dataType match {
            case StringType => Right(v.asText)
            case LongType => Right(v.asLong)
            case IntegerType => Right(v.asInt)
            case DoubleType => Right(v.asDouble)
            case FloatType => Right(v.asDouble.toFloat)
            case BooleanType => Right(v.asBoolean)
            case dt => Left(s"field '$key': cannot coerce to " +
              dt.simpleString)
          }
        coerced match {
          case Left(err) => return Left(err)
          case Right(x) => values(idx) = x
        }
      }
    }
    Right((org.apache.spark.sql.Row.fromSeq(values.toSeq), schema))
  }

  /** POST /{entity}/_update/{id} — ES's single-document `_update`
    * wire: `{"doc": {...}}` shallow-merges over the stored namespaced
    * columns through the SAME [[bulkMerge]] machinery the bulk
    * endpoint's update action uses (identity columns and unknown
    * fields reject by name); a missing document is a named 404, like
    * ES's document_missing_exception. */
  private def updateOne(ex: HttpExchange, spec: EntitySpec, id: String,
                        req: JsonNode): Unit = writeLock.synchronized {
    val unknown = jsonKeys(req).filterNot(_ == "doc")
    if (unknown.nonEmpty)
      auxBad(s"unsupported _update key${
        if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val doc = Option(req.get("doc")).filter(_.isObject)
      .getOrElse(auxBad("_update expects {\"doc\": {...}}"))
    lookup(spec.name, Seq(id)) match {
      case None => respond(ex, 404,
        s"""{"error": "no synced index for '${spec.name}'"}""")
      case Some(df) =>
        val rows = df.collect()
        if (rows.isEmpty)
          respond(ex, 404, mapper.createObjectNode()
            .put("error", s"document '$id' not found").toString)
        else bulkMerge(spec, (rows.head, df.schema), doc) match {
          case Left(reason) =>
            respond(ex, 400, mapper.createObjectNode()
              .put("error", reason).toString)
          case Right((row, schema)) =>
            DocumentSink.upsert(spark.createDataFrame(
              java.util.Arrays.asList(row), schema),
              s"$outDir/${spec.name}")
            val (v, s) = bumpOne(spec.name, id)
            respond(ex, 200,
              s"""{"result": "updated", "document_id": ${
                mapper.writeValueAsString(id)}, "_version": $v, ${""
                }"_seq_no": $s, "_primary_term": 1}""")
        }
    }
  }

  /** DELETE /{entity}/{id} — single-document delete on the synced
    * store (ES's DELETE /{index}/_doc/{id}): 200 deleted / 404
    * not_found, through the same delete swap + index-delta machinery
    * the by-query and bulk paths use. */
  private def deleteOne(ex: HttpExchange, spec: EntitySpec,
                        id: String): Unit = writeLock.synchronized {
    lookup(spec.name, Seq(id)) match {
      case None => respond(ex, 404,
        s"""{"error": "no synced index for '${spec.name}'"}""")
      case Some(df) =>
        if (df.isEmpty) {
          // ES writes a tombstone even for a missing id: the 404 still
          // bumps _version/_seq_no — same as the bulk route's
          // not_found delete (base 0 for a never-stored id).
          val (v, s) = bumpOne(spec.name, id, unseenBase = 0L)
          respond(ex, 404, s"""{"result": "not_found", "_version": $v, ${""
            }"_seq_no": $s, "_primary_term": 1}""")
        } else {
          import spark.implicits._
          DocumentSink.deleteByIds(Seq(id).toDF("document_id"),
            s"$outDir/${spec.name}")
          val (v, s) = bumpOne(spec.name, id)
          respond(ex, 200, s"""{"result": "deleted", "_version": $v, ${""
            }"_seq_no": $s, "_primary_term": 1}""")
        }
    }
  }

  /** POST /_bulk and /{entity}/_bulk. Items apply in request order
    * (a later op on the same id sees the earlier one's effect); the
    * response mirrors ES's full wire: `{"took", "errors", "items":
    * [{"<op>": {"_index", "_id", "_version", "result", "_shards",
    * "_seq_no", "_primary_term", "status"} | {..., "error"}}]}`.
    * Every completed write op — index, create, update, delete,
    * including a not_found delete (ES writes a tombstone) — bumps the
    * document's `_version` and takes a fresh index-monotonic
    * `_seq_no`; failed items (400/404/409) take neither, like ES.
    * Serialized by [[writeLock]]: the store's generation swap and the
    * version sidecar are not concurrent-safe, and ES likewise
    * serializes writes per shard. */
  private def bulk(ex: HttpExchange, defaultIndex: Option[String],
                   raw: String): Unit = writeLock.synchronized {
    val t0 = System.nanoTime()
    val acts = parseBulk(defaultIndex, raw)
    val byEntity = acts.groupBy(_.entity)
    // each touched entity's recorded line schema types the derived
    // documents (no plan, no read)
    val lineSchema = byEntity.keys.filter(EntityCatalog.entities.contains)
      .map(e => e -> DocumentSink.lineSchema(spark, s"$outDir/$e")).toMap
    // PHASE 1 — derive every index/create action's pinned document
    // up front (validate/default/pipeline; side-effect-free), so the
    // store probe below sees DERIVED ids too: a create whose id rides
    // the SOURCE body (no explicit _id) must still 409 against an
    // existing doc, and an index must report created vs updated
    // truthfully. One [[deriveDocs]] call per entity — one Spark job
    // per distinct document schema, not per action. Keyed by action
    // position (several actions may share an id).
    val derived: Map[Int, Either[Underived, Doc]] =
      acts.zipWithIndex.filter { case (a, _) =>
        (a.op == "index" || a.op == "create") &&
          EntityCatalog.entities.contains(a.entity)
      }.groupBy(_._1.entity).flatMap { case (entity, group) =>
        group.map(_._2).zip(deriveDocs(EntityCatalog.entities(entity),
          group.map { case (a, _) => (a.id, a.source.get) },
          lineSchema(entity)))
      }
    def derivedId(i: Int): Option[String] = derived.get(i).flatMap {
      case Right((row, schema)) => Some(String.valueOf(
        row.getAs[Any](schema.fieldIndex("document_id"))))
      case Left(_) => None
    }
    // PHASE 2 — one request-bounded store probe per touched entity:
    // which of the request's ids (explicit AND derived) exist, and
    // their rows (update bases) — the id lookup, never a corpus
    // collect
    val stored = scala.collection.mutable.Map.empty[(String, String), Doc]
    val storedIds = scala.collection.mutable.Set.empty[(String, String)]
    for ((entity, _) <- byEntity
         if EntityCatalog.entities.contains(entity)) {
      val ids = acts.zipWithIndex.collect {
        case (a, i) if a.entity == entity =>
          a.id.orElse(derivedId(i))
      }.flatten.distinct
      if (ids.nonEmpty) lookup(entity, ids).foreach { df =>
        df.collect().foreach { r =>
          val id = String.valueOf(r.getAs[Any]("document_id"))
          storedIds += ((entity, id))
          stored((entity, id)) = (r, df.schema)
        }
      }
    }
    // PHASE 2b — the same request-bounded probe against the VERSION
    // sidecar: current version per touched id (explicit and derived),
    // plus each entity's next sequence number. One id-list filter per
    // entity, never a corpus read.
    val baseVer =
      scala.collection.mutable.Map.empty[(String, String), Long]
    val seqCtr = scala.collection.mutable.Map.empty[String, Long]
    for ((entity, _) <- byEntity
         if EntityCatalog.entities.contains(entity)) {
      val ids = acts.zipWithIndex.collect {
        case (a, i) if a.entity == entity =>
          a.id.orElse(derivedId(i))
      }.flatten.distinct
      val path = s"$outDir/$entity"
      DocumentSink.readVersions(spark, path, ids).foreach {
        case (id, (v, _)) => baseVer((entity, id)) = v }
      seqCtr(entity) = DocumentSink.nextSeqNo(path)
    }
    // PHASE 3 — the in-order walk: `state` carries each touched id's
    // CURRENT doc (None = deleted this request); absent key = whatever
    // the store holds. `vstate` carries its CURRENT (version, seq_no):
    // a doc in the store with no sidecar row is version 1 (written
    // once, by the batch sync); an id never seen is 0, so its first
    // bump lands on 1. Every mutation is request-bounded driver work.
    val state = scala.collection.mutable.Map.empty[(String, String),
                                                   Option[Doc]]
    val vstate = scala.collection.mutable.Map.empty[(String, String),
                                                    (Long, Long)]
    def liveDoc(k: (String, String)): Option[Doc] =
      state.getOrElse(k, stored.get(k))
    def exists(k: (String, String)): Boolean = liveDoc(k).isDefined
    def curVer(k: (String, String)): Long =
      vstate.get(k).map(_._1).getOrElse(baseVer.getOrElse(k,
        if (stored.contains(k)) 1L else 0L))
    def bump(k: (String, String)): (Long, Long) = {
      val v = curVer(k) + 1
      val s = seqCtr(k._1)
      seqCtr(k._1) = s + 1
      vstate(k) = (v, s)
      (v, s)
    }
    val items = acts.zipWithIndex.map { case (a, ai) =>
      // every caller-controlled value is Jackson-escaped — _index
      // included (an unknown entity echoes the raw request string).
      // `item` = a COMPLETED write op, so it is exactly the bump
      // boundary; `errItem` = a failed op (no version, no seq_no).
      // The Boolean is the structural errors flag — carried alongside
      // the rendered JSON, never re-derived by scanning it.
      def item(id: String, status: Int, result: String):
          (String, Boolean) = {
        val (v, s) = bump((a.entity, id))
        (s"""{"${a.op}": {"_index": ${
          mapper.writeValueAsString(a.entity)}, "_id": ${
          mapper.writeValueAsString(id)}, "_version": $v, ${""
          }"result": "$result", "_shards": {"total": 1, ${""
          }"successful": 1, "failed": 0}, "_seq_no": $s, ${""
          }"_primary_term": 1, "status": $status}}""", false)
      }
      def errItem(id: String, status: Int, tpe: String,
                  reason: String): (String, Boolean) =
        (s"""{"${a.op}": {"_index": ${
          mapper.writeValueAsString(a.entity)}, "_id": ${
          mapper.writeValueAsString(id)}, "status": $status, ${""
          }"error": {"type": "$tpe", "reason": ${
          mapper.writeValueAsString(reason)}}}}""", true)
      EntityCatalog.entities.get(a.entity) match {
        case None =>
          errItem(a.id.getOrElse(""), 404, "index_not_found_exception",
            s"unknown entity '${a.entity}'")
        case Some(spec) => a.op match {
          case "index" | "create" =>
            derived(ai) match {
              case Left(MissingFields(missing)) =>
                errItem(a.id.getOrElse(""), 400, "validation_exception",
                  s"missing required fields: ${missing.mkString(", ")}")
              case Left(NullRequired) =>
                errItem(a.id.getOrElse(""), 400, "validation_exception",
                  "validation failed (null required field)")
              case Left(u: Unparsable) =>
                errItem(a.id.getOrElse(""), 400,
                  "mapper_parsing_exception", u.reason)
              case Right(doc) =>
                val id = String.valueOf(
                  doc._1.getAs[Any](doc._2.fieldIndex("document_id")))
                val k = (a.entity, id)
                if (a.op == "create" && exists(k))
                  errItem(id, 409, "version_conflict_engine_exception",
                    s"document '$id' already exists")
                else {
                  val was = exists(k)
                  state(k) = Some(doc)
                  if (was) item(id, 200, "updated")
                  else item(id, 201, "created")
                }
            }
          case "update" =>
            a.id match {
              case None => errItem("", 400, "action_request_" +
                "validation_exception", "update requires _id")
              case Some(id) =>
                val k = (a.entity, id)
                liveDoc(k) match {
                  case None =>
                    errItem(id, 404, "document_missing_exception",
                      s"document '$id' not found")
                  case Some(base) =>
                    bulkMerge(spec, base, a.source.get) match {
                      case Left(reason) =>
                        errItem(id, 400, "validation_exception", reason)
                      case Right(merged) =>
                        state(k) = Some(merged)
                        item(id, 200, "updated")
                    }
                }
            }
          case "delete" =>
            a.id match {
              case None => errItem("", 400, "action_request_" +
                "validation_exception", "delete requires _id")
              case Some(id) =>
                val k = (a.entity, id)
                if (!exists(k)) item(id, 404, "not_found")
                else { state(k) = None; item(id, 200, "deleted") }
            }
        }
      }
    }
    // batch-apply the NET effect: per entity, ONE store write — its
    // upserts (one frame per distinct row schema, since new documents
    // and merged store rows may differ, unioned by name) and the
    // tombstones of its deleted stored ids land as one delta
    // generation, so the store rewrite cost is O(entities touched),
    // not O(items)
    for ((entity, _) <- byEntity
         if EntityCatalog.entities.contains(entity)) {
      val touched = state.collect {
        case ((e, id), v) if e == entity => (id, v) }
      val upserts = touched.collect { case (_, Some(d)) => d }.toSeq
      val deletes = touched.collect {
        case (id, None) if storedIds((entity, id)) => id }.toSeq
      if (upserts.nonEmpty || deletes.nonEmpty) {
        import spark.implicits._
        DocumentSink.write(
          upserts.groupBy(_._2).map { case (schema, docs) =>
            spark.createDataFrame(
              java.util.Arrays.asList(docs.map(_._1): _*), schema)
          }.reduceOption(_.unionByName(_, allowMissingColumns = true)),
          Option.when(deletes.nonEmpty)(deletes.toDF("document_id")),
          s"$outDir/$entity")
      }
    }
    // persist version metadata AFTER the data swap (metadata trails
    // data: a crash between the two leaves versions one consistent
    // snapshot behind, never ahead) — one sidecar rewrite per touched
    // entity, entry count = ids written this request
    for ((entity, _) <- byEntity
         if EntityCatalog.entities.contains(entity)) {
      val entries = vstate.collect {
        case ((e, id), vs) if e == entity => id -> vs }.toMap
      if (entries.nonEmpty)
        DocumentSink.writeVersions(spark, s"$outDir/$entity",
          entries, seqCtr(entity))
    }
    val errors = items.exists(_._2)
    val took = math.max(1L, (System.nanoTime() - t0) / 1000000L)
    respond(ex, 200, s"""{"took": $took, "errors": $errors, ${""
      }"items": [${items.map(_._1).mkString(", ")}]}""")
  }

  /** Serializes every store-mutating endpoint: the parquet generation
    * swap and the version sidecar are single-writer structures (ES
    * likewise serializes writes per shard). Reads never take it. */
  private val writeLock = new Object

  /** Allocate the next version + seq_no for one doc and persist the
    * sidecar — the single-doc twin of the bulk walk's bump.
    * `unseenBase` mirrors the bulk walk's `curVer`: 1 when the doc is
    * in the store but predates the version wire (the default), 0 for
    * an id the store has never held (a not_found delete's tombstone
    * lands on version 1, like ES and the bulk route). */
  private def bumpOne(entity: String, id: String,
                      unseenBase: Long = 1L): (Long, Long) = {
    val path = s"$outDir/$entity"
    val v = DocumentSink.readVersions(spark, path, Seq(id))
      .get(id).map(_._1).getOrElse(unseenBase) + 1
    val s = DocumentSink.nextSeqNo(path)
    DocumentSink.writeVersions(spark, path, Map(id -> ((v, s))), s + 1)
    (v, s)
  }

  /** The entity's synced document index, if a sync has run. Reads serve
    * from the INDEX (like the reference's ES-backed GETs,
    * README-advertised listings), never the source of truth — serving
    * and extraction stay decoupled. Since round 17 the store is
    * log-structured, so reads go through [[graft.sinks.DocumentSink
    * .readOpt]]'s resolved line (base ∪ API-write delta generations,
    * latest wins, tombstones dropped). */
  private def index(entity: String): Option[DataFrame] =
    graft.sinks.DocumentSink.readOpt(spark, s"$outDir/$entity")

  /** GET /{entity}?limit=N&after=ID — list synced documents (hits
    * envelope), document_id-ordered; `after` is the last document_id of
    * the previous page (the same search_after contract as /search). */
  private def listDocs(ex: HttpExchange, entity: String): Unit =
    index(entity) match {
      case None =>
        notFound(ex, "no synced index for", entity)
      case Some(df) =>
        val query = Option(ex.getRequestURI.getQuery)
        val limit = query
          .flatMap(q => "limit=(\\d+)".r.findFirstMatchIn(q))
          .map(_.group(1).toInt).getOrElse(100)
        val after = query
          .flatMap(q => "after=([^&]+)".r.findFirstMatchIn(q))
          .map(_.group(1))
        val page = after.foldLeft(df)((d, id) =>
          d.filter(col("document_id") > id))
        hits(ex, page.orderBy(col("document_id")).limit(limit))
    }

  /** The entity store's current rows of `ids` — the one id-lookup
    * path of point reads ([[graft.sinks.DocumentSink.lookup]]), as a
    * local frame whose `collect()` runs no job; None if no sync has
    * run. */
  private def lookup(entity: String, ids: Seq[String]): Option[DataFrame] =
    DocumentSink.lookup(spark, s"$outDir/$entity", ids)

  /** GET /{entity}/{id} — point read by document_id from the index.
    * The lookup's one scan job is the request's only job: its rows
    * are a local frame, so the `to_json` projection (the same
    * generator, options and column order `toJSON` uses) folds on the
    * driver. */
  private def getDoc(ex: HttpExchange, entity: String, id: String): Unit =
    lookup(entity, Seq(id)) match {
      case None =>
        notFound(ex, "no synced index for", entity)
      case Some(df) =>
        val rows = df.select(to_json(struct(col("*"))))
          .collect().map(_.getString(0))
        if (rows.isEmpty)
          respond(ex, 404, mapper.createObjectNode()
            .put("error", s"document '$id' not found").toString)
        else respond(ex, 200, rows.head)
    }

  /** PUT /search/aliases/{alias} — `{"index": ...}`: register an
    * alias for a concrete index name (a registered table, an entity,
    * or the wildcard). An alias may not shadow a real name and may
    * not point at another alias — ES rejects alias cycles the same
    * way; one level keeps resolution O(1) and loop-free. */
  private def putAlias(ex: HttpExchange, alias: String,
                       req: JsonNode): Unit = {
    val unknown = jsonKeys(req).filterNot(Set("index"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported alias key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val target = textOr(req, "index", "")
    if (target.isEmpty) auxBad("alias needs \"index\"")
    // the NAME itself must not be routable syntax: '*'/'_*' would
    // hijack every defaulted wildcard request, ',' breaks comma-list
    // parsing (ES rejects '*' and ',' in alias names too)
    if (alias.isEmpty || alias.contains("*") || alias.contains(","))
      auxBad(s"invalid alias name '$alias' ('*' and ',' are reserved)")
    if (Tables.names.contains(alias) ||
        EntityCatalog.entities.contains(alias))
      auxBad(s"'$alias' is a real index name — aliases may not shadow")
    if (aliasStore.containsKey(target))
      auxBad(s"alias target '$target' is itself an alias")
    val known = target == "*" || target.endsWith("_*") ||
      Tables.names.contains(target) ||
      EntityCatalog.entities.contains(target)
    if (!known) auxBad(s"unknown alias target '$target'")
    aliasStore.put(alias, target)
    respond(ex, 200, s"""{"acknowledged": true, "alias": ${
      mapper.writeValueAsString(alias)}}""")
  }

  private def listAliases(ex: HttpExchange): Unit = {
    val node = mapper.createObjectNode()
    aliasStore.forEach((a, t) => { node.put(a, t); () })
    respond(ex, 200, node.toString)
  }

  private def deleteAlias(ex: HttpExchange, alias: String): Unit =
    if (aliasStore.remove(alias) != null)
      respond(ex, 200, """{"acknowledged": true}""")
    else notFound(ex, "unknown alias", alias)

  /** POST /{entity}/update_by_query — ES `_update_by_query`:
    * `{"query": {...}, "script": "ctx._source.f = <expr>"}` mutates
    * the SYNCED DOCUMENT STORE (never the source of truth): the
    * query compiles to the filter-context match set
    * ([[EsDsl.matchingIds]]), the script's `;`-separated assignments
    * (the Painless arithmetic subset + ctx._source refs) rewrite the
    * matched rows, and the batch funnels through
    * [[DocumentSink.upsert]]'s replace-by-id path — so the adjacent
    * search index delta-updates exactly as REST upserts do. */
  private def updateByQuery(ex: HttpExchange, spec: EntitySpec,
                            req: JsonNode): Unit = {
    val unknown = jsonKeys(req).filterNot(Set("query", "script"))
    if (unknown.nonEmpty)
      auxBad(s"unsupported update_by_query key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val df = index(spec.name).getOrElse(
      auxBad(s"no synced index for '${spec.name}'"))
    val scriptSrc = Option(req.get("script")) match {
      case Some(n) if n.isTextual => n.asText
      case Some(n) if n.isObject &&
          jsonKeys(n).forall(Set("source", "params")) =>
        textOr(n, "source", "")
      case Some(_) => auxBad("malformed script")
      case None => auxBad("update_by_query needs \"script\"")
    }
    if (scriptSrc.isEmpty) auxBad("empty update script")
    val params: Map[String, org.apache.spark.sql.Column] =
      Option(req.get("script")).filter(_.isObject)
        .flatMap(n => Option(n.get("params"))).map { pn =>
          if (!pn.isObject) auxBad("script params must be an object")
          jsonKeys(pn).map { k =>
            val v = pn.get(k)
            if (!v.isNumber) auxBad(s"script params.$k must be numeric")
            k -> (if (v.isIntegralNumber) lit(v.asLong)
                  else lit(v.asDouble))
          }.toMap
        }.getOrElse(Map.empty)
    val Assign = """ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
    val fieldRef: String => org.apache.spark.sql.Column = f => {
      if (!df.columns.contains(f)) auxBad(s"unknown field '$f'")
      col(f)
    }
    val assigns: Seq[(String, org.apache.spark.sql.Column)] =
      scriptSrc.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map {
        case Assign(f, expr) =>
          if (!df.columns.contains(f))
            auxBad(s"unknown field '$f'")
          f -> (try BucketScript.compile(expr, params,
              fieldRef = Some(fieldRef)) catch {
            case e: BucketScript.ScriptError => auxBad(e.msg)
          })
        case other => auxBad(s"unsupported update statement '$other' " +
          "(ctx._source.<field> = <expr>)")
      }
    if (assigns.isEmpty) auxBad("update script assigns nothing")
    val queryBody = mapper.createObjectNode()
    Option(req.get("query")).foreach(q =>
      queryBody.set[JsonNode]("query", q))
    val ids = EsDsl.matchingIds(df, queryBody, "document_id")
    val matched = df.join(ids, Seq("document_id"))
    val updated = assigns.foldLeft(matched) { case (d, (f, c)) =>
      // preserve the column's stored type: ES keeps the mapping
      d.withColumn(f, c.cast(d.schema(f).dataType))
    }.persist() // count + data rewrite + index delta pay the match
                // query ONCE, and the snapshot is pinned pre-mutation
    try {
      val n = updated.count()
      if (n > 0) DocumentSink.upsert(updated, s"$outDir/${spec.name}")
      respond(ex, 200, s"""{"updated": $n}""")
    } finally { updated.unpersist(); () }
  }

  /** POST /{entity}/delete_by_query — ES `_delete_by_query`: drop
    * the query's match set from the synced document store; the
    * adjacent search index subtracts the same ids through the
    * integer-delta machinery ([[DocumentSink.deleteByIds]]). */
  private def deleteByQuery(ex: HttpExchange, spec: EntitySpec,
                            req: JsonNode): Unit = writeLock.synchronized {
    val df = index(spec.name).getOrElse(
      auxBad(s"no synced index for '${spec.name}'"))
    val ids = EsDsl.matchingIds(df, req, "document_id").persist()
    try {
      val n = ids.count()
      if (n > 0) DocumentSink.deleteByIds(ids, s"$outDir/${spec.name}")
      respond(ex, 200, s"""{"deleted": $n}""")
    } finally { ids.unpersist(); () }
  }

  /** POST /{entity}/sync — `{"id": ...}`: re-read the record from the
    * source of truth and re-index it (the reference's DB-webhook route,
    * src/routes/ticket_routes.py:212-264). The point predicate pushes
    * below the pipeline (Catalyst), so one key's data is touched. */
  private def syncOne(ex: HttpExchange, spec: EntitySpec,
                      req: JsonNode): Unit = writeLock.synchronized {
    val id = textOr(req, "id", "")
    if (id.isEmpty) {
      respond(ex, 400, """{"error": "id is required"}"""); return
    }
    val pipeline = EntityCatalog.pipeline(
      Tables(spark, srcDir, spec.name), spec, runTs)
    val n = IncrementalSync.resyncOne(
      pipeline, s"${spec.name}_${spec.idCol}", id, s"$outDir/${spec.name}")
    respond(ex, 200, s"""{"result": "synced", "doc_count": $n}""")
  }

  // -------------------------------------------------------------------
  // Plumbing
  // -------------------------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def body(ex: HttpExchange): JsonNode = {
    val bytes = bodyBytes(ex)
    if (bytes.isEmpty) mapper.createObjectNode()
    else mapper.readTree(new String(bytes, StandardCharsets.UTF_8))
  }

  /** Raw request text — the ndjson surface (`_msearch`), where the
    * body is LINES of JSON, not one document. */
  private def rawBody(ex: HttpExchange): String =
    new String(bodyBytes(ex), StandardCharsets.UTF_8)

  /** The request body, refused past [[HttpApi.MaxContentLength]]: a
    * declared `Content-Length` above it before reading a byte, a
    * chunked body once it has read one byte more. */
  private def bodyBytes(ex: HttpExchange): Array[Byte] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(_.trim.toLongOption)
    if (declared.exists(_ > HttpApi.MaxContentLength))
      throw new HttpApi.BodyTooLarge
    HttpApi.readCapped(ex.getRequestBody, HttpApi.MaxContentLength)
  }

  private def textOr(node: JsonNode, field: String, dflt: String): String =
    Option(node.get(field)).map(_.asText()).getOrElse(dflt)

  /** An integer knob ([[EsDsl.intKnob]]); a malformed value is the
    * caller's 400, naming the knob. */
  private def intArg(node: JsonNode, k: String): Option[Int] =
    EsDsl.intKnob(node, k).fold(auxBad, identity)

  /** 404 whose message names a request-controlled `name` — escaped
    * inside the JSON string, so a quote in a path or body cannot break
    * the body out of it. */
  private def notFound(ex: HttpExchange, what: String, name: String): Unit = {
    val q = mapper.writeValueAsString(name)
    respond(ex, 404,
      s"""{"error": "$what '${q.substring(1, q.length - 1)}'"}""")
  }

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val payload = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, payload.length.toLong)
    val os = ex.getResponseBody
    try os.write(payload) finally os.close()
  }
}

object HttpApi {

  /** A `/search` token-exact mode ([[HttpApi.exactMode]]'s result). */
  private sealed trait ExactMode
  private final case class PhraseMode(slop: Int) extends ExactMode
  /** `operator=and` is `need = Int.MaxValue` (clamped to every term). */
  private final case class MinShouldMode(need: Int) extends ExactMode
  private final case class FuzzyMode(spec: String, prefixLength: Int,
                                     maxExpansions: Option[Int])
      extends ExactMode

  /** The largest request body served: ES's `http.max_content_length`
    * default, 100 MB. */
  private[graft] val MaxContentLength: Long = 100L * 1024 * 1024

  /** A request body past [[MaxContentLength]] — answered 413. */
  private[graft] final class BodyTooLarge extends RuntimeException

  /** `in`'s bytes, reading at most `cap + 1` of them: one byte past
    * `cap` is enough to refuse the body with [[BodyTooLarge]]. */
  private[graft] def readCapped(in: java.io.InputStream,
                                cap: Long): Array[Byte] = {
    val bytes = in.readNBytes(math.min(cap + 1, Int.MaxValue - 8).toInt)
    if (bytes.length > cap) throw new BodyTooLarge
    bytes
  }

  /** Why a source document derived no stored document: a required key
    * absent from the source, a required value null, or a value the
    * store's mapped column type cannot hold (ES answers that one with
    * `mapper_parsing_exception`). */
  private sealed trait Underived
  private final case class MissingFields(fields: Seq[String])
      extends Underived
  private case object NullRequired extends Underived
  private final case class Unparsable(field: String,
      dataType: org.apache.spark.sql.types.DataType) extends Underived {
    def reason: String =
      s"failed to parse field [$field] of type [${dataType.simpleString}]"
  }
}
