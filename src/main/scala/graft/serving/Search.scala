package graft.serving

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The serving surface — the Spark-native analog of the reference's
  * Flask + ES search API (reference: src/search_api.py:16-46,
  * data_lake_sync.py:211-243).
  *
  *  - [[multiField]] ≙ `POST /search` (ES `multi_match` over chosen
  *    fields). Parity target is the retrieval *set*; ranking is
  *    approximated by term-occurrence count (ES BM25 is not replicated —
  *    SURVEY §7.4), deterministically tie-broken.
  *  - [[sql]] ≙ `POST /search/advanced` (raw-DSL passthrough) — replaced
  *    by real SQL over the registered lake tables, strictly more
  *    expressive than the ES DSL passthrough it stands in for.
  *
  * Scale: `multiField` compiles to a predicate + projection the scanner
  * evaluates in place (codegen'd `contains`); no shuffle except the
  * final top-k, which is a TakeOrdered of `limit` rows per partition.
  */
object Search {

  /** Driver-side twin of the engine's ONE analyzer (the ES
    * `standard`-analyzer chain — `TextFunctions.analyzerTokens`), with the
    * offsets the Spark-side scan never needs but the `_analyze` /
    * `_termvectors` APIs report: (token, start_offset, end_offset,
    * position) per token, offsets into the ORIGINAL text (ES's
    * contract — the token is lowercased, the offsets are not).
    *
    * Documented edge: segmentation here runs on the ORIGINAL-case
    * text (offsets must index it), while the scan path segments the
    * lowercased text. The two differ only when lowercasing CHANGES a
    * character's token-class membership (e.g. Turkish dotted capital
    * İ lowercases to i + combining dot, a mark outside the class) —
    * for such exotic inputs the reported tokens may split differently
    * from the indexed ones; faithful offsets and faithful tokens are
    * mutually exclusive there, and ES's own offset contract picks the
    * original text too. */
  private[graft] def analyzeWithOffsets(text: String)
      : Seq[(String, Int, Int, Int)] = {
    val m = java.util.regex.Pattern
      .compile(graft.functions.TextFunctions.AnalyzerPattern)
      .matcher(text)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Int, Int)]
    while (m.find()) {
      out += ((m.group.toLowerCase, m.start, m.end, out.length))
    }
    out.toSeq
  }

  /** Occurrences of `term` in `c` (case-insensitive):
    * (len(x) - len(remove(x, term))) / len(term). */
  def occurrences(c: Column, term: String): Column = {
    val needle = term.toLowerCase
    ((length(coalesce(c, lit(""))) -
      length(replace(lower(coalesce(c, lit(""))), lit(needle), lit("")))) /
      needle.length).cast("int")
  }

  /** `search_after`-style cursor: keep only hits STRICTLY AFTER
    * `(score, id)` in the (score desc, id asc) sort every scorer ends
    * with — ES's deterministic deep-pagination cursor
    * (src/es_connector.py:85-95 pages its hits). The caller passes the
    * LAST hit of the previous page; applied before top-k, so page N+1
    * is the next `limit` hits with no overlap and no gap. */
  private[graft] def afterPredicate(after: Option[(Double, Any)],
                                      idc: Column,
                                      inclusive: Boolean = false): Column =
    after.map { case (s, id) =>
      val idCmp = if (inclusive) idc >= lit(id) else idc > lit(id)
      (col("score") < s) || (col("score") === s && idCmp)
    }.getOrElse(lit(true))

  /** Per-field count weighted by its ES `field^boost` factor (boost
    * affects SCORE only, never the match set — positive boosts are the
    * caller contract, as in ES). No boost → the raw (integer) count, so
    * unboosted scorers keep their exact int score column. */
  private def boosted(f: String, cnt: Column,
                      boosts: Map[String, Double]): Column =
    boosts.get(f).map(b => cnt * b).getOrElse(cnt)

  /** Multi-field search: rows where any selected field contains `term`
    * (case-insensitive), scored by total occurrence count, top `limit`.
    * `after` = pagination cursor ([[afterPredicate]]); `boosts` =
    * per-field ES `field^boost` score multipliers.
    */
  def multiField(df: DataFrame, term: String, fields: Seq[String],
                 limit: Int = 100,
                 after: Option[(Double, Any)] = None,
                 boosts: Map[String, Double] = Map.empty): DataFrame = {
    topRows(df, fields.map(f => boosted(f, occurrences(col(f), term), boosts))
      .reduce(_ + _), limit, after)
  }

  /** `df`'s rows with a positive `score`, after the cursor, top-k in
    * (score desc, first column) order — full rows, like ES's hits. */
  private def topRows(df: DataFrame, score: Column, limit: Int,
                      after: Option[(Double, Any)]): DataFrame =
    df.select(df.columns.toSeq.map(col) :+ score.as("score"): _*)
      .filter(col("score") > 0)
      .filter(afterPredicate(after, col(df.columns.head)))
      .orderBy(col("score").desc, col(df.columns.head))
      .limit(limit)

  /** Cross-index search over the `data_lake_*`-style union document view
    * ([[graft.catalog.EntityCatalog.unionDocuments]]): multi-field
    * occurrence scoring where a field an entity lacks is NULL and scores
    * 0, ranked deterministically by (score desc, document_id, table) —
    * both tiebreak columns are non-null on every branch, so the ordering
    * is engine-stable (null-ordering defaults differ across engines).
    * Output is the hit identity (table, document_id, score); callers
    * fetch bodies from the entity's own table. */
  def acrossIndexes(lake: DataFrame, term: String, fields: Seq[String],
                    limit: Int = 100,
                    after: Option[(Double, String, String)] = None)
      : DataFrame = {
    val score = fields.map(f => occurrences(col(f), term))
      .reduce(_ + _).as("score")
    lake.select(col("table"), col("document_id"), score)
      .filter(col("score") > 0)
      .filter(afterPredicate3(after))
      .orderBy(col("score").desc, col("document_id"), col("table"))
      .limit(limit)
  }

  /** Wildcard-search cursor — strictly after `(score, document_id,
    * table)` in the (score desc, document_id asc, table asc) order the
    * cross-index modes share. The third key matters: `document_id`
    * values (`{id}_{runTs}`) can collide ACROSS entities. */
  private[graft] def afterPredicate3(
      after: Option[(Double, String, String)]): Column =
    after.map { case (s, id, tbl) =>
      (col("score") < s) || (col("score") === s &&
        (col("document_id") > id ||
          (col("document_id") === id && col("table") > tbl)))
    }.getOrElse(lit(true))

  /** The entity subset a comma-list target names — name-sorted specs,
    * unknown names FAIL LOUD (a silent filter would narrow the search
    * scope without anyone noticing). Empty = every catalog entity. */
  private def entitySubset(only: Seq[String])
      : Seq[graft.catalog.EntitySpec] = {
    import graft.catalog.EntityCatalog
    val specs0 = EntityCatalog.entities.values.toSeq.sortBy(_.name)
    if (only.isEmpty) specs0
    else {
      val unknown = only.filterNot(EntityCatalog.entities.contains)
      require(unknown.isEmpty,
        s"unknown entities: ${unknown.mkString(", ")}")
      specs0.filter(sp => only.contains(sp.name))
    }
  }

  /** Cross-index RANKED retrieval — the `data_lake_*` wildcard under
    * ES's real scorer: every entity index is scored with ITS OWN
    * per-index, per-field statistics (exactly what ES does when a
    * multi_match spans indexes — IDF is index-local), then hits merge
    * into one global top-k.
    *
    * ONE shared pass over the union document view, not 2 scans per
    * entity: every (entity, field) pair is a fid of [[Ranking.scan]]
    * whose token/dl contributions are GATED on the row's `table`
    * (shared lineage columns stay index-local), per-entity n/avgdl and
    * every pair's df ride one statistics aggregate, and each entity's
    * score is its own leg of one [[Ranking.combine]] clause, selected
    * by the `table` group key. Numerically identical to scoring each
    * entity alone — the oracle is shared verbatim. `only` restricts
    * the wildcard to a comma-list's entity subset — same per-index
    * statistics, fewer stacked branches. */
  def acrossIndexesRanked(spark: SparkSession, srcDir: String,
                          runTs: String, query: String, limit: Int = 100,
                          bestFields: Boolean = false,
                          bm25: Boolean = true,
                          after: Option[(Double, String, String)] = None,
                          only: Seq[String] = Nil)
      : DataFrame = {
    import graft.catalog.EntityCatalog
    val specs = entitySubset(only)
    // each entity's document pipeline is built ONCE and serves both
    // the union frame and the field-list derivation (building a
    // second throwaway pipeline per entity just to read its schema
    // doubled the driver-side analysis cost per request)
    val specDocs = specs.map(spec => spec -> EntityCatalog.pipeline(
      graft.sources.Tables(spark, srcDir, spec.name), spec, runTs))
    val union = specDocs.map(_._2)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // entity-major (entity, field) pairs, schema order within entity —
    // the per-entity path's exact field order (ONE derivation shared
    // with the index builder and the coverage check)
    val fields = specDocs.flatMap { case (spec, docs) =>
      searchableDocFields(docs.schema).map(f =>
        Ranking.ScanField(spec.name, f, col(f)))
    }
    val terms = graft.functions.TextFunctions.analyzeText(query).distinct
    val clause = Ranking.Clause("score", specs.map(sp =>
      Ranking.Leg(sp.name, terms, fields.indices
        .filter(fields(_).table == sp.name).map((_, 1.0)))), bestFields)
    topAcross(Ranking.combine(Ranking.scan(union, col("table"),
      col("document_id"), fields, Seq(clause), bm25), bm25, Seq(clause)),
      limit, after)
  }

  /** The wildcard page of `(table, id, score)` hits: (table,
    * document_id, score) after the 3-key cursor, ONE global top-k in
    * the (score desc, document_id, table) order. */
  private[graft] def topAcross(scored: DataFrame, limit: Int,
                               after: Option[(Double, String, String)])
      : DataFrame =
    scored.select(col("table"), col("id").as("document_id"), col("score"))
      .filter(afterPredicate3(after))
      .orderBy(col("score").desc, col("document_id"), col("table"))
      .limit(limit)

  /** The SEARCHABLE fields of an entity document frame — its string
    * columns in schema order, minus the `table` discriminator and the
    * id. ONE definition shared by the index builder, the wildcard
    * scorers and the coverage check, so the field contract cannot
    * drift between what gets indexed and what gets scored. */
  private[graft] def searchableDocFields(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).filterNot(Set("table", "document_id")).toSeq

  /** Per-(srcDir, entity) memo of the entity pipeline's searchable
    * field list — `srcDir` tables are an immutable snapshot (the same
    * assumption the HTTP layer's index memoization rests on; a
    * mutated srcDir requires a redeploy there too, so the memo adds
    * no NEW staleness surface), so the schema-analysis cost is paid
    * once per entity, not once per wildcard request. */
  private val coverFieldsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
                                               Seq[String]]()

  /** Whether the per-entity write-time indexes under `root` COVER a
    * wildcard request over `only` (all entities when empty): each
    * in-scope entity's index exists at the current version and its
    * indexed field list EQUALS the field list the scan path would
    * score — same names, same order (per-field scores sum in fixed
    * field order, so order is part of the contract). Schema-only
    * driver analysis, memoized per (srcDir, entity) — no scans, no
    * per-request pipeline rebuilds. */
  def entityIndexesCover(spark: SparkSession, srcDir: String,
                         runTs: String, root: String,
                         only: Seq[String] = Nil): Boolean = {
    import graft.catalog.EntityCatalog
    entitySubset(only).forall { spec =>
      val p = s"$root/${spec.name}"
      graft.sinks.SearchIndex.exists(p) && {
        val expected = coverFieldsMemo.computeIfAbsent(
          (srcDir, spec.name), _ =>
            searchableDocFields(EntityCatalog.pipeline(
              graft.sources.Tables(spark, srcDir, spec.name), spec,
              runTs).schema))
        graft.sinks.SearchIndex.readMeta(p).fields == expected
      }
    }
  }

  /** Write-time-index twin of [[acrossIndexesRanked]]: the same
    * per-index BM25 ranking and 3-key cursor semantics, but every
    * branch PROBES its entity's materialized index
    * ([[graft.sinks.SearchIndex]], built once at sync time by
    * [[buildEntityIndexes]]) instead of re-deriving the entity
    * documents and re-aggregating corpus statistics per request — the
    * operational shape ES actually has (`bulk_index` builds postings at
    * write time, src/es_connector.py:51-74; `multi_match` reads them,
    * src/search_api.py:16-36). Bit-identical results to the scan-path
    * wildcard; per-request cost drops from 5 corpus scans + 5 stats
    * aggregates to pruned postings probes. */
  def acrossIndexesRankedIndexed(spark: SparkSession, indexRoot: String,
                                 query: String, limit: Int = 100,
                                 bestFields: Boolean = false,
                                 bm25: Boolean = true,
                                 after: Option[(Double, String, String)] = None,
                                 only: Seq[String] = Nil)
      : DataFrame =
    // r19: ONE merged probe plan instead of a per-entity union of
    // [[graft.sinks.SearchIndex.ranked]] calls — the per-branch shape
    // built 2 broadcast exchanges + 1 aggregation exchange + 1
    // TakeOrdered per entity (14 driver-serialized broadcast builds on
    // a 7-entity wildcard); the merged plan builds ONE idf broadcast
    // and aggregates once. Bit-identical per-entity scores and the
    // same 3-key cursor semantics (SearchIndexSpec pins the equality).
    graft.sinks.SearchIndex.rankedAcrossIndexes(spark,
      entityBranches(indexRoot, only), query, limit, bm25, bestFields, after)

  /** (entity, index path) of every entity of `only` (all when empty)
    * under the per-entity index root. */
  private def entityBranches(indexRoot: String,
                             only: Seq[String]): Seq[(String, String)] =
    entitySubset(only).map(spec => spec.name -> s"$indexRoot/${spec.name}")

  /** Wildcard PHRASE over the entity indexes (`data_lake_*` with
    * `multi_match type=phrase`): every entity's positional postings,
    * entity-tagged, feed ONE phrase probe
    * ([[graft.sinks.SearchIndex.phraseScores]]) — one aggregate keyed
    * (table, document_id) and one global top-k under the 3-key cursor
    * ([[topAcross]]). Phrase scores are per-entity occurrence counts —
    * no index-local statistics. Scan-path twin: [[phrase]] over each
    * entity's pipeline documents (SearchIndexSpec pins the equality). */
  def acrossIndexesPhraseIndexed(spark: SparkSession, indexRoot: String,
                                 phraseQuery: String, limit: Int = 100,
                                 after: Option[(Double, String, String)] =
                                   None, slop: Int = 0,
                                 only: Seq[String] = Nil): DataFrame =
    topAcross(graft.sinks.SearchIndex.phraseScores(
      spark, entityBranches(indexRoot, only), phraseQuery, Nil, Map.empty,
      slop), limit, after)

  /** Wildcard `operator=and` / `minimum_should_match` over the entity
    * indexes ([[graft.sinks.SearchIndex.minShouldScores]]), one plan,
    * same cursor semantics as the other wildcard modes. The match
    * predicate is per-entity (every/k-of-n terms must match within ONE
    * entity's fields), exactly what ES computes when a multi_match
    * with operator=and spans indexes. */
  def acrossIndexesMinShouldIndexed(spark: SparkSession, indexRoot: String,
                                    query: String,
                                    minMatch: Int = Int.MaxValue,
                                    limit: Int = 100,
                                    after: Option[(Double, String, String)] =
                                      None,
                                    only: Seq[String] = Nil): DataFrame =
    topAcross(
      graft.sinks.SearchIndex.minShouldScores(spark,
        entityBranches(indexRoot, only), query, Nil, minMatch, Map.empty),
      limit, after)

  /** Wildcard `fuzziness` over the entity indexes — each entity's
    * vocabulary expands the query terms independently
    * ([[graft.sinks.SearchIndex.fuzzyScores]]), one plan under the
    * shared 3-key cursor order like the other wildcard modes. */
  def acrossIndexesFuzzyIndexed(spark: SparkSession, indexRoot: String,
                                query: String, fuzziness: String = "AUTO",
                                limit: Int = 100,
                                after: Option[(Double, String, String)] =
                                  None, prefixLength: Int = 0,
                                maxExpansions: Option[Int] = None,
                                transpositions: Boolean = true,
                                only: Seq[String] = Nil): DataFrame =
    topAcross(
      graft.sinks.SearchIndex.fuzzyScores(spark,
        entityBranches(indexRoot, only), query, Nil, fuzziness, Map.empty,
        prefixLength, maxExpansions, transpositions), limit, after)

  /** Sync-time index build for every catalog entity — the write-time
    * moment the reference's ES builds its inverted indexes. One index
    * per entity under `root/<entity>`, over the entity's searchable
    * (string) document fields in schema order — the exact field list
    * [[acrossIndexesRanked]] scores. */
  def buildEntityIndexes(spark: SparkSession, srcDir: String, root: String,
                         runTs: String): Unit = {
    import graft.catalog.EntityCatalog
    EntityCatalog.entities.values.toSeq.sortBy(_.name).foreach { spec =>
      val docs = EntityCatalog.pipeline(
        graft.sources.Tables(spark, srcDir, spec.name), spec, runTs)
      graft.sinks.SearchIndex.build(docs, searchableDocFields(docs.schema),
        "document_id", s"$root/${spec.name}")
    }
  }

  /** Advanced search = the engine's actual query language. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

  /** TF-IDF-weighted multi-term search over one text field — the
    * principled upgrade of [[multiField]]'s occurrence count toward ES
    * relevance (SURVEY §7.4: BM25 itself is out of scope; this is the
    * classic tf·idf retrieval model on exact token matches).
    *
    * score(doc) = Σ_t tf(t, doc) · (N+1)/(df_t+1)
    *
    * The idf weight is the *rational* inverse-document-frequency form,
    * not log((N+1)/(df+1)): ln() is not IEEE-pinned and differs in the
    * last ulp across libm implementations, which would make the DuckDB
    * oracle flaky; the rational form is exact double arithmetic with
    * identical ranking behavior (monotone in 1/df).
    *
    * Shape at scale: one explode+filter pass over the corpus (only query
    * terms survive the filter — the "inverted index probe"), a tiny
    * per-term df aggregate joined back broadcast-style, one final
    * per-doc sum + top-k. No full-corpus shuffle: everything after the
    * filter is query-term-sized.
    */
  def tfidf(df: DataFrame, query: String, textCol: String, idCol: String,
            limit: Int = 100): DataFrame =
    rankedPage(df, query, Seq(textCol), idCol, limit, bm25 = false)

  /** BM25 ranked retrieval — [[tfidf]] plus the two ingredients ES's
    * actual scorer (`multi_match` executes Lucene BM25) adds on top of
    * tf·idf: term-frequency SATURATION (a term's contribution
    * asymptotes at (k1+1)·idf instead of growing linearly) and
    * DOC-LENGTH NORMALIZATION (long documents need proportionally more
    * occurrences to score the same). Retires the last documented
    * deviation from the reference's search semantics
    * (src/search_api.py:16-36; SURVEY §7.4).
    *
    * score(doc) = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (Lucene's form)
    *
    * The formulas are [[Ranking.bm25Idf]] / [[Ranking.bm25Saturation]].
    * Same inverted-probe shape and oracle-ability as [[tfidf]]: one
    * prefiltered explode, tiny broadcast stats, top-k. The corpus
    * statistics (N, avgdl) are one extra tiny aggregate over the scan —
    * the numbers ES keeps precomputed per index. */
  def bm25(df: DataFrame, query: String, textCol: String, idCol: String,
           limit: Int = 100): DataFrame =
    rankedPage(df, query, Seq(textCol), idCol, limit, bm25 = true)

  /** Multi-field BM25 — TRUE `multi_match` semantics over a fields LIST
    * (reference: src/search_api.py:22-30 passes several fields; ES
    * scores each field independently with that field's own statistics).
    * Per-field scoring is exactly [[bm25]] (per-field df, dl, avgdl);
    * field scores combine as a fixed-order SUM (ES `most_fields`) or,
    * with `bestFields = true`, the per-doc MAX (ES's default
    * `best_fields`). Optional per-field `boosts` multiply a field's
    * score before combining (ES `field^boost`).
    *
    * Shape at scale: the fields STACK into one explode (one scan
    * carries every field's tokens, tagged `fid`) and the cross-field
    * combine is conditional sums inside ONE final per-doc aggregation
    * ([[Ranking]]) — 2 scans and 3 shuffles whatever the field count,
    * no per-field joins. Rounding happens once after the combine. */
  def bm25Fields(df: DataFrame, query: String, fields: Seq[String],
                 idCol: String, limit: Int = 100,
                 bestFields: Boolean = false,
                 boosts: Map[String, Double] = Map.empty,
                 after: Option[(Double, Any)] = None): DataFrame =
    rankedPage(df, query, fields, idCol, limit, bm25 = true,
      bestFields, boosts, after)

  /** Multi-field tf·idf — [[tfidf]] per field, combined like
    * [[bm25Fields]]. */
  def tfidfFields(df: DataFrame, query: String, fields: Seq[String],
                  idCol: String, limit: Int = 100,
                  bestFields: Boolean = false,
                  boosts: Map[String, Double] = Map.empty,
                  after: Option[(Double, Any)] = None): DataFrame =
    rankedPage(df, query, fields, idCol, limit, bm25 = false,
      bestFields, boosts, after)

  /** Round to the 1e-4 grid — the last step of every ranked scorer, so
    * the DuckDB oracle compares lattice points, not raw doubles. */
  private[graft] def round4(c: Column): Column =
    floor(c * 10000.0 + 0.5).cast("double") / 10000.0

  /** One ranked page over a plain frame: [[Ranking.rankFrame]] with
    * one clause over `fields`, then the cursor and the
    * (score desc, id) top-k. */
  private def rankedPage(df: DataFrame, query: String,
                         fields: Seq[String], idCol: String, limit: Int,
                         bm25: Boolean, bestFields: Boolean = false,
                         boosts: Map[String, Double] = Map.empty,
                         after: Option[(Double, Any)] = None): DataFrame = {
    val clause = Ranking.single("score",
      graft.functions.TextFunctions.analyzeText(query).distinct,
      fields.indices.map(i => (i, boosts.getOrElse(fields(i), 1.0))),
      bestFields)
    Ranking.rankFrame(df, idCol, fields.map(f => f -> col(f)),
        Seq(clause), bm25)
      .filter(afterPredicate(after, col(idCol)))
      .orderBy(col("score").desc, col(idCol))
      .limit(limit)
  }

  /** One match-family clause of an ES-DSL body, queued by
    * [[EsDsl]] for the SHARED scoring pass ([[rankedAllMulti]]): the
    * clause's analyzed terms (ordered, distinct, lowercased — under a
    * query-time `english` analyzer these are the query's STEMS,
    * searched as literal terms like any others), its target fields as
    * (key, boost) pairs resolved against the request's interned field
    * list, and the best_fields/most_fields combine mode. */
  private[graft] final case class RankClause(terms: Seq[String],
                                             fields: Seq[(String, Double)],
                                             bestFields: Boolean)

  /** One interned (key → column expression) entry of the shared
    * scoring pass. Documents are ALWAYS standard-analyzed — exactly
    * ES against the reference's standard-analyzed mappings, where a
    * query-time analyzer rewrites only the query's terms and the
    * index-side tokens and statistics stay standard. */
  private[graft] final case class RankField(key: String, expr: Column)

  /** EVERY match-family clause of one DSL body scored in ONE pass:
    * all clauses' fields stack into a single tokenize+explode scan
    * (tagged `fid` over the request's interned field list), one shared
    * stats aggregate carries every field's n/avgdl/df, and each
    * clause's score is its own [[Ranking.Clause]] inside ONE final
    * per-doc aggregation — so a bool with K match clauses costs 2
    * corpus scans and one score join TOTAL, not 2K scans and K joins.
    * Numerically identical to scoring each clause alone: each clause
    * adds the same doubles in the same fixed (field, term) order and
    * rounds once — a clause the doc doesn't match sums to 0.0. The
    * prefilter ORs every clause's (field, term) probes; that is safe
    * for english clauses too, whose query-side STEMS match standard
    * tokens by equality, and a token is a substring of the raw text.
    *
    * `fieldExprs` = (key, expression) in first-use order — a key is a
    * plain column name or a derived combined-fields concat; `clauses`
    * reference keys. Returns (idCol, __bm25_0 … __bm25_{K-1}). */
  private[graft] def rankedAllMulti(df: DataFrame, idCol: String,
                                    fieldExprs: Seq[RankField],
                                    clauses: Seq[RankClause]): DataFrame = {
    val fidOf = fieldExprs.map(_.key).zipWithIndex.toMap
    Ranking.rankFrame(df, idCol, fieldExprs.map(f => f.key -> f.expr),
      clauses.zipWithIndex.map { case (c, ci) =>
        Ranking.single(s"__bm25_$ci", c.terms,
          c.fields.map { case (f, b) => (fidOf(f), b) }, c.bestFields)
      }, bm25 = true)
  }

  /** `" t1  t2  …  tk "` — the column's whitespace tokens joined by
    * DOUBLE spaces and single-space padded, so a substring probe for
    * `" t "` is an EXACT token match and `" t1  t2 "` exact token
    * ADJACENCY, regardless of the original whitespace run lengths.
    * Two-space separators (not one) because the counting `replace`
    * consumes the needle's boundary spaces: with single spaces,
    * back-to-back matches (`"a a a"` probed for `" a "`, or a phrase
    * repeated immediately) share one separator and the second
    * occurrence loses its leading boundary — a double separator always
    * leaves one space behind for the next match. */
  private[graft] def tokenNorm(c: Column): Column =
    graft.functions.ArrayExpressions.analyzerNorm(
      coalesce(c.cast("string"), lit("")))

  /** Non-overlapping occurrence count of `needle` in `hay` — both
    * engines' `replace` scans left-to-right past replaced text, so the
    * count is identical engine-to-engine. */
  private[graft] def substrCount(hay: Column, needle: String): Column =
    ((length(hay) - length(replace(hay, lit(needle), lit("")))) /
      needle.length).cast("int")

  /** PHRASE search (ES `multi_match` `type: "phrase"`): the query's
    * tokens must appear consecutively, in order, in a field. Scored by
    * the total (non-overlapping) phrase-occurrence count across
    * `fields`, full rows returned like [[multiField]].
    *
    * Exactness: matching runs on the normalized token string
    * ([[tokenNorm]]), so `"the  window"` (double space) still matches
    * the phrase `"the window"` — token adjacency, not raw substring. A
    * codegen'd per-term `contains` prefilter keeps the HOF
    * normalization off most of the corpus (any doc lacking some term
    * as a SUBSTRING can't contain it as a token). */
  def phrase(df: DataFrame, phraseQuery: String, fields: Seq[String],
             limit: Int = 100,
             after: Option[(Double, Any)] = None,
             boosts: Map[String, Double] = Map.empty): DataFrame =
    phraseScan(df, phraseQuery, fields, 0, limit, after, boosts)

  /** SLOPPY phrase (ES `match_phrase` with `slop`): the query's terms
    * must appear with an adjusted-position span of at most `slop` —
    * Lucene's full sloppy matcher, transposed (out-of-order)
    * alignments included from `slop >= 2` ([[Positional.phrase]]).
    * `slop = 0` is [[phrase]] (exact adjacency, non-overlap-counted).
    * Scored by the count of head positions that admit a match within
    * the budget, summed across `fields`.
    *
    * Scale: the codegen'd per-term `contains` prefilter keeps the HOF
    * position scan off every row missing some term as a substring; the
    * HOF works on occurrence-sized position lists per row — no
    * explode, no shuffle before the final top-k. */
  def slopPhrase(df: DataFrame, phraseQuery: String, fields: Seq[String],
                 slop: Int, limit: Int = 100,
                 after: Option[(Double, Any)] = None,
                 boosts: Map[String, Double] = Map.empty): DataFrame = {
    require(slop >= 0, "slop must be >= 0")
    phraseScan(df, phraseQuery, fields, slop, limit, after, boosts)
  }

  /** [[phrase]] (`slop = 0`: the normalized-substring count) and
    * [[slopPhrase]] (the positional walk) over a plain frame. */
  private def phraseScan(df: DataFrame, phraseQuery: String,
                         fields: Seq[String], slop: Int, limit: Int,
                         after: Option[(Double, Any)],
                         boosts: Map[String, Double]): DataFrame = {
    val terms = graft.functions.TextFunctions.analyzeText(phraseQuery)
    require(terms.nonEmpty, "empty phrase")
    val prefilter = fields.map(f =>
        terms.map(t => lower(coalesce(col(f), lit("")))
          .contains(lit(t))).reduce(_ && _))
      .reduce(_ || _)
    def cnt(f: String): Column =
      if (slop == 0)
        substrCount(tokenNorm(col(f)), terms.mkString(" ", "  ", " "))
      else Positional.termPhrase(col(f), terms.zipWithIndex, slop)
    topRows(df.filter(prefilter),
      fields.map(f => boosted(f, cnt(f), boosts)).reduce(_ + _), limit, after)
  }

  /** `operator: "and"` search (ES `multi_match` with `operator: and`):
    * EVERY query term must appear as an exact token in at least one of
    * `fields`; scored like [[multiField]] but token-exact (so `"foo"`
    * no longer matches `"foobar"` the way the substring scorer does).
    * Same scan-side shape: per-term/per-field codegen'd counts, no
    * shuffle before the final top-k. */
  def multiFieldAnd(df: DataFrame, query: String, fields: Seq[String],
                    limit: Int = 100,
                    after: Option[(Double, Any)] = None,
                    boosts: Map[String, Double] = Map.empty): DataFrame =
    multiFieldMinShould(df, query, fields, minMatch = Int.MaxValue,
      limit, after, boosts)

  /** ES `minimum_should_match`: at least `minMatch` of the query's
    * distinct terms must token-match (in any of `fields`); scored like
    * [[multiFieldAnd]]. `minMatch` values above the term count clamp to
    * all-terms (the AND mode is exactly that clamp); `<= 1` degrades to
    * the token-exact OR. Same scan-side shape: per-term/per-field
    * codegen'd counts, one top-k, no shuffle before it. */
  def multiFieldMinShould(df: DataFrame, query: String,
                          fields: Seq[String], minMatch: Int,
                          limit: Int = 100,
                          after: Option[(Double, Any)] = None,
                          boosts: Map[String, Double] = Map.empty): DataFrame = {
    val terms =
      graft.functions.TextFunctions.analyzeText(query).distinct
    require(terms.nonEmpty, "empty query")
    val need = math.max(1, math.min(minMatch, terms.size))
    val norms = fields.zip(fields.map(f => tokenNorm(col(f))))
    def termCount(t: String): Column =
      norms.map { case (_, n) => substrCount(n, s" $t ") }.reduce(_ + _)
    // boosts weight the SCORE only; the match predicate stays unweighted
    def termScore(t: String): Column =
      norms.map { case (f, n) =>
        boosted(f, substrCount(n, s" $t "), boosts) }.reduce(_ + _)
    val matched = terms.map(t => when(termCount(t) > 0, 1).otherwise(0))
      .reduce(_ + _)
    val score = terms.map(termScore).reduce(_ + _).as("score")
    val keyCols = df.columns.toSeq.map(col)
    df.filter(matched >= need)
      .select(keyCols :+ score: _*)
      .filter(afterPredicate(after, col(df.columns.head)))
      .orderBy(col("score").desc, col(df.columns.head))
      .limit(limit)
  }

  /** ES `fuzziness` resolution: an explicit edit-distance spec ("0".."2")
    * or AUTO's length ladder (0 edits for terms under 3 chars, 1 for
    * 3–5, 2 above — ES's documented AUTO:3,6 default). Returns None for
    * anything else so callers 400 instead of guessing. */
  /** Is `fuzziness` a spec [[fuzzyEdits]] accepts? (term-independent:
    * AUTO resolves per term but is always valid). */
  private[graft] def fuzzyEditsValid(fuzziness: String): Boolean =
    fuzzyEdits("probe", fuzziness).isDefined

  /** The fuzzy metric: full Damerau–Levenshtein (adjacent
    * transpositions are ONE edit) under ES's default
    * `transpositions: true`; plain Levenshtein under explicit
    * `false`. One switch point for every fuzzy surface so the scan
    * path, the index probe, and the DuckDB oracle stay on one
    * metric. */
  private[graft] def editDistance(x: Column, t: String,
                                  transpositions: Boolean): Column =
    if (transpositions)
      graft.functions.ArrayExpressions.damerauLevenshtein(x, lit(t))
    else levenshtein(x, lit(t))

  private[graft] def fuzzyEdits(term: String,
                                fuzziness: String): Option[Int] =
    fuzziness.trim.toUpperCase match {
      case "AUTO" =>
        Some(if (term.length < 3) 0 else if (term.length <= 5) 1 else 2)
      case "0" | "1" | "2" => Some(fuzziness.trim.toInt)
      case _               => None
    }

  /** Lucene's `maxClauseCount` bound — the ceiling ES enforces on
    * `max_expansions` (a fuzzy query can't rewrite into more term
    * clauses than a BooleanQuery may hold). */
  private[graft] val MaxExpansionsCeiling = 1024

  /** Fuzzy-COMPLETION prefix predicate over a LOWERCASED input
    * column — ES's fuzzy completion model (a Levenshtein automaton
    * intersected with the FST): an input matches iff SOME PREFIX of
    * it lies within `edits` of the typed (lowercased) prefix, with
    * the first `prefixLength` characters exact (ES default 1).
    * Candidate prefix lengths are bounded to len(p) ± edits (length
    * difference alone exceeds the budget outside that band), so the
    * predicate is a fixed ≤(2·edits+1)-way disjunction of substring
    * edit distances on the ONE shared fuzzy metric ([[editDistance]]
    * — Damerau under ES's default transpositions) — codegen-friendly,
    * and the exact head still pushes down as StartsWith on the sorted
    * inputs dictionary. At `edits = 0` this IS the plain prefix
    * startsWith. */
  private[graft] def completionPrefixPredicate(inputLc: Column,
      prefix: String, edits: Int, prefixLength: Int,
      transpositions: Boolean): Column = {
    val p = prefix.toLowerCase
    if (edits == 0) inputLc.startsWith(p)
    else {
      val lo = math.max(math.max(1, prefixLength), p.length - edits)
      val hi = p.length + edits
      // prefix_length past the whole edit band (ES accepts it): the
      // exact-head constraint subsumes the budget — plain prefix.
      if (lo > hi) inputLc.startsWith(p)
      else {
        val head = p.take(prefixLength)
        val base =
          if (head.isEmpty) lit(true) else inputLc.startsWith(head)
        val anyLen = (lo to hi).map(l =>
          editDistance(substring(inputLc, 1, l), p, transpositions) <=
            edits).reduce(_ || _)
        base && anyLen
      }
    }
  }

  /** The capped fuzzy EXPANSION SET per query term (ES
    * `max_expansions`): the first `n` distinct corpus tokens within
    * the term's edit budget (and sharing its `prefixLength`-char
    * prefix), ordered (edit distance asc, token asc) — a deterministic
    * stand-in for Lucene's frequency-blended top-N selection
    * (documented deviation; Lucene's blend is itself heuristic). ONE
    * set spans the searched fields (ES expands per field; spanning is
    * deterministic and identical on the scan and index paths, which is
    * what lets both serve one oracle). The collect is a bounded driver
    * artifact: at most `n` (≤ [[MaxExpansionsCeiling]]) tokens per
    * query term — the same bounded-artifact tier as the IVF codebook
    * and BPE merge rounds. */
  private[graft] def fuzzyExpansionSets(
      df: DataFrame, fields: Seq[String], terms: Seq[String],
      edits: Seq[Int], prefixLength: Int,
      n: Int, transpositions: Boolean = true): Map[String, Seq[String]] = {
    val vocab = vocabulary(df, fields, n)
    terms.zip(edits).map { case (t, e) =>
      val p = t.take(prefixLength)
      val base =
        if (p.isEmpty) vocab
        else vocab.filter(col("tok").startsWith(p))
      t -> base.filter(editDistance(col("tok"), t, transpositions) <= e)
        .withColumn("_d", editDistance(col("tok"), t, transpositions))
        .orderBy(col("_d").asc, col("tok").asc)
        .limit(n)
        .select("tok").collect().map(_.getString(0)).toSeq
    }.toMap
  }

  /** The capped PREFIX expansion set (ES `match_phrase_prefix`
    * `max_expansions`): the first `n` distinct corpus tokens starting
    * with `prefix`, ordered token asc (deterministic — Lucene takes
    * dictionary order here too). Bounded driver artifact like
    * [[fuzzyExpansionSets]]. */
  private[graft] def prefixExpansionSet(df: DataFrame,
                                        fields: Seq[String],
                                        prefix: String,
                                        n: Int): Seq[String] = {
    vocabulary(df, fields, n)
      .filter(col("tok").startsWith(prefix))
      .orderBy(col("tok").asc).limit(n)
      .collect().map(_.getString(0)).toSeq
  }

  /** The distinct tokens (`tok`) of `fields` — the corpus dictionary
    * an expansion capped at `n` ([[MaxExpansionsCeiling]] at most)
    * draws from. */
  private def vocabulary(df: DataFrame, fields: Seq[String],
                         n: Int): DataFrame = {
    require(n > 0 && n <= MaxExpansionsCeiling,
      s"max_expansions must be 1..$MaxExpansionsCeiling")
    df.select(explode(fields.map(f =>
        graft.functions.TextFunctions.analyzerTokens(col(f)))
      .reduce((a, b) => concat(a, b))).as("tok")).distinct()
  }

  /** FUZZY search (ES `match` with `fuzziness`): a field token matches a
    * query term when their Levenshtein distance is within the term's
    * resolved edit budget (Damerau–Levenshtein under the default
    * `transpositions = true`, ES's default; plain Levenshtein under
    * explicit false); scored by the total count of fuzzy-matching
    * tokens across `fields` (OR across terms), full rows returned like
    * [[multiField]]. The per-token HOF distance scan is the corpus-scan
    * oracle twin of [[graft.sinks.SearchIndex.fuzzy]]'s
    * vocabulary-expansion probe.
    *
    * `prefixLength` (ES `prefix_length`): the first `prefixLength`
    * characters are exempt from edits — a token must share them with
    * the query term exactly. Levenshtein over the FULL strings equals
    * Levenshtein over the suffixes when the prefixes agree (standard DP
    * property), so this is exactly Lucene's nonFuzzyPrefix semantics.
    * `maxExpansions` (ES `max_expansions`): the match set is capped to
    * the [[fuzzyExpansionSets]] expansion per term; absent = unbounded
    * (the engine's documented fuzzy family — no vocabulary probe). */
  def multiFieldFuzzy(df: DataFrame, query: String, fields: Seq[String],
                      fuzziness: String = "AUTO", limit: Int = 100,
                      after: Option[(Double, Any)] = None,
                      boosts: Map[String, Double] = Map.empty,
                      prefixLength: Int = 0,
                      maxExpansions: Option[Int] = None,
                      transpositions: Boolean = true): DataFrame = {
    require(prefixLength >= 0, "prefix_length must be >= 0")
    val terms =
      graft.functions.TextFunctions.analyzeText(query).distinct
    require(terms.nonEmpty, "empty query")
    val edits = terms.map(t => fuzzyEdits(t, fuzziness).getOrElse(
      throw new IllegalArgumentException(
        s"invalid fuzziness '$fuzziness'")))
    val expansions = maxExpansions.map(n =>
      fuzzyExpansionSets(df, fields, terms, edits, prefixLength, n,
        transpositions))
    val toks = fields.map(f => f ->
      graft.functions.TextFunctions.analyzerTokens(col(f)))
    def cnt(t: String, e: Int): Seq[(String, Column)] = toks.map {
      case (f, ts) =>
        val c = expansions match {
          case Some(exp) =>
            val set = exp(t)
            if (set.isEmpty) lit(0)
            else size(filter(ts, x => x.isInCollection(set)))
          case None =>
            val p = t.take(prefixLength)
            val fuzzyOk =
              (x: Column) => editDistance(x, t, transpositions) <= e
            if (p.isEmpty) size(filter(ts, fuzzyOk))
            else size(filter(ts, x => x.startsWith(p) && fuzzyOk(x)))
        }
        f -> c
    }
    topRows(df, terms.zip(edits).map { case (t, e) =>
      cnt(t, e).map { case (f, c) => boosted(f, c, boosts) }
        .reduce(_ + _)
    }.reduce(_ + _), limit, after)
  }
}
