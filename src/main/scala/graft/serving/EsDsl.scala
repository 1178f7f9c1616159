package graft.serving

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Translator for the COMMON CORE of the Elasticsearch query DSL — the
  * bodies the reference's `/search/advanced` forwards VERBATIM to ES
  * (reference: src/search_api.py:38-46, src/es_connector.py:85-95), so
  * a reference client's existing request bodies run unchanged here.
  *
  * Supported: `match_all`, `term`, `terms`, `ids`, `range`
  * (gt/gte/lt/lte), `exists`, `constant_score`, `wildcard` / `prefix` /
  * `regexp` (term-level pattern queries — LIKE / anchored RLIKE
  * rewrites), `match` (BM25-scored, operator and/or, fuzziness),
  * `match_phrase` (token adjacency, count-scored like Search.phrase;
  * `slop` switches to ordered proximity — Search.slopPhrase),
  * `multi_match` (most_fields/best_fields, `field^boost`, operator,
  * minimum_should_match, fuzziness + prefix_length/max_expansions),
  * `match_phrase_prefix` (search-as-you-type: sloppy phrase + final
  * prefix slot), `fuzzy` (term-level), `query_string` (the STRICT
  * full Lucene classic syntax — [[QueryString]]: field scoping,
  * classic AND/OR occur resolution, +/-/NOT, ranges, wildcards,
  * boosts, `_exists_`), `dis_max` (best subquery +
  * tie_breaker), `boosting` (positive/negative demotion), top-level
  * `knn` (ES 8.x vector search — exact brute-force + the IVF-routed
  * [[searchKnnIvf]] twin, filtered, dimension-checked), HYBRID
  * `knn` + `query` (additive union) and `rank: {"rrf"}` (reciprocal
  * rank fusion over both retrievers' windows),
  * `function_score` (field_value_factor / filtered weights with
  * score_mode/boost_mode/max_boost/min_score), `nested` with
  * `inner_hits` (the matching elements ride each hit) (per-element
  * queries and element-bucketing aggs over array-of-struct columns),
  * `match_bool_prefix`, `terms_set` (per-document match threshold),
  * `more_like_this` (tf·idf term selection over text likes),
  * `rank_feature` / `distance_feature` / `pinned` (ranking family),
  * the SPAN family (`span_term` / `span_or` / `span_near` ordered and
  * unordered / `span_first` / `span_not` — positional algebra over
  * the same token scan the phrase family uses, span-frequency
  * scored), `intervals` (`match` rules with ordered/max_gaps,
  * `any_of` union), `script_score` / `script` / `match_none` (the
  * Painless ARITHMETIC subset — `_score`, `doc['f'].value`,
  * `params.*` — compiled to codegen'd Columns by [[BucketScript]];
  * method calls reject by name),
  * `function_score` decay functions (gauss/exp/linear over numeric
  * and timestamp origins), `wrapper` (base64 decode + recurse),
  * `geo_distance` / `geo_bounding_box` (struct<lat,lon> geo_point
  * columns, haversine on the Lucene mean radius, date-line wrap),
  * `bool`
  * (must/filter/should/must_not with ES's scoring and
  * minimum_should_match defaulting), plus top-level `from`/`size`,
  * `sort` (field asc/desc and `_score`; one shared entry grammar with
  * the string shorthand), `_source`, `collapse`,
  * `search_after`, `highlight`, `rescore` (two-phase window
  * re-ranking), `min_score`, `post_filter` (hits narrow AFTER
  * aggregations — the faceted-search contract), a validated top-level
  * key inventory (unknown keys reject by name; track_total_hits and
  * timeout accepted-ignored), and all THREE ES suggester families —
  * the term suggester (spell correction from the vocabulary), the
  * phrase suggester (whole-phrase corrections under a bigram
  * stupid-backoff LM — [[phraseSuggest]]), and the completion
  * suggester (whole-value prefix autocomplete —
  * [[completionSuggest]]) — with several named suggesters per body,
  * each its own response section. The
  * aggregation surface (terms with knobs and nesting, multi_terms,
  * composite, histogram family with min_doc_count 0 gap filling +
  * extended_bounds, range/date_range/filters/missing/adjacency_matrix,
  * ip_range (from/to + CIDR masks over dotted quads),
  * significant_terms/significant_text, nested (+ reverse_nested
  * parent counts riding the same aggregation), filter, global,
  * sampler/diversified_sampler (sub-aggs over the top-scoring
  * shard_size docs — deterministic via the id tiebreak — with the
  * per-value diversity cap; metric children or ONE recursing bucket
  * child), the geo family — geo_distance rings, geotile_grid
  * slippy-map tiles, geohash_grid from-scratch base32 cells (all
  * pure column arithmetic), geo_bounds with ES's wrap_longitude
  * resolve rule, geo_centroid —
  * rare_terms, auto_date_histogram, the full metric set plus
  * top_metrics/boxplot/median_absolute_deviation/string_stats/
  * matrix_stats, parent pipelines cumulative_sum/derivative/
  * serial_diff/moving_fn/normalize/bucket_script/bucket_selector/
  * bucket_sort — the scripted pair also on terms parents, ES's
  * reduce-phase HAVING — and sibling *_bucket reductions including
  * stats/extended_stats/percentiles_bucket) lives in
  * [[aggregations]]. Anything outside
  * this core throws `IllegalArgumentException` — the HTTP layer maps it
  * to a 400 with the offending construct named, never a silently-wrong
  * result.
  *
  * Scoring model — ES parity: `match`/`multi_match` clauses score with
  * REAL BM25, through the exact machinery `/search rank=bm25` uses
  * (the one [[Ranking]] kernel — same formulas, fixed-order float
  * sums, one rounding), so a replayed reference body ranks identically
  * to ES's Lucene BM25 shape and bit-identically to this engine's own
  * ranked endpoint. Filter-context clauses (term/terms/range/exists/
  * wildcard/prefix/regexp, bool.filter, bool.must_not) score 0 in
  * filter position and a constant 1.0 in query position (ES's
  * constant-score rewrite for term-level queries); `match_phrase`
  * scores with PHRASE-FREQUENCY BM25 — ES's PhraseQuery model: idf =
  * the sum of the phrase terms' idfs (one per position, like Lucene's
  * termStatistics collection), tf = the phrase occurrence count
  * (adjacent, or the ordered-proximity start count under `slop` — our
  * stand-in for Lucene's distance-weighted sloppyFreq, documented);
  * `match_phrase_prefix` / `match_bool_prefix` and the query-string
  * families keep occurrence-count scores (documented); `match` with
  * `fuzziness` scores by fuzzy-token occurrence counts (the documented
  * fuzzy family). `bool` sums must + matching should scores, exactly
  * ES's combination rule. All scores are doubles in a `_score` column;
  * the default order is (_score desc, id asc), and an explicit `sort`
  * always gets the id tiebreak appended so pagination is deterministic.
  *
  * Scale: predicates become Catalyst filters (pushed to the scan where
  * the format allows), constant scores become projections, and BM25
  * match scores arrive through ONE shared scoring pass for the whole
  * body ([[Search.rankedAllMulti]]): every match-family clause's
  * fields stack into a single tokenize+explode scan with one shared
  * statistics aggregate, and all per-clause scores come back as
  * columns of one (id, scores) join frame — query-term-sized after the
  * token filter, so AQE broadcasts it in the common case. A bool with
  * K match clauses costs 2 corpus scans + 1 join, not 2K + K. One
  * TakeOrdered serves the page. No driver-side evaluation, no collect.
  * When the target is the union document view, BM25 statistics span
  * the union as ONE corpus; a `data_lake_*` WILDCARD body routed
  * through [[searchAcrossIndexes]] instead scores every entity index
  * with its own per-index statistics (ES's wildcard semantics — IDF
  * is index-local), identically to `/search` `rank=bm25`.
  */
object EsDsl {

  private final case class Clause(pred: Column, score: Column)

  /** Marker column [[search]] binds to the table's id so `ids` clauses
    * can reference the document identity positionally, like ES's _id. */
  private[serving] val IdColMarker = "__graft_id__"

  /** The sub-compiled clause's score column ([[subCompile]]). */
  private val SubScore = "__sub_score__"

  /** Synthetic unique-row key the BM25 score joins ride on (equals the
    * id column, or the concat of the union view's (document_id, table)
    * pair — neither alone is unique there). */
  private val SidCol = "__graft_sid__"

  /** ES default `index.max_result_window`: from + size must stay within
    * it; deeper pages are the caller's error (ES 400s identically). */
  private val MaxResultWindow = 10000

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** An integer knob `k` of `node`: an integral number, or a string
    * that spells one; Right(None) when absent or null; Left names the
    * knob (the caller's 400). */
  private[serving] def intKnob(node: JsonNode,
                               k: String): Either[String, Option[Int]] =
    Option(node.get(k)).filterNot(_.isNull) match {
      case None => Right(None)
      case Some(n) if n.isIntegralNumber && n.canConvertToInt =>
        Right(Some(n.asInt))
      case Some(n) if n.isTextual && n.asText.trim.toIntOption.isDefined =>
        Right(n.asText.trim.toIntOption)
      case Some(_) => Left(s"$k must be an integer")
    }

  /** [[intKnob]] that 400s a malformed value. */
  private def intOpt(node: JsonNode, k: String): Option[Int] =
    intKnob(node, k).fold(bad, identity)

  /** A clause referenced a field the frame does not carry. Separate
    * type so [[percolatePreds]] can map EXACTLY the missing-field case
    * to ES's percolator never-matches semantics while every other
    * caller error (unsupported construct, malformed body) still 400s,
    * and while search-route callers keep the 400 they had. */
  private[serving] final class MissingFieldException(val field: String)
      extends IllegalArgumentException(s"unknown field '$field'")

  private def missingField(name: String): Nothing =
    throw new MissingFieldException(name)

  /** True when a driver-side analysis probe failed because a column
    * could not be resolved (the document shape lacks the field) — the
    * ONLY AnalysisException [[percolatePreds]] may map to never-match;
    * a type error in a stored query must stay loud. */
  private def isUnresolvedColumn(
      e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).exists(c =>
      c.startsWith("UNRESOLVED_COLUMN") ||
        c.startsWith("UNRESOLVED_FIELD") ||
        c.startsWith("FIELD_NOT_FOUND"))

  /** An object node's key list (Jackson's iterator, materialized). */
  private def keysOf(n: JsonNode): Seq[String] = {
    val it = n.fieldNames()
    val b = ArrayBuffer[String]()
    while (it.hasNext) b += it.next()
    b.toSeq
  }

  /** SIBLING pipeline kinds — a second top-level agg entry reducing
    * the bucket agg's table ([[aggregations]]). */
  private val SiblingKinds =
    Set("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
      "stats_bucket", "extended_stats_bucket", "percentiles_bucket")

  /** The agg-type key of one aggregation spec (skipping its nested
    * aggs/aggregations blocks). */
  private def kindOf(spec: JsonNode): String =
    keysOf(spec).find(k => k != "aggs" && k != "aggregations")
      .getOrElse(bad("aggregation has no agg type"))

  /** The name that keys the response's aggregations section: the BASE
    * bucket agg's (never a sibling pipeline's, regardless of key
    * order in the body) — the HTTP layer labels the flat bucket
    * table with it. */
  private[graft] def responseAggName(aggs: JsonNode): String = {
    val entries = keysOf(aggs)
    if (entries.isEmpty) bad("empty aggs")
    entries.find(n => !SiblingKinds(kindOf(aggs.get(n))))
      .getOrElse(entries.head)
  }

  /** ES fixed-interval / duration spec ("30s", "1d", …) → millis. */
  private def fixedIntervalMs(spec: String): Long = {
    val m = "([0-9]+)(ms|s|m|h|d)".r
    val ms = spec match {
      case m(n, unit) => n.toLong * (unit match {
        case "ms" => 1L
        case "s"  => 1000L
        case "m"  => 60000L
        case "h"  => 3600000L
        case "d"  => 86400000L
      })
      case _ => bad(s"malformed interval '$spec'")
    }
    if (ms <= 0) bad("interval must be positive")
    ms
  }

  /** Per-request translation context: carries the target frame so
    * match-family clauses can derive their BM25 (id, score) join
    * frames while the clause tree is compiled. */
  /** Resolves an index NAME to its target frame + tiebreak columns —
    * the HTTP layer's `dslTarget` shape, threaded to the clauses that
    * reference OTHER indexes (terms lookup). */
  type IndexResolver = String => Option[(DataFrame, Seq[String])]

  /** Parent/child relations for a DSL target — the relational analog
    * of ES's join field. `children` maps a child TYPE name to (child
    * frame, the child column holding the parent's id); `parents` maps
    * a parent TYPE name to (parent frame, THIS table's column holding
    * that parent's id). The parent's own id is its first column (the
    * same identity every scorer tiebreaks on). Registered per target
    * by the caller — the HTTP layer derives them from the lake's
    * foreign keys; ES derives the same structure from the join-field
    * mapping. */
  final case class Relations(
    children: Map[String, (DataFrame, String)] = Map.empty,
    parents: Map[String, (DataFrame, String)] = Map.empty)

  private final class Ctx(df: DataFrame, sid: Column,
                          statsIndex: Option[String] = None,
                          lookupResolver: Option[IndexResolver] = None,
                          relations: Relations = Relations()) {

    def childRelation(tpe: String): (DataFrame, String) =
      relations.children.getOrElse(tpe,
        bad(s"unknown child type '$tpe' — no child relation is " +
          "registered for this index"))

    def parentRelation(tpe: String): (DataFrame, String) =
      relations.parents.getOrElse(tpe,
        bad(s"unknown parent type '$tpe' — no parent relation is " +
          "registered for this index"))

    /** Per-document AUXILIARY join frames (parent/child clauses): each
      * entry is (left join key, a frame whose first column
      * `<tag>_key` joins against it). [[foldJoins]] left-joins them
      * into the hit path after the score fold — the clause's
      * pred/score columns resolve there. Keys are grouped on the
      * child side first, so each frame is parent-cardinality-bounded
      * and the join never fans out. */
    private val joinFrames = ArrayBuffer[(Column, DataFrame)]()

    /** Queue `frame` for the hit-path fold; returns the tag naming
      * its columns (`<tag>_key`, `<tag>_cnt`, `<tag>_score`). `key`
      * defaults to the document id. */
    def registerJoin(frame: String => DataFrame,
                     key: Option[Column] = None): String = {
      val tag = s"__join_${joinFrames.size}"
      joinFrames += ((key.getOrElse(sid), frame(tag)))
      tag
    }

    def foldJoins(base: DataFrame): DataFrame =
      joinFrames.foldLeft(base) { case (b, (k, fr)) =>
        val keyCol = fr.columns.head
        b.join(fr, k.cast("string") === fr(keyCol).cast("string"),
          "left").drop(keyCol)
      }

    /** ES terms-LOOKUP resolution (`{"terms": {f: {index, id,
      * path}}}`): the referenced document's `path` values become the
      * clause's term list. ES performs ONE GET by id at query-rewrite
      * time; the equivalent here is a point-lookup collect of a single
      * row's single field — a bounded driver artifact (the id
      * predicate pushes to the lookup scan). A missing document
      * resolves to NO terms (ES's contract: the clause matches
      * nothing), never an error. */
    def termsLookup(index: String, id: String, path: String): Seq[Any] = {
      val resolve = lookupResolver.getOrElse(
        bad("terms lookup needs an index catalog — serve this body " +
          "through a caller that registers one (the HTTP layer does)"))
      val (ldf, lties) = resolve(index).getOrElse(
        bad(s"unknown terms-lookup index '$index'"))
      if (!ldf.columns.contains(path))
        bad(s"terms-lookup path '$path' is not a field of '$index'")
      val idCol = lties.headOption.getOrElse(ldf.columns.head)
      val rows = ldf.filter(col(idCol).cast("string") === lit(id))
        .select(col(path)).limit(2).collect()
      if (rows.length > 1)
        bad(s"terms-lookup id '$id' is not unique in '$index'")
      rows.headOption.map(_.get(0)).toSeq.flatMap {
        case null                       => Seq.empty[Any]
        case s: scala.collection.Seq[_] =>
          s.toSeq.filter(_ != null)
        case a                          => Seq(a)
      }
    }
    /** inner_hits projections queued by nested clauses: (response
      * column name, the matching-elements array). Applied to the hit
      * PAGE alongside highlight/fields columns (page-sized work,
      * surviving _source the same way) — a pure array projection, no
      * join, no extra scan. */
    private val innerHits = ArrayBuffer[(String, Column)]()

    def registerInnerHits(name: String, c: Column): Unit = {
      if (innerHits.exists(_._1 == name))
        bad(s"duplicate inner_hits name '${name.stripPrefix("inner_hits_")}'")
      innerHits += ((name, c)); ()
    }

    def innerHitCols: Seq[(String, Column)] = innerHits.toSeq

    /** Match-family clauses QUEUED for the one shared scoring pass
      * ([[Search.rankedAllMulti]]) — replaces round 9's
      * one-scored-frame-per-clause design, where a bool with K
      * match clauses cost K corpus scans + K shuffled joins (the
      * adjudicated scale weakness). All clauses now ride 2 scans and
      * ONE join regardless of K, with bit-identical scores (each
      * clause keeps its own fixed-order conditional sums and its own
      * one-time rounding inside the shared aggregation). */
    private val rankFields = ArrayBuffer[Search.RankField]()
    private val rankClauses = ArrayBuffer[Search.RankClause]()

    private def intern(key: String, expr: Column): Unit =
      if (!rankFields.exists(_.key == key)) {
        rankFields += Search.RankField(key, expr); ()
      }

    /** FILTER-CONTEXT depth — ES skips scoring entirely inside filter
      * context (bool.filter, must_not, constant_score, function-score
      * filters, knn filters, filter aggregations), and so does this
      * translator: while > 0, [[bm25Score]]/[[bm25Combined]]/
      * [[phraseBm25Score]] queue NOTHING and return a constant 0.0 —
      * a filter-position match/phrase clause costs its row-level
      * predicate only, never a statistics scan or a score join. The
      * ONE construct whose predicate READS a score —
      * `function_score` with `min_score` — escapes the suppression
      * through [[scoringNeeded]]. */
    private var filterDepth = 0

    /** While true, a scoring registration could never resolve — the
      * caller compiles AFTER the hit path's score-join fold
      * (aggregation filters) or on a path with no fold at all
      * (knn-only bodies). [[scoringNeeded]] rejects by name here
      * instead of registering an unresolvable column. */
    private var noResolve = false

    /** Compile `body` in filter context. */
    def inFilter[A](body: => A): A = {
      filterDepth += 1
      try body finally filterDepth -= 1
    }

    /** Compile `body` where score registrations could not resolve
      * (post-fold aggregations, fold-less knn-only paths). */
    def withoutScoreJoins[A](body: => A): A = {
      val saved = noResolve
      noResolve = true
      try body finally noResolve = saved
    }

    /** Escape hatch for the min_score case: compile `body` with REAL
      * scores even under filter context — legal only where the score
      * join can still resolve, else a named 400. */
    def scoringNeeded[A](body: => A): A = {
      if (noResolve)
        bad("a min_score-bearing function_score cannot resolve its " +
          "scores here (aggregation filters and knn-only filters " +
          "compile after the scoring fold); move it to query context")
      val saved = filterDepth
      filterDepth = 0
      try body finally filterDepth = saved
    }

    private def inFilterCtx: Boolean = filterDepth > 0

    /** Capped fuzzy expansion sets over THIS request's target frame —
      * [[Search.fuzzyExpansionSets]] (bounded driver artifact: ≤ n
      * tokens per query term). */
    def expansions(fields: Seq[String], terms: Seq[String],
                   edits: Seq[Int], prefixLength: Int, n: Int,
                   transpositions: Boolean): Map[String, Seq[String]] =
      Search.fuzzyExpansionSets(df, fields, terms, edits, prefixLength,
        n, transpositions)

    /** Capped prefix expansion ([[Search.prefixExpansionSet]]) for
      * match_phrase_prefix's final slot. */
    def prefixExpansion(fields: Seq[String], prefix: String,
                        n: Int): Seq[String] =
      Search.prefixExpansionSet(df, fields, prefix, n)

    /** The target frame's string columns — ES's `fields: ["*"]`
      * default for simple_query_string and query_string. */
    def stringFields: Seq[String] = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq

    /** All target columns — field-scope validation for query_string's
      * `field:atom` syntax (an unknown field is the caller's error). */
    def columns: Seq[String] = df.columns.toSeq

    /** The UNFILTERED target frame — the `global` agg's scope and
      * significant_terms' background corpus (both defined against the
      * whole index, not the query's match set). */
    def raw: DataFrame = df

    /** The struct-field names of an array-of-struct column — the
      * `nested` query's path target (ES nested docs ≡ array<struct>
      * columns here); None when the column is absent or flat. */
    def nestedFields(path: String): Option[Seq[String]] =
      df.schema.fields.find(_.name == path).flatMap(_.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            st: org.apache.spark.sql.types.StructType, _) =>
          Some(st.fieldNames.toSeq)
        case _ => None
      })

    /** (corpus doc count, per-term document frequency over `fields`)
      * for a FIXED term set — more_like_this's term-selection
      * statistics. Bounded driver artifact: the result is at most
      * |terms| rows (the same contract as
      * [[Search.fuzzyExpansionSets]]'s vocabulary probes).
      *
      * When the request carries a `statsIndex` and the clause targets
      * ONE indexed field, the numbers come from the index's
      * `fieldstats`/`termstats` tables ([[graft.sinks.SearchIndex
      * .docFreqs]] — query-term-sized IO, bit-identical integers)
      * instead of two corpus scans. Multi-field MLT stays on the scan
      * (per-field df cannot reconstruct any-field df: a doc holding
      * the term in two fields would double-count). */
    def docFreqs(fields: Seq[String],
                 terms: Seq[String]): (Long, Map[String, Long]) = {
      val indexed = statsIndex
        .filter(_ => fields.size == 1)
        .filter(p => graft.sinks.SearchIndex.exists(p) &&
          graft.sinks.SearchIndex.readMeta(p).fields.contains(fields.head))
      indexed.foreach { p =>
        return graft.sinks.SearchIndex.docFreqs(
          df.sparkSession, p, fields.head, terms)
      }
      val toks = fields.map(f => graft.functions.TextFunctions.analyzerTokens(col(f).cast("string")))
      val all = if (toks.size == 1) array_distinct(toks.head)
        else array_distinct(flatten(array(toks: _*)))
      val freqs = df.select(explode(all).as("__t"))
        .filter(col("__t").isInCollection(terms))
        .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (df.count(), freqs)
    }

    /** BM25 over the fields CONCATENATED AS ONE synthetic field —
      * combined_fields' term-centric model: one dl (the summed token
      * count), one df per term (present in ANY field), one avgdl. The
      * derived column interns into the shared pass like any other
      * field, so the score math (fixed-order sums, one rounding)
      * stays oracle-shared with the match family. */
    def bm25Combined(query: String, fields: Seq[String]): Column = {
      if (inFilterCtx) return lit(0.0)
      val name = s"__bm25_${rankClauses.size}"
      val key = s"__combined_${rankClauses.size}__"
      intern(key, concat_ws(" ",
        fields.map(f => coalesce(col(f).cast("string"), lit(""))): _*))
      rankClauses += Search.RankClause(queryTerms(query, "standard"),
        Seq(key -> 1.0), bestFields = false)
      coalesce(col(name), lit(0.0))
    }

    /** Queue a BM25 score clause for `query` over `fields`; returns
      * the per-row score column (0.0 where the clause matched
      * nothing). Bit-identical to `/search rank=bm25` by construction
      * — the shared pass runs the one [[Ranking]] combiner per
      * clause. */
    def bm25Score(query: String, fields: Seq[(String, Double)],
                  bestFields: Boolean,
                  analyzer: String = "standard"): Column = {
      if (inFilterCtx) return lit(0.0)
      val name = s"__bm25_${rankClauses.size}"
      // a query-time analyzer changes ONLY the term list (english's
      // stems, whitespace's case-kept splits, keyword's whole value);
      // the fields, document tokens and BM25 statistics stay
      // standard — exactly ES against the reference's
      // standard-analyzed mappings, where the rewritten query terms
      // are searched against the standard index terms
      fields.foreach { case (f, _) => intern(f, col(f)) }
      rankClauses += Search.RankClause(queryTerms(query, analyzer),
        fields, bestFields)
      coalesce(col(name), lit(0.0))
    }

    // -- phrase-frequency BM25 ------------------------------------------
    // ES scores match_phrase with BM25: idf = the SUM of the phrase
    // terms' idfs (Lucene PhraseQuery weights collect termStatistics
    // for every position), tf = the phrase frequency. The statistics
    // (corpus count, per-field total length, per-(field, term) doc
    // frequency) are SINGLE-ROW aggregates — every phrase clause of a
    // body shares ONE aggregate over the corpus, broadcast back as a
    // cross join, so K phrase clauses cost one extra scan total, not K.
    private val phbFields = ArrayBuffer[String]()          // distinct
    private val phbTerms = ArrayBuffer[(String, String)]() // distinct
    private def phbUsed: Boolean = phbFields.nonEmpty

    /** Phrase-BM25 score column for a phrase over `field` whose
      * per-row phrase frequency is `pf` (exact-adjacency or sloppy
      * start count — the caller's matcher; our ordered-proximity count
      * stands in for Lucene's distance-weighted sloppyFreq, documented
      * deviation). idf terms keep PHRASE ORDER including duplicates —
      * Lucene sums one idf per position. */
    def phraseBm25Score(field: String, terms: Seq[String],
                        pf: Column): Column = {
      if (inFilterCtx) return lit(0.0)
      if (!phbFields.contains(field)) { phbFields += field; () }
      terms.distinct.foreach(t =>
        if (!phbTerms.contains((field, t))) { phbTerms += ((field, t)); () })
      val fi = phbFields.indexOf(field)
      val dl = graft.functions.TextFunctions.analyzerTokenCount(
        col(field))
      val idfSum = terms.map { t => Ranking.bm25Idf(col("__phb_n"),
        col(s"__phb_df_${phbTerms.indexOf((field, t))}"))
      }.reduce(_ + _)
      Search.round4(idfSum *
        Ranking.bm25Saturation(pf, dl, col(s"__phb_avgdl_$fi")))
    }

    /** Cross-fields BM25 (ES `multi_match type=cross_fields` —
      * Lucene's BlendedTermQuery): per TERM, every field's saturated
      * tf scores with ONE blended idf whose document frequency is the
      * MAX across the fields (the blend — a term frequent in any
      * field is "frequent" for all of them), the per-field scores
      * combine via dis_max + `tie_breaker`, and the terms sum. The
      * statistics (n, per-field avgdl, per-(field, term) df) ride the
      * SAME single-row frame as the phrase family — one corpus
      * aggregate (or one index probe) serves both. */
    def crossFieldsScore(terms: Seq[String],
                         fields: Seq[(String, Double)],
                         tieBreaker: Double): Column = {
      if (inFilterCtx) return lit(0.0)
      fields.foreach { case (f, _) =>
        if (!phbFields.contains(f)) { phbFields += f; () } }
      for ((f, _) <- fields; t <- terms)
        if (!phbTerms.contains((f, t))) { phbTerms += ((f, t)); () }
      val termScores = terms.map { t =>
        val dfs = fields.map { case (f, _) =>
          col(s"__phb_df_${phbTerms.indexOf((f, t))}") }
        val dfMax = if (dfs.size == 1) dfs.head else greatest(dfs: _*)
        val idf = Ranking.bm25Idf(col("__phb_n"), dfMax)
        val parts = fields.map { case (f, b) =>
          val fi = phbFields.indexOf(f)
          val tf = Search.substrCount(Search.tokenNorm(col(f)), s" $t ")
          val dl = graft.functions.TextFunctions.analyzerTokenCount(
            col(f))
          val raw = idf *
            Ranking.bm25Saturation(tf, dl, col(s"__phb_avgdl_$fi"))
          if (b == 1.0) raw else raw * b
        }
        val best = if (parts.size == 1) parts.head
          else greatest(parts: _*)
        if (tieBreaker == 0.0) best
        else best + lit(tieBreaker) * (parts.reduce(_ + _) - best)
      }
      Search.round4(termScores.reduce(_ + _))
    }

    /** The ONE single-row statistics frame every phrase clause's score
      * references — None when the body had no scored phrase. Broadcast
      * cross-joined into the hit path by [[searchParts]]. */
    def phraseStatsFrame: Option[DataFrame] =
      if (!phbUsed) None
      else statsIndex
        .filter(graft.sinks.SearchIndex.exists)
        .filter(p => {
          val indexed = graft.sinks.SearchIndex.readMeta(p).fields.toSet
          phbFields.forall(indexed.contains)
        }) match {
      case Some(p) =>
        // the statistics live in the write-time index: n/sumdl in
        // fieldstats, per-(field, term) doc frequency in termstats —
        // integer-identical to the corpus aggregate below (the index
        // maintains the same exact integer sums; SearchIndexSpec pins
        // probe == rebuild), so the phrase scores stay bit-identical
        // while the stats pass costs two tiny index reads instead of
        // a corpus scan
        Some(graft.sinks.SearchIndex.phraseStats(df.sparkSession, p,
          phbFields.toSeq, phbTerms.toSeq))
      case None =>
        val aggs =
          phbFields.toSeq.zipWithIndex.map { case (f, fi) =>
            sum(graft.functions.TextFunctions.analyzerTokenCount(
              col(f))).as(s"__phb_sumdl_$fi") } ++
          phbTerms.toSeq.zipWithIndex.map { case ((f, t), ti) =>
            sum(when(Search.substrCount(Search.tokenNorm(col(f)),
              s" $t ") > 0, 1L).otherwise(0L)).as(s"__phb_df_$ti") }
        val row = df.agg(count(lit(1)).as("__phb_n"), aggs: _*)
        Some(row.select(
          col("__phb_n") +:
          (phbFields.indices.map(fi =>
            (col(s"__phb_sumdl_$fi").cast("double") / col("__phb_n"))
              .as(s"__phb_avgdl_$fi")) ++
           phbTerms.indices.map(ti => col(s"__phb_df_$ti"))): _*))
    }

    /** The ONE (sid, per-clause score) frame of every queued clause —
      * None when the body had no match-family clause. Built AFTER the
      * whole clause tree (rescore included) compiles, so every queued
      * clause resolves.
      *
      * When the request carries a `statsIndex` covering every
      * interned field (plain columns — combined_fields' derived
      * concat is not indexed), each clause scores by ONE write-time
      * postings probe ([[graft.sinks.SearchIndex.rankedScores]] —
      * query-term-sized IO, zero corpus scans; ES's operational
      * shape) and the per-clause frames full-outer join on the id.
      * Bit-identical to the shared scan pass: SearchIndexSpec pins
      * probe == scan per clause, and a doc missing from a clause's
      * frame coalesces to the same 0.0. Falls back to
      * [[Search.rankedAllMulti]]'s 2-scans-total shared pass when no
      * index covers the fields. */
    def scoreFrame: Option[DataFrame] =
      if (rankClauses.isEmpty) None
      else {
        val probe = statsIndex
          .filter(graft.sinks.SearchIndex.exists)
          .filter { p =>
            val indexed =
              graft.sinks.SearchIndex.readMeta(p).fields.toSet
            // english clauses ride the probe path too: their terms
            // are query-side stems searched as LITERAL standard
            // terms, so the standard postings are exactly the right
            // index for them
            rankFields.forall { rf =>
              !rf.key.startsWith("__combined_") &&
                indexed.contains(rf.key) } &&
            // a clause listing the same field twice keeps per-ENTRY
            // boosts on the scan path; the probe's boost Map would
            // collapse them — fall back rather than diverge
            rankClauses.forall(cl =>
              cl.fields.map(_._1).distinct.size == cl.fields.size)
          }
        probe match {
          case Some(p) =>
            val spark = df.sparkSession
            val frames = rankClauses.toSeq.zipWithIndex.map {
              case (cl, i) =>
                graft.sinks.SearchIndex.rankedScores(spark, p,
                  cl.terms.mkString(" "), cl.fields.map(_._1),
                  bestFields = cl.bestFields,
                  boosts = cl.fields.filter(_._2 != 1.0).toMap)
                  .toDF(SidCol, s"__bm25_$i")
            }
            Some(frames.reduce(_.join(_, Seq(SidCol), "full")))
          case None =>
            Some(Search.rankedAllMulti(df.withColumn(SidCol, sid),
              SidCol, rankFields.toSeq, rankClauses.toSeq))
        }
      }
  }

  /** Execute `body` (an ES search request) against `df` and return ONE
    * frame — the hits page, or the flat bucket table when the body
    * carries `aggs` (the registered-query contract; [[searchParts]]
    * returns both, the way ES's response holds both). `tiebreak` names
    * the columns appended to every sort so pagination is deterministic
    * — default the table's first column; the union document view needs
    * (document_id, table) since neither alone is unique. */
  def search(df: DataFrame, body: JsonNode,
             tiebreak: Seq[String] = Nil,
             statsIndex: Option[String] = None,
             lookup: Option[IndexResolver] = None,
             relations: Relations = Relations()): DataFrame = {
    // a knn-only body with suggest reaches searchParts, whose knn
    // branch rejects the stray suggest BY NAME; hybrid (query + knn)
    // with suggest hits the same single-frame rejection as
    // query + suggest — never a silent drop
    if (body.hasNonNull("suggest")) {
      if (body.hasNonNull("query"))
        bad("this single-frame API cannot return hits AND " +
          "suggestions; use searchParts (the HTTP layer serves both " +
          "sections of a combined body in one response)")
      if (!body.hasNonNull("knn"))
        return suggest(df, body.get("suggest"))
    }
    val (hits, aggs) =
      searchParts(df, body, tiebreak, statsIndex, lookup, relations)
    aggs.getOrElse(hits)
  }

  /** ES TERM SUGGESTER (`{"suggest": {"<name>": {"text": ...,
    * "term": {"field": ...}}}}` — a suggest-only body, the
    * spell-correction surface): for every analyzed token of `text`,
    * the corpus vocabulary terms within `max_edits` (1..2, Lucene's
    * budget), ranked (distance asc, frequency desc, term asc) and
    * cut to `size` per token. `suggest_mode` missing (default) stays
    * silent for tokens already in the vocabulary; `always` suggests
    * regardless. One vocabulary aggregation (term-cardinality-sized)
    * + a literal token-array explode — no joins; the per-token
    * window ranks query-sized groups. Output is the flat
    * (token, suggestion, distance, freq) table — the relational
    * projection of ES's suggest response. Scoring deviation,
    * documented: ES ranks by its internal string-similarity score;
    * this engine ranks by the same (distance, frequency) keys Lucene
    * uses to break score ties — deterministic and oracle-able. */
  def suggest(df: DataFrame, sg: JsonNode): DataFrame = {
    suggesterKind(sg) match {
      case "phrase" => return phraseSuggest(df, sg)
      case "completion" => return completionSuggest(df, sg)
      case _ => ()
    }
    val sp = parseSuggest(sg)
    val f = sp.field
    // vocabulary with DOCUMENT frequencies (array_distinct before the
    // explode) — ES's suggester `freq` is the doc freq, the same
    // number the write-time index's termstats carries, so the indexed
    // probe shares this oracle
    val vocab = df.filter(col(f).isNotNull)
      .select(explode(array_distinct(graft.functions.TextFunctions
        .tokens(lower(col(f))))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    suggestFromVocab(vocab, sp.tokens, sp.size, sp.maxEdits, sp.mode,
      sp.sortByFreq)
  }

  /** The one named term-suggester of a suggest body, validated —
    * shared by the scan path above and the HTTP layer's index
    * routing (which needs the field/knobs to pick the termstats
    * probe). `mode` is ES's suggest_mode (missing / always /
    * popular); `sortByFreq` is its `sort: "frequency"`. */
  private[graft] final case class SuggestSpec(field: String,
                                              text: String, size: Int,
                                              maxEdits: Int,
                                              mode: String,
                                              sortByFreq: Boolean,
                                              analyzer: String =
                                                "standard") {
    /** The analyzed suggest-text tokens — under a non-standard
      * `analyzer` (ES accepts the knob here too) the chain's output
      * terms walk the field's STANDARD vocabulary by edit distance.
      * whitespace/keyword keep their RAW tokens here (no sentinel
      * gating — suggester tokens are response payload, and a
      * case-kept or out-of-alphabet token legitimately walks the
      * vocabulary like any misspelling; the match family's sentinel
      * contract is for count gating only). */
    def tokens: Seq[String] = analyzer match {
      case "standard" =>
        graft.functions.TextFunctions.analyzeText(text).distinct.toSeq
      case "whitespace" =>
        text.split("\\s+").toSeq.filter(_.nonEmpty).distinct
      case "keyword" => Seq(text).filter(_.nonEmpty)
      case a => EsDsl.queryTerms(text, a)
    }
  }

  private[graft] def parseSuggest(sg: JsonNode): SuggestSpec = {
    val s = soleSuggester(sg)
    val unknown = keysOf(s).filterNot(Set("text", "term"))
    if (unknown.nonEmpty)
      bad(s"unsupported suggester key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val text = Option(s.get("text")).map(_.asText)
      .getOrElse(bad("suggest needs \"text\""))
    val term = Option(s.get("term"))
      .getOrElse(bad("only the term and phrase suggesters are " +
        "supported"))
    val unknownT = keysOf(term).filterNot(Set("field", "size",
      "max_edits", "suggest_mode", "sort", "string_distance",
      "analyzer"))
    if (unknownT.nonEmpty)
      bad(s"unsupported term-suggester key" +
        s"${if (unknownT.size == 1) "" else "s"}: " +
        unknownT.mkString(", "))
    val f = Option(term.get("field")).map(_.asText)
      .getOrElse(bad("term suggester needs \"field\""))
    val size = intOpt(term, "size").getOrElse(5)
    if (size <= 0 || size > 100) bad("suggest size must be 1..100")
    val maxEdits = intOpt(term, "max_edits").getOrElse(2)
    if (maxEdits < 1 || maxEdits > 2) bad("max_edits must be 1 or 2")
    // all three ES modes: `missing` stays silent for in-vocabulary
    // tokens, `always` suggests regardless, `popular` suggests only
    // terms MORE FREQUENT than the input token (0 when absent)
    val mode = Option(term.get("suggest_mode")).map(_.asText)
      .getOrElse("missing")
    if (mode != "missing" && mode != "always" && mode != "popular")
      bad(s"unsupported suggest_mode '$mode' (missing/always/popular)")
    // sort: "score" is the engine's documented (distance, freq) rank;
    // "frequency" puts the corpus-frequency key first, ES's contract
    val sortByFreq = Option(term.get("sort")).map(_.asText) match {
      case None | Some("score") => false
      case Some("frequency")    => true
      case Some(other) =>
        bad(s"unsupported suggest sort '$other' (score/frequency)")
    }
    // the engine's ONE fuzzy metric is full Damerau (ES's `internal`
    // default) — other distances would answer a different question
    Option(term.get("string_distance")).map(_.asText).foreach {
      case "internal" | "damerau_levenshtein" => ()
      case other => bad(s"unsupported string_distance '$other' " +
        "(the engine's metric is damerau_levenshtein, ES's internal)")
    }
    val spec = SuggestSpec(f, text, size, maxEdits, mode, sortByFreq,
      matchAnalyzer(term))
    if (spec.tokens.isEmpty) bad("suggest text has no tokens")
    spec
  }

  /** The suggest section's named entries, in body order — ES allows
    * several suggesters per body; the single-frame [[suggest]] API
    * takes one, and the HTTP layer iterates, serving each name as its
    * own response section through [[oneSuggester]] wrappers. */
  /** The one named entry of a suggest section, NORMALIZED: the
    * suggest-level shared `text` injected ([[oneSuggester]]) and
    * exactly one name enforced — the single entry every one-frame
    * parser reads. */
  private def soleSuggester(sg: JsonNode): JsonNode = {
    val names = suggesterNames(sg)
    if (names.size != 1)
      bad("this single-frame API takes exactly one named suggester " +
        "(the HTTP layer serves multi-suggester bodies)")
    oneSuggester(sg, names.head).get(names.head)
  }

  private[graft] def suggesterNames(sg: JsonNode): Seq[String] = {
    // a suggest-level "text" is ES's SHARED default for every named
    // suggester, not a suggester itself
    val names = keysOf(sg).filterNot(_ == "text")
    if (names.isEmpty) bad("suggest needs at least one named suggester")
    names
  }

  /** A single-entry wrapper for one named suggester of a multi-entry
    * suggest section — the shape every single-suggester path expects.
    * The suggest-level shared `text` (ES's global default) is
    * injected into entries that carry neither their own `text` nor a
    * completion `prefix` (per-entry values override the global, and
    * the completion suggester reads the global text AS its prefix —
    * ES's fallback). */
  private[graft] def oneSuggester(sg: JsonNode, name: String): JsonNode = {
    val on = com.fasterxml.jackson.databind.node.JsonNodeFactory
      .instance.objectNode()
    val entry = sg.get(name)
    val e2 =
      if (sg.hasNonNull("text") && entry.isObject &&
          !entry.hasNonNull("text") && !entry.hasNonNull("prefix")) {
        val copy = entry.deepCopy[JsonNode]()
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        copy.set[JsonNode]("text", sg.get("text"))
        copy
      } else entry
    on.set[JsonNode](name, e2)
    on
  }

  /** Which suggester a suggest body's one named entry carries —
    * routing for the HTTP layer (only the term suggester has a
    * termstats index probe) and [[suggest]]. */
  private[graft] def suggesterKind(sg: JsonNode): String = {
    val s = soleSuggester(sg)
    val kinds = Seq("term", "phrase", "completion").filter(s.hasNonNull)
    if (kinds.size > 1)
      bad("a suggester entry takes exactly one of term/phrase/" +
        s"completion, got: ${kinds.mkString(", ")}")
    kinds.headOption.getOrElse(bad(
      "only the term, phrase and completion suggesters are supported"))
  }

  /** Per-position candidate budget for the phrase suggester — the
    * Lucene DirectCandidateGenerator shape (its default num_candidates
    * is 5 per generator; this engine keeps a wider fixed window so the
    * LM, not the generator, picks the winner). */
  private val PhraseCandidatesPerPosition = 32

  private[graft] final case class PhraseSuggestSpec(field: String,
                                                    text: String,
                                                    size: Int,
                                                    maxEdits: Int) {
    def tokens: Seq[String] = graft.functions.TextFunctions.analyzeText(text).toSeq
  }

  private[graft] def parsePhraseSuggest(sg: JsonNode): PhraseSuggestSpec = {
    val s = soleSuggester(sg)
    val unknown = keysOf(s).filterNot(Set("text", "phrase"))
    if (unknown.nonEmpty)
      bad(s"unsupported suggester key" +
        s"${if (unknown.size == 1) "" else "s"}: ${unknown.mkString(", ")}")
    val text = Option(s.get("text")).map(_.asText)
      .getOrElse(bad("suggest needs \"text\""))
    val ph = Option(s.get("phrase")).filter(_.isObject)
      .getOrElse(bad("phrase suggester needs a \"phrase\" object"))
    val unknownP = keysOf(ph)
      .filterNot(Set("field", "size", "max_edits", "max_errors"))
    if (unknownP.nonEmpty)
      bad(s"unsupported phrase-suggester key" +
        s"${if (unknownP.size == 1) "" else "s"}: " +
        unknownP.mkString(", "))
    val f = Option(ph.get("field")).map(_.asText)
      .getOrElse(bad("phrase suggester needs \"field\""))
    val size = intOpt(ph, "size").getOrElse(5)
    if (size <= 0 || size > 100) bad("suggest size must be 1..100")
    val maxEdits = intOpt(ph, "max_edits").getOrElse(2)
    if (maxEdits < 1 || maxEdits > 2) bad("max_edits must be 1 or 2")
    Option(ph.get("max_errors")).foreach { me =>
      if (!me.isNumber || me.asDouble != 1.0)
        bad("only max_errors 1 is supported (single-token corrections)")
    }
    val spec = PhraseSuggestSpec(f, text, size, maxEdits)
    if (spec.tokens.isEmpty) bad("suggest text has no tokens")
    spec
  }

  /** ES PHRASE SUGGESTER (`{"suggest": {"<name>": {"text": ...,
    * "phrase": {"field": ...}}}}`): whole-phrase corrections, ranked
    * by a word LANGUAGE MODEL over the corpus — ES's design (Lucene
    * PhraseSuggester: per-token candidate generation, then an n-gram
    * LM with stupid-backoff smoothing scores each corrected phrase;
    * reference clients reach it through the same verbatim-body
    * passthrough as every other suggester). This engine's model,
    * documented: single-token corrections (max_errors 1, the ES
    * default), candidates within `max_edits` of one token ranked
    * (distance, frequency, term) and capped at
    * [[PhraseCandidatesPerPosition]], each corrected phrase scored by
    * a BIGRAM stupid-backoff LM — log10 P(w0) + Σ log10 P(w_j|w_{j-1})
    * with P(w|a) = bigram(a,w)/unigram(a) when the bigram exists, else
    * 0.4·(unigram(w)+1)/(N+V), and the add-one unigram prior
    * (unigram(w)+1)/(N+V) — all counts TOTAL occurrences, exactly
    * reproducible by the DuckDB oracle. Scale: THREE driver-bounded
    * actions, the MLT doc-freq-probe pattern — (1) corpus totals (one
    * row), (2) per-position candidates + the query tokens' own counts
    * (≤ positions × the candidate cap rows), (3) exactly the
    * corrected phrases' bigram counts (a literal key-set filter that
    * pushes into the tokenized scan) — then query-sized arithmetic on
    * the driver; nothing corpus-sized shuffles or broadcasts. */
  def phraseSuggest(df: DataFrame, sg: JsonNode): DataFrame = {
    val sp = parsePhraseSuggest(sg)
    val toks = sp.tokens
    val n = toks.length
    val spark = df.sparkSession
    import spark.implicits._
    def emptyOut: DataFrame =
      Seq.empty[(String, Double)].toDF("suggestion", "score")
    // Three driver actions follow (totals, per-position candidates,
    // bigram counts). r19: the tokenized corpus and the unigram table
    // are STAGED so the corpus is tokenized ONCE — before, each action
    // re-ran the scan+tokenize (3 full corpus passes per request). The
    // harness owning the query lifecycle releases both at the query
    // boundary (StageCache contract).
    val docs = graft.StageCache.stage(df.filter(col(sp.field).isNotNull)
      .select(graft.functions.TextFunctions
        .tokens(lower(col(sp.field))).as("__ts")))
    val uni = graft.StageCache.stage(
      docs.select(explode(col("__ts")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("u")))
    // action 1: corpus totals (one row) — materializes docs + uni
    val statsRow = uni
      .agg(sum(col("u")).as("N"), count(lit(1)).as("V")).collect()(0)
    if (statsRow.isNullAt(0)) return emptyOut
    val nv = statsRow.getLong(0).toDouble + statsRow.getLong(1).toDouble
    // action 2: per-position candidates (within max_edits, identity
    // excluded, windowed cap) UNION the query tokens' own counts —
    // ONE query-sized collect over the staged unigram table, the MLT
    // doc-freq-probe pattern
    val posArr = array(toks.zipWithIndex.map { case (t, i) =>
      struct(lit(i).as("i"), lit(t).as("tok")) }: _*)
    val cand0 = uni
      .select(col("term"), col("u"), explode(posArr).as("p"))
      .select(col("term"), col("u"), col("p.i").as("i"),
        col("p.tok").as("tok"))
      .withColumn("d", graft.functions.ArrayExpressions
        .damerauLevenshtein(col("tok"), col("term")))
      .filter((col("d") <= sp.maxEdits && col("term") =!= col("tok")) ||
        col("d") === 0)
    val perPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("i"))
      .orderBy(col("d").asc, col("u").desc, col("term").asc)
    val candRows = cand0.withColumn("__rn", row_number().over(perPos))
      .filter(col("__rn") <= PhraseCandidatesPerPosition ||
        col("d") === 0)
      .select(col("i"), col("term"), col("u"), col("d"))
      .collect()
    val uCount: Map[String, Long] = candRows
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val cands: Seq[(Int, String)] = candRows.toSeq
      .filter(_.getInt(3) > 0)
      .map(r => (r.getInt(0), r.getString(1)))
    if (cands.isEmpty) return emptyOut
    // the corrected phrases and every bigram key they need
    val phrases: Seq[(String, Seq[String])] = cands.map { case (i, c) =>
      val seqd = toks.updated(i, c)
      (seqd.mkString(" "), seqd)
    }
    val bKeys = phrases.flatMap { case (_, s) =>
      (1 until n).map(j => s(j - 1) + "\u0001" + s(j)) }.distinct
    // action 3: exactly the needed bigram counts (query-sized result)
    // over the staged tokenized corpus — no re-tokenize
    val adjLen = greatest(size(col("__ts")) - 1, lit(0))
    val bCount: Map[String, Long] = docs
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), adjLen),
        slice(col("__ts"), lit(2), adjLen),
        (a, w) => concat_ws("\u0001", a, w))).as("k"))
      .filter(col("k").isInCollection(bKeys))
      .groupBy(col("k")).agg(count(lit(1)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver-side scoring over the query-sized candidate set — the
    // exact formula the oracle replays (j ascending, one sum)
    def u(w: String): Long = uCount.getOrElse(w, 0L)
    val scoredOut = phrases.map { case (text, s) =>
      val prior = math.log10((u(s.head) + 1.0) / nv)
      val rest = (1 until n).map { j =>
        val b = bCount.getOrElse(s(j - 1) + "\u0001" + s(j), 0L)
        if (b > 0) math.log10(b.toDouble / u(s(j - 1)).toDouble)
        else math.log10(0.4 * (u(s(j)) + 1.0) / nv)
      }
      (text, prior + rest.sum)
    }.sortBy { case (text, score) => (-score, text) }.take(sp.size)
    scoredOut.toDF("suggestion", "score")
  }

  /** The one named completion-suggester of a suggest body: the typed
    * prefix (or the `regex` form instead — ES's third completion
    * input shape, anchored at the input's start with an open end),
    * the target field, the option cap, the distinct-value gate, and
    * the resolved FUZZY knobs — `edits` already folds the AUTO ladder
    * (on the prefix, like ES) and `min_length` (a prefix shorter than
    * it matches exactly), so 0 = plain prefix. */
  /** One GEO context entry: the query point, its geohash precision
    * (resolved from a raw level or an ES distance string), its boost,
    * and the precisions at which NEIGHBOUR cells join the match set
    * (ES 8.11's GeoQueryContext default: the entry's own precision —
    * a verbatim body with no `neighbours` key matches the 3×3 cell
    * block, not just the exact cell). */
  private[graft] final case class GeoContextEntry(
      lat: Double, lon: Double, precision: Int, boost: Double,
      neighbours: Seq[Int])

  private[graft] final case class CompletionSuggestSpec(
      field: String, prefix: String, size: Int, skipDuplicates: Boolean,
      edits: Int = 0, fuzzyPrefixLength: Int = 1,
      transpositions: Boolean = true,
      contexts: Seq[(String, Seq[(String, Double)])] = Nil,
      regex: Option[String] = None,
      geoContexts: Seq[(String, Seq[GeoContextEntry])] = Nil)

  private[graft] def parseCompletionSuggest(
      sg: JsonNode): CompletionSuggestSpec = {
    val s = soleSuggester(sg)
    val unknown = keysOf(s)
      .filterNot(Set("prefix", "text", "completion", "regex"))
    if (unknown.nonEmpty)
      bad(s"unsupported completion-suggester key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        s"${unknown.mkString(", ")}")
    // ES's REGEX completion form: the pattern matches from the START
    // of the (case-folded) input with an open end — the FST walk
    // intersects the regex automaton and any continuation completes.
    // Mutually exclusive with a typed prefix, like ES's parser.
    val regex = Option(s.get("regex")).map { n =>
      if (!n.isTextual) bad("completion regex must be a string " +
        "(regex options are not supported)")
      val pat = n.asText
      if (pat.isEmpty) bad("completion regex must be non-empty")
      if (s.hasNonNull("prefix"))
        bad("completion takes \"prefix\" or \"regex\", not both")
      rejectLuceneRegexOps(pat)
      pat
    }
    // `text` is ES's prefix fallback (the suggest-level shared text
    // reaches completion entries this way); an explicit prefix wins
    val prefix =
      if (regex.isDefined) ""
      else Option(s.get("prefix")).orElse(Option(s.get("text")))
        .map(_.asText)
        .getOrElse(bad("completion suggester needs \"prefix\""))
    if (prefix.isEmpty && regex.isEmpty)
      bad("completion prefix must be non-empty")
    val cp = Option(s.get("completion")).filter(_.isObject)
      .getOrElse(bad("completion suggester needs a \"completion\" object"))
    val unknownC = keysOf(cp)
      .filterNot(Set("field", "size", "skip_duplicates", "fuzzy",
        "contexts"))
    if (unknownC.nonEmpty)
      bad(s"unsupported completion key" +
        s"${if (unknownC.size == 1) "" else "s"}: " +
        s"${unknownC.mkString(", ")}")
    val f = Option(cp.get("field")).map(_.asText)
      .getOrElse(bad("completion suggester needs \"field\""))
    val size = intOpt(cp, "size").getOrElse(5)
    if (size <= 0 || size > 100) bad("suggest size must be 1..100")
    val skip = Option(cp.get("skip_duplicates")).map { n =>
      if (!n.isBoolean) bad("skip_duplicates must be a boolean")
      n.asBoolean
    }.getOrElse(false)
    // ES's fuzzy completion: boolean true = all defaults, an object
    // carries the knobs. AUTO fuzziness resolves on the PREFIX length
    // (the typed text is what the automaton matches) and min_length
    // gates fuzziness off for short prefixes — both fold into `edits`
    // here so every consumer sees one resolved number.
    if (regex.isDefined && cp.hasNonNull("fuzzy"))
      bad("fuzzy applies to the prefix completion form, not regex")
    val (edits, fpl, ftr) = Option(cp.get("fuzzy")) match {
      case None => (0, 1, true)
      case Some(fn) if fn.isBoolean =>
        if (!fn.asBoolean) (0, 1, true)
        else (if (prefix.length < 3) 0
              else Search.fuzzyEdits(prefix, "AUTO").get, 1, true)
      case Some(fn) if fn.isObject =>
        val unknownF = keysOf(fn).filterNot(Set("fuzziness",
          "prefix_length", "min_length", "transpositions",
          "unicode_aware"))
        if (unknownF.nonEmpty)
          bad(s"unsupported completion fuzzy key" +
            s"${if (unknownF.size == 1) "" else "s"}: " +
            unknownF.mkString(", "))
        val fzSpec = Option(fn.get("fuzziness")).map(_.asText)
          .getOrElse("AUTO")
        val e0 = Search.fuzzyEdits(prefix, fzSpec)
          .getOrElse(bad(s"invalid fuzziness '$fzSpec'"))
        val pl = intOpt(fn, "prefix_length").getOrElse(1)
        if (pl < 0) bad("fuzzy prefix_length must be >= 0")
        val ml = intOpt(fn, "min_length").getOrElse(3)
        if (ml < 0) bad("fuzzy min_length must be >= 0")
        val tr = Option(fn.get("transpositions")).map { n =>
          if (!n.isBoolean) bad("transpositions must be a boolean")
          n.asBoolean
        }.getOrElse(true)
        Option(fn.get("unicode_aware")).foreach { n =>
          if (!n.isBoolean || n.asBoolean)
            bad("unicode_aware true is not supported (inputs match " +
              "on UTF-16 code units, the engine's string unit)")
        }
        (if (prefix.length < ml) 0 else e0, pl, tr)
      case Some(_) => bad("fuzzy must be a boolean or an object")
    }
    // ES contexts — in this engine a context NAME is a sibling
    // column (the mapping layer derives everything from the schema).
    // CATEGORY contexts: an option must hold one of the listed
    // values there. GEO contexts (round 17; neighbours round 18):
    // the name is a struct<lat,lon> geo_point column, an entry is
    // ES's `{"context": {"lat":.., "lon":..}, "precision": P,
    // "boost": B, "neighbours": [...]}` — the option matches when
    // its point falls in the query point's base32 geohash cell at
    // precision P, OR in one of the 8 NEIGHBOUR cells at each
    // precision listed in `neighbours` (default: P itself — ES
    // 8.11's GeoQueryContext includes the neighbouring cells BY
    // DEFAULT, so a verbatim body with no `neighbours` key matches
    // the 3×3 block). P defaults to 6, ES's GeoContextMapping
    // default; both `precision` and `neighbours` entries accept a
    // raw level 1..12 or an ES distance string ("1km" → the level
    // whose cell edge is at most that distance, GeoUtils'
    // geoHashLevelsForPrecision). Several context names intersect
    // (ES: every context type must match); entries within one name
    // union, and one name's entries must be all-category or all-geo
    // (one column, one type). A matched boosted entry multiplies
    // the option's weightless 1.0; several matching contexts take
    // the MAXIMUM (ES's documented multi-context scoring).
    var geoContexts = Seq.empty[(String, Seq[GeoContextEntry])]
    val contexts: Seq[(String, Seq[(String, Double)])] =
      Option(cp.get("contexts")).map { cn =>
        if (!cn.isObject) bad("contexts must be an object")
        val names = keysOf(cn)
        if (names.isEmpty) bad("contexts must name at least one context")
        names.flatMap { name =>
          val v = cn.get(name)
          if (!v.isArray || v.size == 0)
            bad(s"context '$name' needs a non-empty array")
          val cats = Seq.newBuilder[(String, Double)]
          val geos = Seq.newBuilder[GeoContextEntry]
          // a precision-bearing node: raw geohash level (number, or
          // all-digit string) or an ES distance string ("1km")
          def precOf(n: JsonNode, what: String): Int = {
            val lvl =
              if (n.isNumber) n.asInt
              else if (n.isTextual)
                GeoCells.precisionLevel(n.asText).getOrElse(
                  bad(s"$what must be a geohash level 1..12 or a " +
                    "distance string like '1km'"))
              else bad(s"$what must be a number or a string")
            if (lvl < 1 || lvl > 12)
              bad(s"$what must map to a geohash level 1..12")
            lvl
          }
          (0 until v.size).foreach { i =>
            val e = v.get(i)
            if (e.isTextual) cats += ((e.asText, 1.0))
            else if (e.isObject) {
              val unknownE = keysOf(e)
                .filterNot(Set("context", "boost", "precision",
                  "neighbours"))
              if (unknownE.nonEmpty)
                bad(s"unsupported context key" +
                  s"${if (unknownE.size == 1) "" else "s"}: " +
                  unknownE.mkString(", "))
              val b = Option(e.get("boost")).map { n =>
                if (!n.isNumber || n.asDouble <= 0)
                  bad("context boost must be a positive number")
                n.asDouble
              }.getOrElse(1.0)
              val cvN = Option(e.get("context"))
                .getOrElse(bad("context object needs \"context\""))
              if (cvN.isObject) {
                // geo entry: a {lat, lon} point + optional precision
                // + optional neighbour precisions (default: the
                // entry's precision — ES includes neighbours unless
                // told otherwise)
                val (gla, glo) = geoPoint(cvN, "geo context")
                val prec = Option(e.get("precision"))
                  .map(precOf(_, "geo context precision"))
                  .getOrElse(6)
                val neigh: Seq[Int] =
                  Option(e.get("neighbours")).map { nn =>
                    val items =
                      if (nn.isArray) (0 until nn.size).map(nn.get)
                      else Seq(nn)
                    if (items.isEmpty)
                      bad("neighbours must not be empty")
                    // ES caps each neighbour precision at the
                    // entry's geohash length (GeoContextMapping
                    // truncates, never extends) — a finer value
                    // behaves as the entry precision itself
                    items.map(n => math.min(
                      precOf(n, "geo context neighbours entry"),
                      prec)).distinct
                  }.getOrElse(Seq(prec))
                geos += GeoContextEntry(gla, glo, prec, b, neigh)
              } else {
                if (e.hasNonNull("precision") ||
                    e.hasNonNull("neighbours"))
                  bad("precision/neighbours apply to geo contexts " +
                    "only")
                cats += ((cvN.asText, b))
              }
            } else bad("context entries are strings or " +
              "{\"context\": ...} objects")
          }
          val (cs, gs) = (cats.result(), geos.result())
          if (cs.nonEmpty && gs.nonEmpty)
            bad(s"context '$name' mixes category and geo entries " +
              "(one column, one context type)")
          if (gs.nonEmpty) { geoContexts :+= (name -> gs); None }
          else Some(name -> cs)
        }
      }.getOrElse(Nil)
    CompletionSuggestSpec(f, prefix, size, skip, edits, fpl, ftr,
      contexts, regex, geoContexts)
  }

  /** ES COMPLETION SUGGESTER (`{"suggest": {"<name>": {"prefix": ...,
    * "completion": {"field": ...}}}}`) — the autocomplete surface,
    * the third suggester family (in ES a dedicated `completion`-mapped
    * field holds input strings in an in-memory FST and the typed
    * prefix walks it). This engine's model, documented: a string
    * column IS its own completion input (the mapping layer derives
    * types from the schema — there is no separate completion mapping),
    * so an option is a document whose VALUE starts with the typed
    * prefix, case-folded like ES's default `simple` completion
    * analyzer. Weightless inputs score 1.0 (ES's contract for inputs
    * indexed without a weight), times the matched BOOSTED context's
    * boost when one applies (max across matching contexts — ES's
    * documented multi-context scoring); options rank by score then
    * surface form then id — the FST's term-order traversal;
    * `skip_duplicates` keeps the best-scoring (then lowest-id) option
    * per distinct value. FUZZY completion (`fuzzy`
    * true or an object) matches inputs some PREFIX of which lies
    * within `fuzziness` edits of the typed prefix
    * ([[graft.serving.Search.completionPrefixPredicate]] — ES's
    * Levenshtein-automaton-over-FST model), with `prefix_length`
    * exact head chars (default 1), AUTO resolving on the prefix
    * length, and `min_length` gating fuzziness off for short
    * prefixes. Output is the flat (id, suggestion, score) table — the
    * relational projection of ES's options array (text, _id,
    * _score).
    *
    * Scale: one corpus pass with the prefix predicate evaluated
    * inside the scan and a global top-k (TakeOrdered — no full sort,
    * no shuffle before the cap); the FST-shaped path at 100 TB is a
    * sorted value DICTIONARY generation in the write-time index (the
    * same layout-versioned sidecar the postings ride) probed by
    * prefix range. */
  def completionSuggest(df: DataFrame, sg: JsonNode): DataFrame = {
    val sp = parseCompletionSuggest(sg)
    val idCol = df.columns.head
    (sp.contexts.map(_._1) ++ sp.geoContexts.map(_._1)).foreach { cf =>
      if (!df.columns.contains(cf)) bad(s"unknown context '$cf'") }
    // entry TYPE must match the column's schema — a geo entry on a
    // category column would die in Spark analysis (an opaque 500),
    // and a category entry on a geo_point struct would cast-compare
    // and silently never match; both reject by name instead
    def isGeoPoint(cf: String): Boolean =
      df.schema(cf).dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fieldNames.contains("lat") && st.fieldNames.contains("lon")
        case _ => false
      }
    sp.geoContexts.foreach { case (cf, _) =>
      if (!isGeoPoint(cf))
        bad(s"context '$cf' takes geo entries but is not a " +
          "struct<lat, lon> geo_point column") }
    sp.contexts.foreach { case (cf, _) =>
      if (isGeoPoint(cf))
        bad(s"context '$cf' is a geo_point column — its entries " +
          "must be {\"context\": {\"lat\", \"lon\"}} objects") }
    // a GEO entry matches when the option's point falls in the query
    // point's cell at the entry's precision OR in one of its 8
    // NEIGHBOUR cells at each `neighbours` precision (ES 8.11's
    // default geo-context behaviour — [[GeoCells]]). The query side
    // folds to LITERAL cell strings on the driver, so the predicate
    // is one `geohash(point) IN (cells)` per distinct precision —
    // constant-size, scan-evaluated, no per-row query-side encode.
    def geoHit(cf: String, g: GeoContextEntry): Column = {
      val cellsByPrec: Seq[(Int, Seq[String])] =
        ((g.precision -> GeoCells.encode(g.lat, g.lon, g.precision)) +:
          g.neighbours.flatMap(q =>
            GeoCells.neighbors(g.lat, g.lon, q).map(q -> _)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (p, cs) => (p, cs.map(_._2).distinct) }
      cellsByPrec.map { case (p, cells) =>
        geohashColumn(col(s"$cf.lat"), col(s"$cf.lon"), p)
          .isInCollection(cells)
      }.reduce(_ || _)
    }
    val ctxPred = (sp.contexts
      .map { case (cf, vals) =>
        col(cf).cast("string").isInCollection(vals.map(_._1)) } ++
      sp.geoContexts.map { case (cf, cells) =>
        cells.map(geoHit(cf, _)).reduce(_ || _) })
      .reduceOption(_ && _).getOrElse(lit(true))
    // an option's score is its weightless 1.0 times the matched
    // entry's boost; several matching contexts take the MAX (ES's
    // documented multi-context scoring). greatest() skips the nulls
    // of non-matching entries; ctxPred guarantees one entry per name
    // matches.
    val scoreCol = (sp.contexts
      .map { case (cf, vals) =>
        vals.map { case (v, b) =>
          when(col(cf).cast("string") === v, lit(b)) }
          .reduce((a, b) => greatest(a, b)) } ++
      sp.geoContexts.map { case (cf, cells) =>
        cells.map(g => when(geoHit(cf, g), lit(g.boost)))
          .reduce((a, b) => greatest(a, b)) })
      .reduceOption((a, b) => greatest(a, b)).getOrElse(lit(1.0))
    // the regex form matches from the START of the case-folded input
    // with an open end (the FST-regex intersection: any continuation
    // completes); the pattern is taken verbatim against the LOWERCASED
    // value, like the span regexp leaf
    val inputPred = sp.regex match {
      case Some(re) => lower(col(sp.field)).rlike("^(?:" + re + ")")
      case None => Search.completionPrefixPredicate(lower(col(sp.field)),
        sp.prefix, sp.edits, sp.fuzzyPrefixLength, sp.transpositions)
    }
    val hits = df.filter(col(sp.field).isNotNull && ctxPred && inputPred)
      .select(col(idCol), col(sp.field).as("suggestion"),
        scoreCol.cast("double").as("score"))
    val opts =
      if (!sp.skipDuplicates) hits
      else {
        // skip_duplicates keeps the BEST-scoring option per distinct
        // value (ES), id breaking ties — with unboosted contexts this
        // is exactly the old lowest-id pick
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("suggestion"))
          .orderBy(col("score").desc, col(idCol).asc)
        hits.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    opts.select(col(idCol), col("suggestion"), col("score"))
      .orderBy(col("score").desc, col("suggestion").asc, col(idCol).asc)
      .limit(sp.size)
  }

  /** Candidate ranking shared by the corpus-scan suggester above and
    * [[graft.sinks.SearchIndex.suggest]]'s termstats probe: `vocab` =
    * (term, freq=doc frequency); per input token, terms within
    * `maxEdits`, suggest_mode gating (`missing` stays silent for
    * in-vocabulary tokens; `popular` keeps only candidates MORE
    * FREQUENT than the input token — 0 when absent, ES's contract),
    * rank (distance, freq desc, term) — or (freq desc, distance,
    * term) under `sort: "frequency"` — cut to `size`. */
  private[graft] def suggestFromVocab(vocab: DataFrame,
                                      toks: Seq[String], size: Int,
                                      maxEdits: Int,
                                      mode: String,
                                      byFrequency: Boolean = false)
      : DataFrame = {
    val cand = vocab
      .select(col("term"), col("freq"),
        explode(array(toks.map(lit): _*)).as("token"))
      .withColumn("distance", graft.functions.ArrayExpressions
        .damerauLevenshtein(col("token"), col("term")))
      .filter(col("distance") <= maxEdits)
    val perToken = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token"))
    val flagged = cand
      .withColumn("__exists",
        max(when(col("distance") === 0, 1).otherwise(0)).over(perToken))
      .withColumn("__selffreq", coalesce(
        max(when(col("distance") === 0, col("freq"))).over(perToken),
        lit(0L)))
    val kept = flagged.filter(col("distance") > 0 && (mode match {
      case "missing" => col("__exists") === 0
      case "popular" => col("freq") > col("__selffreq")
      case _         => lit(true)
    }))
    val rankKeys =
      if (byFrequency)
        Seq(col("freq").desc, col("distance").asc, col("term").asc)
      else
        Seq(col("distance").asc, col("freq").desc, col("term").asc)
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(rankKeys: _*)
    val outKeys =
      if (byFrequency)
        Seq(col("freq").desc, col("distance").asc,
          col("suggestion").asc)
      else
        Seq(col("distance").asc, col("freq").desc,
          col("suggestion").asc)
    kept.withColumn("__rn", row_number().over(rank))
      .filter(col("__rn") <= size)
      .select(col("token"), col("term").as("suggestion"),
        col("distance"), col("freq"))
      .orderBy(col("token").asc +: outKeys: _*)
  }

  /** A parsed top-level `knn` section (ES 8.x first-class vector
    * search): field, the query vector, `k`, `num_candidates`, optional
    * filter clause and boost. */
  private final case class KnnSpec(field: String, qv: Seq[Double],
                                   k: Int, numCandidates: Int,
                                   filter: Option[JsonNode],
                                   boost: Double,
                                   similarity: Option[Double])

  private def parseKnn(kn: JsonNode): KnnSpec = {
    val field = Option(kn.get("field")).map(_.asText)
      .getOrElse(bad("knn needs \"field\""))
    val qvNode = Option(kn.get("query_vector")).filter(_.isArray)
      .filter(_.size > 0)
      .getOrElse(bad("knn needs a non-empty \"query_vector\" array"))
    val qv = (0 until qvNode.size).map { i =>
      val v = qvNode.get(i)
      if (!v.isNumber) bad("query_vector must be numeric")
      v.asDouble
    }
    val k = intOpt(kn, "k")
      .getOrElse(bad("knn needs \"k\""))
    if (k < 1 || k > MaxResultWindow)
      bad(s"knn k must be 1..$MaxResultWindow")
    val nc = intOpt(kn, "num_candidates")
      .getOrElse(bad("knn needs \"num_candidates\""))
    if (nc < k || nc > MaxResultWindow)
      bad(s"num_candidates must be k..$MaxResultWindow")
    val boost = Option(kn.get("boost")).map(_.asDouble).getOrElse(1.0)
    val unknown = keysOf(kn).filterNot(Set("field", "query_vector", "k",
      "num_candidates", "filter", "boost", "similarity"))
    if (unknown.nonEmpty) bad(s"unknown knn keys: ${unknown.mkString(", ")}")
    // ES knn "similarity": the minimum RAW metric value (cosine here)
    // a candidate must reach — applied before boost and before the
    // score transform, exactly ES's contract
    val sim = Option(kn.get("similarity")).map { n =>
      if (!n.isNumber) bad("knn similarity must be numeric")
      n.asDouble
    }
    KnnSpec(field, qv, k, nc, Option(kn.get("filter")), boost, sim)
  }

  /** The knn hit frame BEFORE paging: every candidate row of `base`
    * carrying its ES cosine `_score` = (1 + cos)/2 · boost, one
    * rounding — rows with a null or zero-norm vector drop (no defined
    * direction, like ES docs missing the dense_vector). The query
    * vector normalizes DRIVER-side with the same index-order
    * sum-of-squares the corpus-side [[graft.functions.ArrayExpressions
    * .l2normalize]] evaluates, so both sides of the dot product are
    * exact mirrors of the oracle's arithmetic. */
  private def knnScored(base: DataFrame, spec: KnnSpec,
                        cols: Seq[String]): DataFrame = {
    val norm = math.sqrt(spec.qv.foldLeft(0.0)((a, x) => a + x * x))
    if (norm == 0) bad("query_vector has zero norm")
    val qunit = spec.qv.map(_ / norm)
    val unit = graft.functions.ArrayExpressions.l2normalize(
      col(spec.field).cast("array<double>"))
    val cos = graft.functions.ArrayExpressions.dotProduct(
      unit, array(qunit.map(lit): _*))
    val raw = (lit(1.0) + cos) / 2.0
    val score = Search.round4(
      if (spec.boost == 1.0) raw else raw * spec.boost)
    // the similarity cutoff gates on the RAW cosine (pre-transform,
    // pre-round, pre-boost) — ES drops candidates below it; a null
    // cosine (null/zero-norm vector) fails the predicate like the
    // null-score filter below
    val kept = spec.similarity match {
      case Some(simMin) => base.filter(cos >= lit(simMin))
      case None         => base
    }
    kept.select(cols.map(col) :+ score.as("_score"): _*)
      .filter(col("_score").isNotNull)
  }

  /** Top-level `knn` search (ES 8.x: `{"knn": {field, query_vector, k,
    * num_candidates, filter?, boost?}}` as a first-class sibling of
    * `query`): EXACT brute-force cosine top-k — this engine returns
    * the true k nearest, a strict upper bound on ES's approximate
    * HNSW recall, so `num_candidates` (an HNSW beam-width knob) is
    * validated and then has no further effect (documented deviation:
    * exactness dominates any candidate count). The optional `filter`
    * is filter-context (pre-filtered vector search, like ES). Hybrid
    * `knn` + `query` bodies take [[searchParts]]' main path: the hit
    * set is the UNION of the query's matches and the k nearest, and
    * scores SUM — ES's additive combination. Hits page like any other
    * search body (`size` caps the k results, ES's contract);
    * `_source` projection applies.
    *
    * Scale: score is ONE codegen'd projection (normalize + dot against
    * a literal vector), the page one TakeOrdered of k rows — no
    * shuffle before it, no collect. The IVF-routed twin
    * ([[searchKnnIvf]]) is the 100 TB path: candidates from `nProbe`
    * Voronoi cells only. */
  private def knnParts(df: DataFrame, body: JsonNode, ctx: Ctx,
                       tieNames: Seq[String]): DataFrame =
    knnServe(df, body, ctx, tieNames, (_, dfm) => dfm)

  /** Shared knn scaffold — validation, filter compilation, paging and
    * `_source` projection for BOTH retrieval routes; the candidate
    * step is pluggable (identity for exact brute force, Voronoi-cell
    * restriction for IVF), so the two paths cannot drift. The id
    * marker column binds before the filter so `ids`/`pinned` filter
    * clauses resolve the way they do on the query path. */
  private def knnServe(df: DataFrame, body: JsonNode, ctx: Ctx,
                       tieNames: Seq[String],
                       candidates: (KnnSpec, DataFrame) => DataFrame)
      : DataFrame = {
    // min_score/post_filter sit here, IN the shared scaffold, so the
    // public searchKnnIvf route rejects them identically to search()
    // — the knn-only serve ranks exactly k hits by similarity; a
    // silent score floor or post filter would change that contract
    for (bad0 <- Seq("query", "aggs", "aggregations", "sort", "collapse",
        "search_after", "rescore", "highlight", "suggest", "rank",
        "min_score", "post_filter", "runtime_mappings", "fields",
        "script_fields")
        if body.hasNonNull(bad0))
      bad(s"knn cannot be combined with $bad0")
    val spec = parseKnn(body.get("knn"))
    if (!ctx.columns.contains(spec.field))
      bad(s"unknown knn field '${spec.field}'")
    knnDimCheck(df, spec)
    // knn filters are filter context — scoring clauses compile to
    // their row-level predicate only; this path has NO score-join
    // fold, so a min_score escape is rejected by name
    val filterPred = spec.filter.map(f =>
      ctx.withoutScoreJoins { ctx.inFilter { clause(f, ctx) } }.pred)
    // the exact-k hit shape cannot carry a nested clause's queued
    // inner_hits — reject by name, never drop the section
    if (ctx.innerHitCols.nonEmpty)
      bad("inner_hits is not supported inside a knn filter")
    val size = intOpt(body, "size").getOrElse(10)
    val from = intOpt(body, "from").getOrElse(0)
    if (size < 0 || from < 0 || from + size > MaxResultWindow)
      bad(s"from + size must stay within 0..$MaxResultWindow " +
        "(index.max_result_window)")
    val idName = tieNames.head
    val dfm = df.withColumn(IdColMarker, col(idName))
    val base = filterPred.map(p => candidates(spec, dfm).filter(p))
      .getOrElse(candidates(spec, dfm))
      .drop(IdColMarker)
    val topK = knnScored(base, spec, df.columns.toSeq)
      .orderBy(col("_score").desc +: tieNames.map(col(_).asc): _*)
      .limit(spec.k)
    val page = (if (from > 0) topK.offset(from) else topK).limit(size)
    sourceProjected(page, body, df.columns.toSeq, idName)
  }

  /** RECIPROCAL RANK FUSION (ES `"rank": {"rrf": {...}}` beside
    * `query` + `knn` — the 8.8+ hybrid ranker): each retriever ranks
    * its own top `rank_window_size` hits, and a doc's fused score is
    * Σ 1/(rank_constant + rank_i) over the lists it appears in —
    * rank-based, so the two sides' incomparable score scales never
    * mix (the classic RRF robustness argument). Deterministic: each
    * list ranks (score desc, id asc), fusion ties break by id;
    * single exact divisions, no rounding needed — oracle-able as-is.
    *
    * Scale: each list is its own TakeOrdered (window-bounded), ranks
    * ride a row_number over the LIMITED frame (≤ rank_window_size
    * rows — bounded, never corpus-sized), the fusion is a full-outer
    * join of two window-sized frames, and the hit fetch is one
    * broadcast join back to the corpus. */
  private def rrfParts(df: DataFrame, body: JsonNode,
                       c: Clause, knn: (KnnSpec, Option[Column]),
                       base0: DataFrame, base: DataFrame,
                       idName: String,
                       tieNames: Seq[String]): DataFrame = {
    val rrf = Option(body.get("rank").get("rrf"))
      .getOrElse(bad("rank supports only {\"rrf\": {...}}"))
    val window = intOpt(rrf, "rank_window_size")
      .getOrElse(100)
    if (window < 1 || window > MaxResultWindow)
      bad(s"rank_window_size must be 1..$MaxResultWindow")
    val kConst = intOpt(rrf, "rank_constant")
      .getOrElse(60)
    if (kConst < 1) bad("rank_constant must be >= 1")
    val size = intOpt(body, "size").getOrElse(10)
    val from = intOpt(body, "from").getOrElse(0)
    if (size < 0 || from < 0 || from + size > MaxResultWindow)
      bad(s"from + size must stay within 0..$MaxResultWindow")
    // ES's rule: the page must fit the fusion window — a larger size
    // would silently serve a truncated result set as a full page
    if (from + size > window)
      bad(s"rank_window_size ($window) must be >= from + size")
    import org.apache.spark.sql.expressions.Window
    // query-side ranked list: the normal scored path (the shared
    // scaffold searchParts built), cut to the window BEFORE ranks are
    // assigned (the row_number runs over the TakeOrdered's bounded
    // output, never the corpus)
    val qtop = base.filter(c.pred)
      .select(col(SidCol), c.score.cast("double").as("__qs"))
      .orderBy(col("__qs").desc, col(SidCol).asc)
      .limit(window)
    val qRanks = qtop.withColumn("__rq", row_number().over(
        Window.orderBy(col("__qs").desc, col(SidCol).asc)))
      .select(SidCol, "__rq")
    // knn-side list: the k nearest (ES's knn retriever size), capped
    // by the fusion window
    val (spec, kPred) = knn
    val kb = kPred.map(base0.filter).getOrElse(base0)
    val ktop = knnScored(kb, spec, Seq(SidCol))
      .orderBy(col("_score").desc, col(SidCol).asc)
      .limit(math.min(spec.k, window))
    val kRanks = ktop.withColumn("__rk", row_number().over(
        Window.orderBy(col("_score").desc, col(SidCol).asc)))
      .select(SidCol, "__rk")
    val fused = qRanks.join(kRanks, Seq(SidCol), "full")
      .select(col(SidCol),
        (coalesce(lit(1.0) / (lit(kConst) + col("__rq")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(kConst) + col("__rk")), lit(0.0)))
          .as("_score"))
    val hits = base0
      .join(broadcast(fused), Seq(SidCol))
      .select(df.columns.map(col) :+ col("_score"): _*)
      .orderBy(col("_score").desc +: tieNames.map(col(_).asc): _*)
    val page = (if (from > 0) hits.offset(from) else hits).limit(size)
    sourceProjected(page, body, df.columns.toSeq, idName)
  }

  /** Corpus-dimensionality probe (one bounded row) — the dot product
    * truncates to the shorter array, so a mismatched query_vector
    * would rank confidently on garbage; reject by name, like ES. Cost:
    * one limit-1 job per knn request — the bounded-probe tier the
    * fuzzy-expansion and MLT statistics probes already occupy (array
    * columns carry no dimensionality in the schema to check
    * statically). */
  private def knnDimCheck(df: DataFrame, spec: KnnSpec): Unit = {
    val dim = df
      .select(org.apache.spark.sql.functions
        .size(col(spec.field).cast("array<double>")).as("d"))
      .filter(col("d") > 0).limit(1).collect()
      .headOption.map(_.getInt(0))
    dim.foreach(d => if (d != spec.qv.length)
      bad(s"query_vector has ${spec.qv.length} dims; field " +
        s"'${spec.field}' holds $d-dim vectors"))
  }

  /** `_source` projection — ONE dispatch for the query and knn hit
    * paths: false → (id, _score), array → validated subset, object →
    * includes/excludes wildcards. `withHl`/`hlNames` carry the query
    * path's highlight columns through every shape (identity/Nil on
    * the knn path, which rejects highlight). */
  private def sourceProjected(page: DataFrame, body: JsonNode,
                              columns: Seq[String], idName: String,
                              withHl: DataFrame => DataFrame =
                                identity,
                              hlNames: Seq[Column] = Nil): DataFrame =
    Option(body.get("_source")) match {
      case None => withHl(page)
      case Some(src) if src.isBoolean && !src.asBoolean =>
        withHl(page).select(col(idName) +: col("_score") +: hlNames: _*)
      case Some(src) if src.isArray =>
        val cols = (0 until src.size).map(src.get(_).asText)
        val missing = cols.filterNot(columns.contains)
        if (missing.nonEmpty)
          bad(s"unknown _source fields: ${missing.mkString(", ")}")
        withHl(page).select(
          (cols.map(col) :+ col("_score")) ++ hlNames: _*)
      case Some(src) if src.isObject =>
        withHl(page).select(
          (sourceFiltered(columns, src).map(col) :+
            col("_score")) ++ hlNames: _*)
      case _ =>
        bad("_source must be false, an array of fields, or an " +
          "includes/excludes object")
    }

  /** The IVF-routed twin of the brute-force `knn` body — the 100 TB
    * retrieval shape: the SAME parsed body, but candidates come from
    * the query's `nProbe` nearest Voronoi cells ([[graft.operators
    * .Similarity.ivfTopK]]'s machinery — deterministic first-`nCentroids`-ids
    * codebook, zero-Exchange assignment projection, exact re-rank of
    * candidates only). Recall < 1 by construction; the oracle mirrors
    * the IVF pipeline itself, so the twin is hash-gated end to end. */
  def searchKnnIvf(df: DataFrame, body: JsonNode,
                   tiebreak: Seq[String] = Nil,
                   nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val tieNames = if (tiebreak.nonEmpty) tiebreak
      else Seq(df.columns.head)
    val idName = tieNames.head
    val ctx = new Ctx(df, col(idName))
    knnServe(df, body, ctx, tieNames, { (spec, dfm) =>
      import graft.operators.Similarity
      // codebook over the FULL corpus (the index is built before any
      // filter arrives — ES prefilters candidates inside one HNSW
      // graph the same way); candidates = probed cells ∩ filter
      val units = Similarity.normalized(df, idName, spec.field)
      val centDf = units.orderBy(col(idName)).limit(nCentroids)
        .select(col(idName).as("__cid"), col("unit").as("__cu"))
      val cent = centDf.collect().toSeq
        .map(r => (r.get(0), r.getSeq[Double](1)))
      val norm = math.sqrt(spec.qv.foldLeft(0.0)((a, x) => a + x * x))
      if (norm == 0) bad("query_vector has zero norm")
      val qunit = spec.qv.map(_ / norm)
      // probed cells: rank the bounded codebook DRIVER-side
      // (≤ nCentroids dot products over literal vectors — the
      // bounded-artifact tier); ties break by codebook position,
      // which IS ascending id order (no string-typed id compare)
      val probed: Seq[Any] = cent.zipWithIndex.map { case ((cid, cu), i) =>
          val d = qunit.zip(cu).foldLeft(0.0) { case (a, (x, y)) =>
            a + x * y }
          (cid, d, i)
        }.sortBy { case (_, d, i) => (-d, i) }
        .take(nProbe).map(_._1)
      // candidate ids = probed cells (assignment is a pure projection
      // — no shuffle); full candidate rows come back by one semi-join
      val candIds = Similarity.ivfAssign(df, idName, spec.field, cent)
        .filter(col("centroid_id").isInCollection(probed))
        .select(col(idName))
      dfm.join(candIds, Seq(idName), "left_semi")
    })
  }

  /** DSL body against the `data_lake_*` WILDCARD target with ES's
    * per-index BM25 statistics — closes the documented union-view
    * deviation (one corpus-wide statistic across entities): ES keeps
    * IDF index-local when a search spans indexes, and this route
    * scores every entity index with ITS OWN per-field statistics
    * through the exact machinery `/search rank=bm25` uses
    * ([[Search.acrossIndexesRanked]]), so `/search` and
    * `/search/advanced` now rank identically on a wildcard target.
    * `indexRoot`, when given, probes the per-entity write-time
    * indexes instead ([[Search.acrossIndexesRankedIndexed]]) —
    * bit-identical, one oracle.
    *
    * Supported body shape: ONE `multi_match` clause without explicit
    * `fields` (each index scores its own string fields — ES's
    * `fields: ["*"]` default; explicit fields against entities with
    * heterogeneous schemas are rejected, not guessed), `type`
    * most_fields/best_fields, plus `from`/`size`. Hits are the
    * identity triple (table, document_id, score) — the cross-index
    * contract `/search` serves; callers fetch bodies from the
    * entity's own table, like ES fetches `_source` after scoring. */
  def searchAcrossIndexes(spark: org.apache.spark.sql.SparkSession,
                          srcDir: String, runTs: String, body: JsonNode,
                          indexRoot: Option[String] = None,
                          only: Seq[String] = Nil): DataFrame = {
    for (k <- Seq("aggs", "aggregations", "sort", "collapse",
        "search_after", "rescore", "highlight", "suggest", "knn",
        "_source") if body.hasNonNull(k))
      bad(s"the wildcard target does not support $k")
    val q = Option(body.get("query")).getOrElse(bad("missing \"query\""))
    val (kind, b) = unwrap(q)
    if (kind != "multi_match")
      bad(s"unsupported clause '$kind' on the wildcard target " +
        "(one multi_match without explicit fields)")
    val text = Option(b.get("query")).map(_.asText)
      .getOrElse(bad("multi_match needs \"query\""))
    if (graft.functions.TextFunctions.analyzeText(text).isEmpty)
      bad("empty multi_match query")
    if (b.hasNonNull("fields"))
      bad("explicit fields are not supported on the wildcard target; " +
        "each index scores its own string fields (ES's [\"*\"] default)")
    // tie_breaker blends non-best fields into best_fields ranking
    // and boost scales the RETURNED scores — both result-changing,
    // both reject by name like the single-index path
    for (k <- Seq("operator", "minimum_should_match", "fuzziness",
        "slop", "tie_breaker", "boost") if b.hasNonNull(k))
      bad(s"multi_match $k is not supported on the wildcard target")
    // result-changing analyzers reject by name here too — silently
    // standard-analyzing an english request would answer a different
    // question than the same body against a single index
    analyzerKnob(b)
    val bestFields = Option(b.get("type")).map(_.asText)
      .getOrElse("most_fields") match {
      case "most_fields" => false
      case "best_fields" => true
      case other => bad(s"unsupported multi_match type '$other'")
    }
    val size = intOpt(body, "size").getOrElse(10)
    val from = intOpt(body, "from").getOrElse(0)
    if (size < 0 || from < 0 || from + size > MaxResultWindow)
      bad(s"from + size must stay within 0..$MaxResultWindow")
    // ROUTING IS ENGINE-SIDE: `indexRoot` names where the per-entity
    // write-time indexes LIVE, not a forced path — the request probes
    // them only when every in-scope entity's index exists (a stale-
    // version index no longer `exists`) and covers exactly the fields
    // the scan path would score, in the same order (the fixed-order
    // float sum makes order load-bearing); anything short of full
    // coverage falls back to the shared scan pass, bit-identical by
    // the twins' shared oracle. The probe plan is the 100 TB answer
    // (query-term-sized IO, zero corpus scans — EsDslPlanCheckSpec
    // pins it), so a covered deployment gets it without the caller
    // choosing.
    val covered = indexRoot.filter { root =>
      Search.entityIndexesCover(spark, srcDir, runTs, root, only)
    }
    val ranked = covered match {
      case Some(root) => Search.acrossIndexesRankedIndexed(
        spark, root, text, from + size, bestFields, only = only)
      case None => Search.acrossIndexesRanked(
        spark, srcDir, runTs, text, from + size, bestFields,
        only = only)
    }
    if (from > 0) ranked.offset(from) else ranked
  }

  /** Execute `body` and return (hits page, aggregation buckets if the
    * body has `aggs`) — ES returns BOTH in one response (`size: 0` is
    * how a caller opts out of hits, not the presence of `aggs`). */
  /** ES `_count` — the match-set size of a query body. The clause
    * compiles in FILTER context (a score can never change a count, so
    * the scoring machinery is skipped entirely — ES rewrites _count
    * queries to constant score the same way) and the result is ONE
    * aggregate row (`count` long): fully distributed, no driver-side
    * value, no paging machinery. Body keys beyond query/index reject
    * by name — a _count body carrying from/size/sort is a caller
    * error in ES too. */
  /** Percolation compile entry ([[Percolate]]): each stored query
    * compiled to a FILTER-CONTEXT predicate over `df` — no score
    * joins, no relations, the exact countFrame predicate shape.
    * Returns the marker-bearing frame (so `ids` queries resolve
    * against the first column, like every other entry point) and one
    * predicate per query: `None` when the query references a field
    * the frame lacks (ES's percolator semantics — a query on a field
    * the document does not carry simply never matches), a resolved
    * `Some(pred)` otherwise. Unsupported constructs still throw — a
    * named caller error, never a silent non-match. */
  private[serving] def percolatePreds(df: DataFrame,
                                      queries: Seq[JsonNode])
      : (DataFrame, Seq[Option[Column]]) = {
    val idName = df.columns.head
    val marked = df.withColumn(IdColMarker, col(idName))
    val preds = queries.map { q =>
      // fresh Ctx per stored query: a query mapped to never-matches
      // below must not leak compile state (inner-hit registrations)
      // into its successors' checks
      val ctx = new Ctx(marked, col(idName))
      // missing-field → never-matches applies to the WHOLE compile:
      // eagerly-validated clauses (combined_fields, query_string
      // field lists) raise MissingFieldException, lazily-resolved
      // ones surface at the analysis probe — both are the same ES
      // percolator case. Everything else stays loud: unsupported
      // constructs 400 by name, and a TYPE error in a stored query
      // (range over a struct, say) rethrows — silently dropping it
      // in tagAll would untag documents at scale.
      try {
        val pred = coalesce(
          ctx.withoutScoreJoins { ctx.inFilter { clause(q, ctx) } }.pred,
          lit(false))
        // percolation answers "which stored queries match" — there
        // are no document hits for inner_hits to ride; reject by name
        if (ctx.innerHitCols.nonEmpty)
          bad("inner_hits is not supported in percolator queries")
        // resolution probe: driver-side analysis only, zero execution
        marked.select(pred).queryExecution.analyzed
        Some(pred)
      } catch {
        case _: MissingFieldException => None
        case e: org.apache.spark.sql.AnalysisException
            if isUnresolvedColumn(e) => None
      }
    }
    (marked, preds)
  }

  def countFrame(df: DataFrame, body: JsonNode,
                 tiebreak: Seq[String] = Nil,
                 lookup: Option[IndexResolver] = None,
                 relations: Relations = Relations()): DataFrame = {
    val unknown = keysOf(body).filterNot(Set("query", "index"))
    if (unknown.nonEmpty)
      bad(s"unsupported _count body key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val idName = if (tiebreak.nonEmpty) tiebreak.head
      else df.columns.head
    val sid =
      if (tiebreak.size > 1)
        concat_ws(1.toChar.toString,
          tiebreak.map(c => col(c).cast("string")): _*)
      else col(idName)
    val ctx = new Ctx(df, sid, lookupResolver = lookup,
      relations = relations)
    val pred = Option(body.get("query")) match {
      case None => lit(true) // ES: a bodyless _count is match_all
      case Some(q) =>
        coalesce(
          ctx.withoutScoreJoins { ctx.inFilter { clause(q, ctx) } }.pred,
          lit(false))
    }
    // a count has no hits for inner_hits to ride — reject by name
    if (ctx.innerHitCols.nonEmpty)
      bad("inner_hits is not supported in a _count body")
    ctx.foldJoins(df.withColumn(IdColMarker, col(idName)))
      .filter(pred).agg(count(lit(1)).as("count"))
  }

  /** The distinct ids matching a bare `{"query": ...}` in FILTER
    * context — `_update_by_query` / `_delete_by_query`'s match set
    * (reference stack: ES 8.11 serves both, docker-compose.yml:5).
    * Exactly [[countFrame]]'s predicate machinery, returning the id
    * frame instead of the count; a missing query matches everything
    * (ES's contract for both APIs). */
  def matchingIds(df: DataFrame, body: JsonNode, idCol: String,
                  lookup: Option[IndexResolver] = None,
                  relations: Relations = Relations()): DataFrame = {
    val unknown = keysOf(body).filterNot(Set("query"))
    if (unknown.nonEmpty)
      bad(s"unsupported by-query body key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val ctx = new Ctx(df, col(idCol), lookupResolver = lookup,
      relations = relations)
    val pred = Option(body.get("query")) match {
      case None => lit(true)
      case Some(q) =>
        coalesce(
          ctx.withoutScoreJoins { ctx.inFilter { clause(q, ctx) } }.pred,
          lit(false))
    }
    if (ctx.innerHitCols.nonEmpty)
      bad("inner_hits is not supported in a by-query body")
    ctx.foldJoins(df.withColumn(IdColMarker, col(idCol)))
      .filter(pred).select(col(idCol)).distinct()
  }

  def searchParts(df0: DataFrame, body: JsonNode,
                  tiebreak: Seq[String] = Nil,
                  statsIndex: Option[String] = None,
                  lookup: Option[IndexResolver] = None,
                  relations: Relations = Relations())
      : (DataFrame, Option[DataFrame]) = {
    // a `suggest` section next to `query` is legal (ES returns hits
    // AND suggestions in one response) — the caller compiles it with
    // [[suggest]]/[[parseSuggest]] and serves both sections; this
    // function returns the hits (+aggs) pair and leaves the suggest
    // section alone
    //
    // TOP-LEVEL key inventory — the same fail-loud contract the
    // clause and agg surfaces carry: an unknown body key (a typo'd
    // "agg", a response-shaping option this engine does not model —
    // explain/profile/stored_fields/...) rejects BY NAME instead of
    // being silently dropped. track_total_hits and timeout are
    // accepted and ignored: totals here are exact (subsuming every
    // track_total_hits setting) and timeout is a partial-results
    // latency knob — ignoring it returns the complete answer.
    // "index" is the HTTP envelope's routing key.
    val unknownTop = keysOf(body).filterNot(Set(
      "query", "aggs", "aggregations", "sort", "collapse",
      "search_after", "rescore", "highlight", "suggest", "rank", "knn",
      "from", "size", "_source", "min_score", "post_filter",
      "runtime_mappings", "fields", "script_fields",
      "track_total_hits", "timeout", "index"))
    if (unknownTop.nonEmpty)
      bad(s"unsupported body key" +
        s"${if (unknownTop.size == 1) "" else "s"}: " +
        unknownTop.mkString(", "))
    if (body.hasNonNull("knn") && !body.hasNonNull("query")) {
      // min_score/post_filter reject inside knnServe (the shared
      // scaffold), covering this route AND the public searchKnnIvf;
      // runtime_mappings/fields/script_fields reject there too — the
      // knn-only serve keeps its exact-k hit contract
      val idName0 = if (tiebreak.nonEmpty) tiebreak.head
        else df0.columns.head
      val sid0 =
        if (tiebreak.size > 1)
          concat_ws("\u0001", tiebreak.map(c => col(c).cast("string")): _*)
        else col(idName0)
      val tieNames0 = if (tiebreak.nonEmpty) tiebreak
        else Seq(df0.columns.head)
      // a nested clause in the knn FILTER that queues inner_hits is
      // rejected by name inside knnServe (the shared scaffold)
      return (knnParts(df0, body,
        new Ctx(df0, sid0, lookupResolver = lookup), tieNames0), None)
    }
    // "runtime_mappings": ES search-time runtime fields — each one an
    // emit(<painless arithmetic>) script compiled to ONE codegen'd
    // Column and appended to the frame, so the field works everywhere
    // a mapped column does (query clauses, sort, aggregations,
    // collapse). Like ES, runtime fields are NOT part of _source: the
    // raw columns are dropped from the hit shape below and only
    // surface through the "fields" option. Shadowing a mapped column
    // rejects by name (ES shadows the mapped field at search time but
    // keeps the original _source text — a split this flat hit shape
    // cannot represent honestly).
    val runtime: Seq[(String, Column)] =
      parseRuntimeMappings(body, df0.columns.toSeq)
    val df = runtime.foldLeft(df0) {
      case (d, (n, c)) => d.withColumn(n, c) }
    val q = Option(body.get("query")).getOrElse(bad("missing \"query\""))
    val idName = if (tiebreak.nonEmpty) tiebreak.head else df.columns.head
    val sid =
      if (tiebreak.size > 1)
        concat_ws("\u0001", tiebreak.map(c => col(c).cast("string")): _*)
      else col(idName)
    val ctx = new Ctx(df, sid, statsIndex, lookup, relations)
    val c = clause(q, ctx)
    // HYBRID knn + query (ES 8.x): the hit set is the UNION of the
    // query's matches and the knn section's k nearest; a doc in both
    // SUMS its scores (query + boosted knn), a doc on one side keeps
    // that side's score — ES's additive combination. The knn side
    // joins below as a k-row (sid, __knn_score) frame, the same
    // broadcast-friendly shape as the shared BM25 score frame. A
    // top-level "rank": {"rrf": ...} switches the combination to
    // RECIPROCAL RANK FUSION ([[rrfParts]]).
    val knnHybrid: Option[(KnnSpec, Option[Column])] =
      Option(body.get("knn")).map { kn =>
        for (bad0 <- Seq("sort", "collapse", "search_after", "rescore")
            if body.hasNonNull(bad0))
          bad(s"hybrid knn + query cannot be combined with $bad0")
        val spec = parseKnn(kn)
        if (!ctx.columns.contains(spec.field))
          bad(s"unknown knn field '${spec.field}'")
        knnDimCheck(df, spec)
        (spec, spec.filter.map(f => ctx.inFilter { clause(f, ctx) }.pred))
      }
    if (body.hasNonNull("rank") && knnHybrid.isEmpty)
      bad("rank (rrf) needs BOTH query and knn retrievers")
    // "rescore": ES two-phase ranking — the top `window_size` hits of
    // the primary sort get their score recombined with a secondary
    // query (query_weight·primary + rescore_query_weight·secondary).
    // The rescore clause compiles HERE, before the score-join fold, so
    // BM25-scored rescore queries resolve like any other clause. Pages
    // must fit the window (ES serves primary-ordered hits beyond it;
    // this engine 400s instead of silently mixing orders), and ES
    // itself rejects rescore with sort/collapse/search_after.
    val rescoreOpt: Option[(Clause, Int, Double, Double)] =
      Option(body.get("rescore")).map { rn =>
        val r = if (rn.isArray) {
          if (rn.size != 1) bad("exactly one rescore window is supported")
          rn.get(0)
        } else rn
        val window = intOpt(r, "window_size").getOrElse(10)
        if (window <= 0 || window > MaxResultWindow)
          bad(s"rescore window_size must be 1..$MaxResultWindow")
        val q2 = Option(r.get("query"))
          .getOrElse(bad("rescore needs \"query\""))
        val rq = Option(q2.get("rescore_query"))
          .getOrElse(bad("rescore needs \"rescore_query\""))
        val qw = Option(q2.get("query_weight")).map(_.asDouble)
          .getOrElse(1.0)
        val rw = Option(q2.get("rescore_query_weight")).map(_.asDouble)
          .getOrElse(1.0)
        (clause(rq, ctx), window, qw, rw)
      }
    if (rescoreOpt.nonEmpty &&
        (body.hasNonNull("sort") || body.hasNonNull("collapse") ||
         body.hasNonNull("search_after")))
      bad("rescore cannot be combined with sort, collapse, or " +
        "search_after")
    // top-level min_score: exclude hits below the query-phase score.
    // Aggregations compile without score joins, so a min_score-gated
    // agg set cannot resolve — reject the combination by name (the
    // same escape rule function_score's min_score documents).
    val minScoreTop = Option(body.get("min_score")).map(_.asDouble)
    if (minScoreTop.isDefined &&
        (body.hasNonNull("aggs") || body.hasNonNull("aggregations")))
      bad("top-level min_score with aggregations is not supported " +
        "(aggregations compile without scoring frames)")
    // post_filter: ES's faceted-search staple — hits are additionally
    // filtered AFTER aggregations are computed, so the buckets see the
    // full query match set while the hit list narrows. Filter context
    // by definition.
    val postFilter: Option[Column] = Option(body.get("post_filter"))
      .map(pf => coalesce(ctx.inFilter { clause(pf, ctx) }.pred,
        lit(false)))
    val size = intOpt(body, "size").getOrElse(10)
    val from = intOpt(body, "from").getOrElse(0)
    if (size < 0 || from < 0 || from + size > MaxResultWindow)
      bad(s"from + size must stay within 0..$MaxResultWindow " +
        "(index.max_result_window)")
    rescoreOpt.foreach { case (_, window, _, _) =>
      if (from + size > window)
        bad("from + size must stay within the rescore window_size") }
    // `ids` clauses reference the document identity through a marker
    // column bound here to the table's id (first tiebreak / first
    // column), then projected away; the sid column carries the ONE
    // BM25 score join — every queued match clause's score arrives as
    // a column of the same shared frame (left: every row keeps its
    // identity; the scored side is query-term-sized, AQE broadcasts
    // it)
    val base0 =
      df.withColumn(IdColMarker, col(idName)).withColumn(SidCol, sid)
    val base1 = ctx.scoreFrame
      .map(fr => base0.join(fr, Seq(SidCol), "left")).getOrElse(base0)
    // phrase-BM25 statistics: one single-row broadcast per body
    val base2a = ctx.phraseStatsFrame
      .map(st => base1.crossJoin(broadcast(st))).getOrElse(base1)
    // parent/child auxiliary frames (key-cardinality-bounded)
    val base2 = ctx.foldJoins(base2a)
    val tieNames = if (tiebreak.nonEmpty) tiebreak
      else Seq(df.columns.head)
    // hybrid knn: join the k-nearest frame, widen the match set to
    // the union, sum the sides' scores (guarded — a knn-only hit has
    // no defined query score, and vice versa). A "rank": {"rrf"}
    // section switches to reciprocal rank fusion instead.
    val (cEff, base) = knnHybrid match {
      case None => (c, base2)
      case Some((spec, kPred)) =>
        if (body.hasNonNull("rank")) {
          for (bad0 <- Seq("aggs", "aggregations", "highlight")
              if body.hasNonNull(bad0))
            bad(s"rank (rrf) cannot be combined with $bad0")
          if (ctx.innerHitCols.nonEmpty)
            bad("inner_hits cannot be combined with rank (rrf)")
          return (rrfParts(df, body, c, (spec, kPred), base0, base2,
            idName, tieNames), None)
        }
        val kb = kPred.map(base0.filter).getOrElse(base0)
        val topk = knnScored(kb, spec, Seq(SidCol))
          .orderBy(col("_score").desc, col(SidCol).asc)
          .limit(spec.k)
          .withColumnRenamed("_score", "__knn_score")
        val joined = base2.join(topk, Seq(SidCol), "left")
        val score = when(coalesce(c.pred, lit(false)),
            c.score.cast("double")).otherwise(lit(0.0)) +
          coalesce(col("__knn_score"), lit(0.0))
        (Clause(coalesce(c.pred, lit(false)) ||
            col("__knn_score").isNotNull, score), joined)
    }
    val filtered0 = base.filter(cEff.pred)
    // post_filter narrows the HIT list only — aggs below keep the
    // un-narrowed predicate, ES's faceted-search contract
    val filtered = postFilter.map(filtered0.filter).getOrElse(filtered0)
    val aggsOut =
      if (body.hasNonNull("aggs") || body.hasNonNull("aggregations"))
        // aggregation clauses compile AFTER the score-join fold — a
        // scoring registration here could never resolve, so the
        // min_score escape rejects by name instead
        Some(ctx.withoutScoreJoins { aggregations(base, cEff.pred,
          cEff.score.cast("double"),
          Option(body.get("aggs")).getOrElse(body.get("aggregations")),
          ctx) })
      else None
    val scored0 = filtered.select(
      df.columns.map(col) ++
      Seq(cEff.score.cast("double").as("_score")) ++
      rescoreOpt.map { case (rc, _, _, _) =>
        when(coalesce(rc.pred, lit(false)), rc.score.cast("double"))
          .otherwise(lit(0.0)).as("__rescore") }: _*)
    // min_score gates the query-phase score, BEFORE the rescore window
    // (ES applies it in the query phase)
    val scoredMin = minScoreTop
      .map(ms => scored0.filter(col("_score") >= ms)).getOrElse(scored0)
    // rescore window: top window_size by the PRIMARY order (one
    // TakeOrdered), then the combined score replaces _score — the
    // default effective sort below re-orders by it
    val scored = rescoreOpt match {
      case None => scoredMin
      case Some((_, window, qw, rw)) =>
        scoredMin
          .orderBy(col("_score").desc +: tieNames.map(col(_).asc): _*)
          .limit(window)
          .withColumn("_score",
            lit(qw) * col("_score") + lit(rw) * col("__rescore"))
          .drop("__rescore")
    }
    // the EFFECTIVE sort: the body's explicit keys (or _score desc),
    // always with the id tiebreak(s) appended — (column, ascending?)
    // pairs so collapse windows and search_after cursors can reuse the
    // same total order
    // validate sort fields HERE (a 400 naming the field) — an unknown
    // column would otherwise surface as a plan-time AnalysisException,
    // a 500 for what is the caller's error. A dotted path whose head
    // is a (struct) column passes — col() resolves nested fields, and
    // a bad sub-field still fails loud through the HTTP layer's
    // AnalysisException → 400 mapping.
    def checkSortField(f: String): String = {
      val head = f.split("\\.", 2).head
      if (f != "_score" && !df.columns.contains(f) &&
          !df.columns.contains(head))
        bad(s"unknown sort field '$f'")
      f
    }
    // ES accepts a bare string, a bare object, or an array of either;
    // an entry object carries exactly ONE field (a second key would
    // be silently dropped — reject instead)
    val sortEntries: Seq[JsonNode] = Option(body.get("sort")) match {
      case None                     => Nil
      case Some(s) if s.isArray     => (0 until s.size).map(s.get)
      case Some(s)                  => Seq(s)
    }
    val effKeys: Seq[(Column, Boolean)] =
      (if (sortEntries.isEmpty) Seq((col("_score"), false))
       else sortEntries.map { n =>
         // computed sort entries — _geo_distance (haversine from an
         // origin; a missing point sorts at Infinity, ES's contract)
         // and _script (painless arithmetic over the hit row) — are
         // BODY-sort-only: top_hits/bucket_sort keep the plain
         // field grammar, like ES
         if (n.isObject && keysOf(n) == Seq("_geo_distance"))
           geoDistanceSortPair(n.get("_geo_distance"))
         else if (n.isObject && keysOf(n) == Seq("_script"))
           scriptSortPair(n.get("_script"))
         else {
           val (f, ord) = sortEntryOf(n, "body")
           sortPair(checkSortField(f), ord)
         }
       }) ++ tieNames.map(t => (col(t), true))
    val keyCols = effKeys.map { case (cc, asc) =>
      if (asc) cc.asc else cc.desc }
    // "collapse": {"field": f} — ES field collapsing: the hit list
    // keeps only each field value's BEST hit under the effective sort
    // (nulls collapse into one group — documented). One per-group
    // window limit, no extra scan.
    val (collapsed, collapseIhCols) =
      Option(body.get("collapse")) match {
      case None => (scored, Seq.empty[String])
      case Some(cn) =>
        val unknownC = keysOf(cn).filterNot(Set("field", "inner_hits"))
        if (unknownC.nonEmpty)
          bad(s"unsupported collapse key" +
            s"${if (unknownC.size == 1) "" else "s"}: " +
            unknownC.mkString(", "))
        val f = Option(cn.get("field")).map(_.asText)
          .getOrElse(bad("collapse needs \"field\""))
        if (!df.columns.contains(f)) bad(s"unknown collapse field '$f'")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(f)).orderBy(keyCols: _*)
        val ranked = scored.withColumn("__rn", row_number().over(w))
        val winners = ranked.filter(col("__rn") === 1).drop("__rn")
        Option(cn.get("inner_hits")).filter(!_.isNull) match {
          case None => (winners, Seq.empty[String])
          case Some(ih) =>
            // ES collapse inner_hits: each collapsed hit carries its
            // group's top `size` docs (the winner included) under the
            // EFFECTIVE sort — here an array of source-column structs
            // in that order (a group top-k window + one group-keyed
            // join; the group frame is group-cardinality-bounded)
            if (!ih.isObject) bad("inner_hits must be an object")
            val unknown = keysOf(ih).filterNot(Set("name", "size"))
            if (unknown.nonEmpty)
              bad(s"unsupported inner_hits key" +
                s"${if (unknown.size == 1) "" else "s"}: " +
                unknown.mkString(", "))
            val ihName = Option(ih.get("name")).map(_.asText)
              .getOrElse(f)
            val ihSize = Option(ih.get("size")).map { v =>
              if (!v.isNumber) bad("inner_hits size must be numeric")
              v.asInt
            }.getOrElse(3)
            // size 0 would leave a NULL list whose key vanishes from
            // the JSON hit — reject rather than silently drop the
            // requested section
            if (ihSize < 1 || ihSize > 100)
              bad("inner_hits size must be 1..100")
            val outCol = s"inner_hits_$ihName"
            if (ctx.innerHitCols.exists(_._1 == outCol))
              bad(s"duplicate inner_hits name '$ihName'")
            // inner structs carry the MAPPED columns only (df0) —
            // runtime fields never reach a hit shape, and a top-level
            // drop cannot prune fields nested inside array structs
            val grp = ranked.filter(col("__rn") <= ihSize)
              .groupBy(col(f).as("__chk"))
              .agg(sort_array(collect_list(struct(
                col("__rn").as("r"),
                struct(df0.columns.map(col): _*).as("h")))).as("__l"))
              .select(col("__chk"),
                transform(col("__l"), x => x.getField("h")).as(outCol))
            (winners.join(grp, winners(f) <=> grp("__chk"), "left")
              .drop("__chk"), Seq(outCol))
        }
    }
    // "search_after": the last hit's values for EVERY effective sort
    // key (explicit keys + the appended tiebreak) — resumes strictly
    // after, ES's deep-pagination contract; mutually exclusive with
    // `from`, like ES
    val afterFiltered = Option(body.get("search_after"))
      .filter(_.isArray) match {
      case None => collapsed
      case Some(a) =>
        if (from > 0) bad("search_after cannot be combined with from")
        if (a.size != effKeys.size)
          bad(s"search_after needs ${effKeys.size} values (explicit " +
            "sort keys plus the id tiebreak), got " + a.size)
        val cmp = effKeys.zipWithIndex.map { case ((cc, asc), i) =>
          val l = litOf(a.get(i))
          (if (asc) cc > l else cc < l, cc === l)
        }
        val pred = cmp.indices.map { i =>
          (cmp.take(i).map(_._2) :+ cmp(i)._1).reduce(_ && _)
        }.reduce(_ || _)
        collapsed.filter(pred)
    }
    val sorted = afterFiltered.orderBy(keyCols: _*)
    val page = (if (from > 0) sorted.offset(from) else sorted).limit(size)
    // "_source": false → hit identity only (id, _score — ES always
    // returns _id); an array → that column subset; an object →
    // includes/excludes wildcard patterns. Projection applied AFTER the
    // page so sort fields need not survive it.
    // "highlight": per requested field, a `highlight_<field>` column —
    // the field's tokens (original case, single-space joined) with
    // every query term wrapped in pre/post tags. Terms come from the
    // ANALYZED query leaves (match family + simple_query_string;
    // keyword-level term/terms are not analyzed, so not highlighted —
    // ES's plain highlighter behaves the same way). Computed on the
    // PAGE (page-sized work), independent of _source like ES.
    val hlCols: Seq[(String, Column)] =
      Option(body.get("highlight")).toSeq.flatMap { h =>
        val pre = Option(h.get("pre_tags")).filter(_.isArray)
          .filter(_.size > 0).map(_.get(0).asText).getOrElse("<em>")
        val post = Option(h.get("post_tags")).filter(_.isArray)
          .filter(_.size > 0).map(_.get(0).asText).getOrElse("</em>")
        val fieldsNode = Option(h.get("fields")).filter(_.isObject)
          .getOrElse(bad("highlight needs a \"fields\" object"))
        val terms = analyzedTerms(q)
        if (terms.isEmpty)
          bad("highlight needs an analyzed query clause (match " +
            "family or simple_query_string) to source terms from")
        keysOf(fieldsNode).map { f =>
          if (!df.columns.contains(f)) bad(s"unknown highlight field '$f'")
          // whitespace CHUNKS of the original text (the surface form
          // the snippet must preserve); a chunk highlights when any
          // of its ANALYZED tokens is a query term — so "window,"
          // highlights for query `window`, like ES's analyzed-offset
          // highlighting at word granularity
          val toks = filter(split(coalesce(col(f), lit("")), "\\s+"),
            x => x =!= lit(""))
          val marked = transform(toks, x =>
            when(exists(graft.functions.TextFunctions.analyzerTokens(x),
              t => t.isInCollection(terms)),
              concat(lit(pre), x, lit(post))).otherwise(x))
          s"highlight_$f" -> array_join(marked, " ")
        }
      }
    // "fields": ES's fields option — requested fields (mapped OR
    // runtime) surface as `fields_<name>` columns of the hit page,
    // the flat projection of ES's per-hit fields section (the
    // highlight_<field> precedent). This is the ONLY way a runtime
    // field reaches the response — _source never carries one, like
    // ES. Entry objects accept {"field": name}; "format" changes
    // values, so it rejects by name, and so do wildcard patterns.
    val fieldsReq: Seq[String] = Option(body.get("fields")).map { fn =>
      if (!fn.isArray) bad("fields must be an array")
      (0 until fn.size).map { i =>
        val e = fn.get(i)
        val name =
          if (e.isTextual) e.asText
          else if (e.isObject) {
            val unknown = keysOf(e).filterNot(Set("field"))
            if (unknown.nonEmpty)
              bad(s"unsupported fields entry key" +
                s"${if (unknown.size == 1) "" else "s"}: " +
                unknown.mkString(", "))
            Option(e.get("field")).map(_.asText)
              .getOrElse(bad("fields entry needs \"field\""))
          } else bad("malformed fields entry")
        if (name.contains("*"))
          bad("wildcard fields patterns are not supported")
        if (!df.columns.contains(name))
          bad(s"unknown fields entry '$name'")
        name
      }
    }.getOrElse(Nil)
    // "script_fields": per-hit computed values — the same painless
    // arithmetic subset (doc refs, params, _score), computed on the
    // PAGE like ES's fetch phase, surfaced as fields_<name> columns
    // alongside the fields option's.
    val scriptFieldCols: Seq[(String, Column)] =
      Option(body.get("script_fields")).toSeq.flatMap { sf =>
        if (!sf.isObject) bad("script_fields must be an object")
        keysOf(sf).map { name =>
          val e = sf.get(name)
          if (!e.isObject)
            bad(s"script field '$name' must be an object")
          val unknown = keysOf(e).filterNot(Set("script"))
          if (unknown.nonEmpty)
            bad(s"unsupported script_fields key" +
              s"${if (unknown.size == 1) "" else "s"}: " +
              unknown.mkString(", "))
          name -> compileScoreScript(e.get("script"),
            Map("_score" -> col("_score")))
        }
      }
    val fieldCols: Seq[(String, Column)] =
      fieldsReq.map(f => s"fields_$f" -> col(f)) ++
      scriptFieldCols.map { case (n, c) => (s"fields_$n", c) }
    fieldCols.map(_._1).groupBy(identity).collect {
      case (n, dup) if dup.size > 1 =>
        bad(s"duplicate fields entry '${n.stripPrefix("fields_")}'")
    }
    def withHl(d: DataFrame): DataFrame =
      (hlCols ++ fieldCols ++ ctx.innerHitCols).foldLeft(d) {
        case (acc, (n, cexpr)) => acc.withColumn(n, cexpr) }
    val hlNames = (hlCols ++ fieldCols ++ ctx.innerHitCols)
      .map(n => col(n._1)) ++ collapseIhCols.map(col)
    // _source validates against the MAPPED columns (df0) — a runtime
    // field is never source, exactly ES; the raw runtime columns are
    // dropped from every hit shape (their fields_<name> copies above
    // are the response surface)
    val hits0 = sourceProjected(page, body, df0.columns.toSeq, idName,
      withHl, hlNames)
    val hits = runtime.map(_._1).foldLeft(hits0)(_ drop _)
    (hits, aggsOut)
  }

  /** Every analyzed term of the query tree — the token set the plain
    * highlighter marks: match / multi_match / match_phrase /
    * match_phrase_prefix text (lowercased, whitespace-analyzed) and
    * simple_query_string term/phrase/prefix/fuzzy atoms. Keyword-level
    * clauses (term/terms/wildcard/regexp/ids/range) contribute
    * nothing, like ES's analyzed-field highlighting. */
  private def analyzedTerms(q: JsonNode): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    def addText(t: String): Unit =
      graft.functions.TextFunctions.analyzeText(t).foreach(out += _)
    def walk(n: JsonNode): Unit = unwrap(n) match {
      case ("match" | "match_phrase" | "match_phrase_prefix" |
            "match_bool_prefix", b) =>
        val (_, spec) = unwrap(b)
        addText(if (spec.isObject)
          Option(spec.get("query")).map(_.asText).getOrElse("")
        else spec.asText)
      case ("multi_match" | "combined_fields", b) =>
        Option(b.get("query")).map(_.asText).foreach(addText)
      case ("fuzzy", b) =>
        val (_, spec) = unwrap(b)
        addText(if (spec.isObject)
          Option(spec.get("value")).map(_.asText).getOrElse("")
        else spec.asText)
      case ("simple_query_string", b) =>
        Option(b.get("query")).map(_.asText).foreach { s0 =>
          import SimpleQueryString._
          def nodeTerms(nd: Node): Unit = nd match {
            case Term(t)       => out += t
            case Prefix(p)     => out += p
            case Fuzzy(t, _)   => out += t
            case Phrase(ts, _) => ts.foreach(out += _)
            case And(xs)       => xs.foreach(nodeTerms)
            case Or(xs)        => xs.foreach(nodeTerms)
            case Not(_)        => () // negated terms don't highlight
          }
          parse(s0, defaultAnd = false).foreach(nodeTerms)
        }
      case ("query_string", b) =>
        Option(b.get("query")).map(_.asText).foreach { s0 =>
          val andDef = Option(b.get("default_operator"))
            .exists(_.asText.equalsIgnoreCase("and"))
          import QueryString._
          def qsTerms(nd: Node): Unit = nd match {
            case Term(_, t)       => out += t
            case Prefix(_, p)     => out += p
            case Fuzzy(_, t, _)   => out += t
            case Phrase(_, ts, _) => ts.foreach(out += _)
            case Boost(x, _)      => qsTerms(x)
            case Bool(m, s, _)    => // must_not terms don't highlight
              (m ++ s).foreach(qsTerms)
            case _                => () // wildcard/range/exists
          }
          try qsTerms(parse(s0, andDef))
          catch { case _: ParseError => () }
        }
      case ("span_term", b) =>
        val (_, spec) = unwrap(b)
        out += spanTermValue("span_term", spec)
      case ("span_or" | "span_near", b) =>
        Option(b.get("clauses")).filter(_.isArray).foreach(cs =>
          (0 until cs.size).foreach(i => walk(cs.get(i))))
      case ("span_first", b) =>
        Option(b.get("match")).foreach(walk)
      case ("span_not", b) =>
        Option(b.get("include")).foreach(walk) // excluded spans don't
                                               // highlight
      case ("span_containing" | "span_within", b) =>
        // both sides' spans sit inside served hits
        Seq("big", "little").foreach(k => Option(b.get(k)).foreach(walk))
      case ("span_field_masking" | "field_masking_span", b) =>
        Option(b.get("query")).foreach(walk)
      case ("span_multi", _) =>
        () // pattern expansions aren't enumerable — no highlight terms
      case ("intervals", b) =>
        val (_, spec) = unwrap(b)
        def rule(nd: JsonNode): Unit = unwrap(nd) match {
          case ("match", mb) =>
            Option(mb.get("query")).map(_.asText).foreach(addText)
          case ("any_of" | "all_of", ab) =>
            Option(ab.get("intervals")).filter(_.isArray).foreach(ivs =>
              (0 until ivs.size).foreach(i => rule(ivs.get(i))))
          case _ => ()
        }
        rule(spec)
      case ("script_score", b) =>
        Option(b.get("query")).foreach(walk)
      case ("wrapper", b) =>
        // a malformed wrapper already 400ed at compile time, so
        // failures here cannot happen on served hits
        Option(b.get("query")).map(_.asText).foreach(q64 =>
          decodeWrapper(q64).foreach(walk))
      case ("bool", b) =>
        Seq("must", "filter", "should").foreach(k =>
          sub(b, k).foreach(walk)) // must_not terms don't highlight
      case ("dis_max", b) =>
        Option(b.get("queries")).filter(_.isArray).foreach(qs =>
          (0 until qs.size).foreach(i => walk(qs.get(i))))
      case ("boosting", b) =>
        Option(b.get("positive")).foreach(walk)
      case ("constant_score", b) =>
        Option(b.get("filter")).foreach(walk)
      case ("function_score", b) =>
        Option(b.get("query")).foreach(walk)
      case _ => ()
    }
    walk(q)
    out.toSet
  }

  /** `_source: {includes: [...], excludes: [...]}` — ES's wildcard
    * source filtering: a column survives when it matches an includes
    * pattern (absent = all) and no excludes pattern. Patterns support
    * `*` (any run, including empty). */
  private def sourceFiltered(columns: Seq[String],
                             src: JsonNode): Seq[String] = {
    def pats(key: String): Option[Seq[String]] =
      Option(src.get(key)).map { n =>
        if (!n.isArray) bad(s"_source.$key must be an array")
        (0 until n.size).map(n.get(_).asText)
      }
    val unknown = keysOf(src).filterNot(Set("includes", "excludes"))
    if (unknown.nonEmpty)
      bad(s"unknown _source keys: ${unknown.mkString(", ")}")
    def matches(pat: String, name: String): Boolean =
      name.matches(java.util.regex.Pattern.quote(pat)
        .replace("*", "\\E.*\\Q"))
    val inc = pats("includes")
    val exc = pats("excludes").getOrElse(Nil)
    val kept = columns.filter { c =>
      inc.forall(_.exists(matches(_, c))) && !exc.exists(matches(_, c))
    }
    if (kept.isEmpty) bad("_source filtering removed every column")
    kept
  }

  private def sortKey(field: String, order: String): Column = {
    val (c, asc) = sortPair(field, order)
    if (asc) c.asc else c.desc
  }

  private def sortPair(field: String, order: String): (Column, Boolean) = {
    val c = if (field == "_score") col("_score") else col(field)
    order match {
      case "asc"  => (c, true)
      case "desc" => (c, false)
      case o      => bad(s"unsupported sort order '$o'")
    }
  }

  /** `{"_geo_distance": {"<field>": <point>, "order": ..., "unit":
    * m|km|mi, "distance_type": "arc"}}` — sort hits by haversine
    * distance from the origin. A row with a missing/half point sorts
    * at Infinity (ES's missing-geo contract, which Spark's
    * nulls-first default would invert). mode / ignore_unmapped /
    * nested change results — they reject by name. */
  private def geoDistanceSortPair(b: JsonNode): (Column, Boolean) = {
    if (b == null || !b.isObject)
      bad("malformed _geo_distance sort entry")
    for (k <- Seq("mode", "ignore_unmapped", "nested", "nested_path")
        if b.hasNonNull(k))
      bad(s"unsupported _geo_distance sort key: $k")
    val fieldKeys =
      keysOf(b).filterNot(Set("order", "unit", "distance_type"))
    if (fieldKeys.size != 1)
      bad("_geo_distance sort needs exactly one point field beside " +
        "its knobs")
    val f = fieldKeys.head
    val (oLat, oLon) = geoPoint(b.get(f), "_geo_distance sort")
    Option(b.get("distance_type")).map(_.asText).foreach {
      case "arc"  => () // haversine IS the arc distance
      case other  => bad(s"unsupported distance_type '$other' " +
        "(only the default 'arc')")
    }
    val unitM = Option(b.get("unit")).map(_.asText).map {
      case "m"   => 1.0
      case "km"  => 1000.0
      case "mi"  => 1609.344
      case other => bad(s"unsupported _geo_distance unit '$other' " +
        "(m/km/mi)")
    }.getOrElse(1.0)
    val ord = Option(b.get("order")).map(_.asText).getOrElse("asc")
    if (ord != "asc" && ord != "desc")
      bad(s"unsupported sort order '$ord'")
    val dist = haversineMeters(col(s"$f.lat"), col(s"$f.lon"),
      oLat, oLon) / lit(unitM)
    (coalesce(dist, lit(Double.PositiveInfinity)), ord == "asc")
  }

  /** `{"_script": {"type": "number", "script": {...}, "order": ...}}`
    * — sort by a computed painless-arithmetic value over the hit row
    * (doc refs, script params, `_score`). Only type "number" (the
    * arithmetic subset's output domain); "string" rejects by name. */
  private def scriptSortPair(b: JsonNode): (Column, Boolean) = {
    if (b == null || !b.isObject) bad("malformed _script sort entry")
    val unknown = keysOf(b).filterNot(Set("type", "script", "order"))
    if (unknown.nonEmpty)
      bad(s"unsupported _script sort key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val tpe = Option(b.get("type")).map(_.asText)
      .getOrElse(bad("_script sort needs \"type\""))
    if (tpe != "number")
      bad(s"unsupported _script sort type '$tpe' (only number)")
    val ord = Option(b.get("order")).map(_.asText).getOrElse("asc")
    if (ord != "asc" && ord != "desc")
      bad(s"unsupported sort order '$ord'")
    val c = compileScoreScript(
      Option(b.get("script"))
        .getOrElse(bad("_script sort needs \"script\"")),
      Map("_score" -> col("_score")))
    (c, ord == "asc")
  }

  /** Decode a wrapper clause's base64 JSON — shared by the compile
    * path (failures reject by name) and the highlight walker (which
    * only sees bodies the compile path already accepted). */
  private def decodeWrapper(q64: String): Either[String, JsonNode] =
    try {
      val json = new String(java.util.Base64.getDecoder.decode(q64),
        java.nio.charset.StandardCharsets.UTF_8)
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json)
      if (node == null || !node.isObject)
        Left("wrapper query must decode to a JSON object")
      else Right(node)
    } catch {
      case _: IllegalArgumentException =>
        Left("wrapper query is not valid base64")
      case _: com.fasterxml.jackson.core.JacksonException =>
        Left("wrapper query does not decode to JSON")
    }

  /** A numeric knob value — Jackson coerces non-numeric nodes to 0.0
    * through asDouble, silently dropping (or inverting) the knob;
    * validate the node type first. */
  private def numKnob(n: JsonNode, name: String): Double = {
    if (!n.isNumber) bad(s"$name must be numeric")
    n.asDouble
  }

  private def litOf(v: JsonNode): Column =
    if (v.isTextual) lit(v.asText)
    else if (v.isIntegralNumber) lit(v.asLong)
    else if (v.isNumber) lit(v.asDouble)
    else if (v.isBoolean) lit(v.asBoolean)
    else bad(s"unsupported literal $v")

  /** ES minimum_should_match specs arrive as an integer or the full
    * string grammar — normalize to the string form ONE way. */
  private def msmSpec(m: JsonNode): String =
    if (m.isIntegralNumber) m.asInt.toString else m.asText

  /** The single (kind → body) entry of a query node. */
  private def unwrap(q: JsonNode): (String, JsonNode) = {
    val names = q.fieldNames()
    if (!names.hasNext) bad("empty query clause")
    val kind = names.next()
    if (names.hasNext) bad("a query clause must have exactly one key")
    (kind, q.get(kind))
  }

  /** Clause knobs subsumed by exact evaluation or response shape:
    * `rewrite`/`max_determinized_states` are Lucene rewrite-accuracy
    * hints (exact evaluation meets any setting), `_name` tags matched
    * queries in a response section this engine's flat hit shape does
    * not carry. Accepted and ignored. */
  private val IgnoredClauseKnobs =
    Set("rewrite", "max_determinized_states", "_name")

  /** Validate a clause body's keys against the kind's known set
    * (plus `boost`, which every clause supports) and return the
    * clause-level boost — a silently-dropped result-changing knob
    * (analyzer, lenient, tie_breaker, format, ...) must never
    * silently change ranking; it rejects by name instead. */
  private def clauseBoost(kind: String, body: JsonNode,
                          allowed: Set[String]): Double = {
    val unknown = keysOf(body)
      .filterNot(allowed + "boost").filterNot(IgnoredClauseKnobs)
    if (unknown.nonEmpty)
      bad(s"unsupported $kind key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val b = Option(body.get("boost"))
      .map(numKnob(_, s"$kind boost")).getOrElse(1.0)
    if (b < 0) bad(s"$kind boost must be >= 0")
    b
  }

  /** Compile an ES `script` node (`{"source": "...", "params": {...}}`
    * or the bare-string shorthand) to a numeric Column: the Painless
    * arithmetic subset with `doc['field'].value` references and
    * script.params literals bound as `params.*`. `vars` adds
    * call-site bindings (`_score`). Parse failures reject by name. */
  private def compileScoreScript(scriptNode: JsonNode,
                                 vars: Map[String, Column]): Column = {
    val (src, params) = scriptSrcParams(scriptNode)
    try BucketScript.compile(src, params, vars,
      fieldRef = Some((f: String) => col(f).cast("double")))
    catch { case e: BucketScript.ScriptError => bad(e.msg) }
  }

  /** The shared ES `script` node grammar — source + bound params,
    * unknown keys and non-painless langs rejected by name. Callers
    * ([[compileScoreScript]], runtime mappings) own the compile. */
  private def scriptSrcParams(scriptNode: JsonNode)
      : (String, Map[String, Column]) = {
    val sn = Option(scriptNode)
      .getOrElse(bad("script-bearing clause needs \"script\""))
    val src =
      if (sn.isTextual) sn.asText
      else {
        val unknown = keysOf(sn).filterNot(Set("source", "params",
          "lang"))
        if (unknown.nonEmpty)
          bad(s"unsupported script key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
        Option(sn.get("lang")).map(_.asText).foreach {
          case "painless" => ()
          case other => bad(s"unsupported script lang '$other'")
        }
        Option(sn.get("source")).map(_.asText)
          .getOrElse(bad("script needs \"source\""))
      }
    val params: Map[String, Column] =
      (if (sn.isObject) Option(sn.get("params")) else None)
        .map(pn => keysOf(pn).map(k => k -> litOf(pn.get(k))).toMap)
        .getOrElse(Map.empty)
    (src, params)
  }

  /** `runtime_mappings` — ES search-time runtime fields. Each field
    * is `{"type": double|long|boolean, "script": {"source":
    * "emit(<painless arithmetic>)"}}`: the emit() wrapper is ES's
    * runtime-field contract (exactly one emit, the whole source),
    * its argument compiles through [[BucketScript]] with
    * `doc['field'].value` references and script params, and the
    * result casts to the declared type. Other runtime types (keyword,
    * date, ip, geo_point, composite, lookup) and shadowing reject by
    * name — never a silently-wrong value. */
  private def parseRuntimeMappings(body: JsonNode,
                                   mapped: Seq[String])
      : Seq[(String, Column)] =
    Option(body.get("runtime_mappings")).map { rm =>
      if (!rm.isObject) bad("runtime_mappings must be an object")
      keysOf(rm).map { name =>
        if (mapped.contains(name))
          bad(s"runtime field '$name' shadows a mapped column " +
            "(unsupported — rename the runtime field)")
        val spec = rm.get(name)
        if (!spec.isObject) bad(s"runtime field '$name' must be an " +
          "object")
        val unknown = keysOf(spec).filterNot(Set("type", "script"))
        if (unknown.nonEmpty)
          bad(s"unsupported runtime field key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
        val tpe = Option(spec.get("type")).map(_.asText)
          .getOrElse(bad(s"runtime field '$name' needs \"type\""))
        if (!Set("double", "long", "boolean")(tpe))
          bad(s"unsupported runtime field type '$tpe' " +
            "(double/long/boolean)")
        val (src, params) = scriptSrcParams(
          Option(spec.get("script"))
            .getOrElse(bad(s"runtime field '$name' needs \"script\"")))
        val t = src.trim
        if (!t.startsWith("emit(") || !t.endsWith(")"))
          bad(s"runtime field '$name' script must be emit(<expr>)")
        val inner = t.substring("emit(".length, t.length - 1)
        val c =
          try BucketScript.compile(inner, params, Map.empty,
            fieldRef = Some((f: String) => col(f).cast("double")))
          catch { case e: BucketScript.ScriptError => bad(e.msg) }
        name -> c.cast(tpe)
      }
    }.getOrElse(Nil)

  /** A geo point literal — the `{"lat": .., "lon": ..}` object or the
    * `"lat,lon"` string shorthand; bounds-checked like ES. */
  private def geoPoint(node: JsonNode, kind: String): (Double, Double) = {
    val (lat, lon) =
      if (node == null) bad(s"$kind needs a point")
      else if (node.isTextual) {
        val parts = node.asText.split(",").map(_.trim)
        if (parts.length != 2) bad(s"$kind point must be \"lat,lon\"")
        try (parts(0).toDouble, parts(1).toDouble)
        catch { case _: NumberFormatException =>
          bad(s"$kind point must be \"lat,lon\"") }
      } else if (node.isObject) {
        (Option(node.get("lat")).filter(_.isNumber).map(_.asDouble)
          .getOrElse(bad(s"$kind point needs numeric \"lat\"")),
         Option(node.get("lon")).filter(_.isNumber).map(_.asDouble)
          .getOrElse(bad(s"$kind point needs numeric \"lon\"")))
      } else bad(s"$kind point must be an object or \"lat,lon\"")
    if (lat < -90 || lat > 90) bad(s"$kind lat must be in [-90, 90]")
    if (lon < -180 || lon > 180)
      bad(s"$kind lon must be in [-180, 180]")
    (lat, lon)
  }

  /** GeoJSON position array `[lon, lat]` → (lon, lat). */
  private def geoJsonPos(node: JsonNode): (Double, Double) = {
    if (node == null || !node.isArray || node.size < 2 ||
        !node.get(0).isNumber || !node.get(1).isNumber)
      bad("geo_shape coordinates must be [lon, lat] positions")
    (node.get(0).asDouble, node.get(1).asDouble)
  }

  /** One GeoJSON linear ring → its vertex list (closed; the repeated
    * last vertex dropped). Rejects rings under 3 distinct vertices,
    * over 256 (the unrolled-expression bound), and date-line-crossing
    * edges (ES's own > 180°-span heuristic). */
  private def geoJsonRing(node: JsonNode): Seq[(Double, Double)] = {
    if (node == null || !node.isArray || node.size < 4)
      bad("geo_shape polygon rings need at least 4 positions " +
        "(closed: first == last)")
    if (node.size > 257)
      bad("geo_shape polygon rings are capped at 256 vertices")
    val pts = (0 until node.size).map(i => geoJsonPos(node.get(i)))
    if (pts.head != pts.last)
      bad("geo_shape polygon rings must be closed (first == last)")
    val ring = pts.dropRight(1)
    ring.zip(ring.tail :+ ring.head).foreach { case ((x1, _), (x2, _)) =>
      if (math.abs(x2 - x1) > 180.0)
        bad("geo_shape polygons must not cross the date line " +
          "(an edge spans > 180° of longitude)")
    }
    ring
  }

  /** Even-odd ray casting over a LITERAL ring: one crossing term per
    * edge (horizontal edges contribute none), summed and tested for
    * odd parity — pure column arithmetic that rides the scan inside
    * whole-stage codegen. Boundary behavior is the usual ray-casting
    * convention (measure zero for real data). */
  private def ringContains(ring: Seq[(Double, Double)],
                           lat: Column, lon: Column): Column = {
    val crossings = ring.zip(ring.tail :+ ring.head).flatMap {
      case ((x1, y1), (x2, y2)) =>
        if (y1 == y2) None
        else Some(when(
          (lit(y1) > lat) =!= (lit(y2) > lat) &&
            lon < (lit(x2 - x1) * (lat - lit(y1)) / lit(y2 - y1) +
              lit(x1)),
          1).otherwise(0))
    }
    if (crossings.isEmpty) lit(false)
    else pmod(crossings.reduce(_ + _), lit(2)) === 1
  }

  /** Inline GeoJSON shape → point-membership column. Envelope wraps
    * at the date line like geo_bounding_box; polygon = outer ring
    * minus holes; multipolygon = the union. */
  private def shapeContains(shape: JsonNode, lat: Column,
                            lon: Column): Column = {
    val unknown = keysOf(shape).filterNot(Set("type", "coordinates"))
    if (unknown.nonEmpty)
      bad(s"unsupported geo_shape shape key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val coords = Option(shape.get("coordinates"))
      .getOrElse(bad("geo_shape shape needs \"coordinates\""))
    def polygon(rings: JsonNode): Column = {
      if (!rings.isArray || rings.size == 0)
        bad("polygon coordinates must be an array of rings")
      val outer = ringContains(geoJsonRing(rings.get(0)), lat, lon)
      val holes = (1 until rings.size)
        .map(i => ringContains(geoJsonRing(rings.get(i)), lat, lon))
      holes.foldLeft(outer)((acc, h) => acc && !h)
    }
    Option(shape.get("type")).map(_.asText)
      .getOrElse(bad("geo_shape shape needs \"type\"")) match {
      case "envelope" =>
        // [[minLon, maxLat], [maxLon, minLat]] — ES's envelope order
        if (!coords.isArray || coords.size != 2)
          bad("envelope coordinates must be [top_left, bottom_right]")
        val (l, t) = geoJsonPos(coords.get(0))
        val (r, bo) = geoJsonPos(coords.get(1))
        if (bo > t)
          bad("envelope: top_left lat must be >= bottom_right lat")
        val latOk = lat <= t && lat >= bo
        val lonOk =
          if (l <= r) lon >= l && lon <= r
          else lon >= l || lon <= r // date-line wrap
        latOk && lonOk
      case "polygon" | "Polygon" => polygon(coords)
      case "multipolygon" | "MultiPolygon" =>
        if (!coords.isArray || coords.size == 0)
          bad("multipolygon coordinates must be a non-empty array " +
            "of polygons")
        (0 until coords.size).map(i => polygon(coords.get(i)))
          .reduce(_ || _)
      case other =>
        bad(s"unsupported geo_shape type '$other' " +
          "(envelope/polygon/multipolygon)")
    }
  }

  /** ES distance grammar ("200km", "5mi", "750m") → meters. */
  private def geoDistanceMeters(spec: String): Double = {
    val m = "([0-9]+(?:\\.[0-9]+)?)(m|km|mi)".r
    spec.trim match {
      case m(v, "m")  => v.toDouble
      case m(v, "km") => v.toDouble * 1000.0
      case m(v, "mi") => v.toDouble * 1609.344
      case other => bad(s"malformed distance '$other' (m/km/mi)")
    }
  }

  /** Haversine great-circle distance in meters over the IUGG mean
    * radius 6371008.7714 m — the constant Lucene's
    * GeoUtils.EARTH_MEAN_RADIUS_METERS uses, so radii agree with
    * ES's arc distance_type. Codegen'd trigonometry, no UDF. */
  private def haversineMeters(lat1: Column, lon1: Column,
                              lat2: Double, lon2: Double): Column = {
    val r = 6371008.7714
    val phi1 = radians(lat1)
    val phi2 = math.toRadians(lat2)
    val dPhi = radians(lit(lat2) - lat1)
    val dLam = radians(lit(lon2) - lon1)
    val a = sin(dPhi / 2) * sin(dPhi / 2) +
      cos(phi1) * lit(math.cos(phi2)) * sin(dLam / 2) * sin(dLam / 2)
    lit(2 * r) * asin(sqrt(a))
  }

  /** Metric-family agg kinds — what the sampler uses to distinguish a
    * metric-only child set (one .agg over the sample) from a single
    * bucket child it recurses into. */
  private val MetricKinds = Set("avg", "sum", "min", "max",
    "value_count", "cardinality", "stats", "extended_stats",
    "percentiles", "percentile_ranks", "weighted_avg", "top_metrics",
    "geo_bounds", "geo_centroid", "scripted_metric")

  /** Monotonic suffix for sampler membership-flag columns (nested
    * samplers must not collide on the name). */
  private val SamplerDepth = new java.util.concurrent.atomic.AtomicLong

  /** Dotted-quad IPv4 → its unsigned-32 value in a Long; None when
    * malformed. Literal side of `ip_range` — the column twin is
    * [[ipv4LongColumn]]. */
  private def ipv4Long(ip: String): Option[Long] = {
    val parts = ip.split("\\.", -1)
    // digits only — String.toLong would accept a leading sign, which
    // the column twin's shape regex rejects; the twins must agree on
    // what is a valid address
    if (parts.length != 4 ||
        parts.exists(p => p.isEmpty || p.length > 3 ||
          !p.forall(_.isDigit))) return None
    val os = parts.map(_.toLong)
    if (os.exists(_ > 255)) None
    else Some(os(0) * 16777216L + os(1) * 65536L + os(2) * 256L +
      os(3))
  }

  /** Column twin of [[ipv4Long]]: null on malformed rows (shape gate +
    * octet range check), codegen'd string/arithmetic ops only. */
  private def ipv4LongColumn(c: Column): Column = {
    val parts = split(c, "\\.")
    def oct(i: Int) = parts.getItem(i).cast("long")
    val num = oct(0) * 16777216L + oct(1) * 65536L + oct(2) * 256L +
      oct(3)
    when(c.rlike("^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\." +
      "[0-9]{1,3}$") &&
      oct(0) <= 255 && oct(1) <= 255 && oct(2) <= 255 && oct(3) <= 255,
      num)
  }

  /** Base32 geohash of a point at `precision` chars — Niemeyer's
    * layout (even bits longitude, MSB first) as pure column bit
    * arithmetic: quantize lon/lat to ceil(5p/2)/floor(5p/2) cell
    * bits, interleave into ONE long (5·12 = 60 bits fits), then slice
    * 5-bit groups onto the base32 alphabet. Codegen'd end to end — no
    * geo library, no UDF. */
  private[graft] def geohashColumn(lat: Column, lon: Column,
                                   precision: Int): Column = {
    val totalBits = 5 * precision
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    // quantized cell indexes; the top edge (+90 / +180) is clamped
    // into the last cell, matching the encode convention
    val lonQ = least(floor(lon.plus(lit(180.0)).divide(lit(360.0))
      .multiply(lit(math.pow(2, lonBits)))).cast("long"),
      lit((1L << lonBits) - 1))
    val latQ = least(floor(lat.plus(lit(90.0)).divide(lit(180.0))
      .multiply(lit(math.pow(2, latBits)))).cast("long"),
      lit((1L << latBits) - 1))
    // interleave MSB-first: lon bit i → combined bit 2i, lat bit i →
    // combined bit 2i+1 (combined bit 0 = the code's MSB)
    val lonTerms = (0 until lonBits).map { i =>
      shiftleft(shiftrightunsigned(lonQ, lonBits - 1 - i) % 2,
        totalBits - 1 - 2 * i)
    }
    val latTerms = (0 until latBits).map { i =>
      shiftleft(shiftrightunsigned(latQ, latBits - 1 - i) % 2,
        totalBits - 1 - (2 * i + 1))
    }
    val code = (lonTerms ++ latTerms).reduce(_ + _)
    val alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    val chars = (0 until precision).map { g =>
      lit(alpha).substr(
        (shiftrightunsigned(code, 5 * (precision - 1 - g)) % 32)
          .cast("int") + 1, lit(1))
    }
    concat(chars: _*)
  }

  /** The lowercased term of a span_term body (short `{"f": "v"}` or
    * object `{"f": {"value": "v"}}` form). */
  private def spanTermValue(kind: String, spec: JsonNode): String = {
    val v = (if (spec.isObject) Option(spec.get("value")).map(_.asText)
      .getOrElse(bad(s"$kind needs \"value\""))
    else spec.asText).toLowerCase
    // an empty value would degenerate the padded substring probe to
    // the token separator (matching every multi-token doc); a
    // whitespace-bearing value can never equal one token
    if (v.isEmpty || v.exists(_.isWhitespace))
      bad(s"$kind value must be a single non-empty token")
    v
  }

  /** A span LEAF — `span_term`, or `span_or` of span_terms — compiled
    * to (field, token matcher, terms). The composable subset every
    * practical span body uses; deeper span nesting rejects by name at
    * the call sites. Inner `boost` is rejected (a silently dropped
    * inner boost would change scoring in ES). */
  private def spanLeaf(node: JsonNode)
      : (String, Column => Column, Seq[String]) = unwrap(node) match {
    case ("span_term", tb) =>
      val (f, spec) = unwrap(tb)
      if (spec.isObject) {
        val unknown = keysOf(spec).filterNot(Set("value"))
        if (unknown.nonEmpty)
          bad(s"unsupported span_term key" +
            s"${if (unknown.size == 1) "" else "s"} here: " +
            unknown.mkString(", "))
      }
      val v = spanTermValue("span_term", spec)
      (f, (x: Column) => x === lit(v), Seq(v))
    case ("span_or", b) => spanOrLeaf(b)
    case ("span_multi", b) => spanMultiLeaf(b)
    case (other, _) =>
      bad(s"unsupported span clause '$other' here — span_term, " +
        "span_or of span_terms, or span_multi compose")
  }

  /** A span_near clause slot, mask-aware: `(reported field, source
    * field, matcher)`. `span_field_masking` (ES 8; `field_masking_span`
    * in older clients) REPORTS the masked field for span_near's
    * same-field check while its positions come from the wrapped
    * query's own field — Lucene's composition for analyzer-compatible
    * multi-fields. Unmasked leaves report their own field. */
  private def spanMaskedLeaf(node: JsonNode)
      : (String, String, Column => Column) = unwrap(node) match {
    case (k @ ("span_field_masking" | "field_masking_span"), mb) =>
      val unknown = keysOf(mb).filterNot(Set("query", "field"))
      if (unknown.nonEmpty)
        bad(s"unsupported $k key" +
          s"${if (unknown.size == 1) "" else "s"}: " +
          unknown.mkString(", "))
      val inner = Option(mb.get("query"))
        .getOrElse(bad(s"$k needs \"query\""))
      val masked = Option(mb.get("field")).map(_.asText)
        .getOrElse(bad(s"$k needs \"field\""))
      val (src, m, _) = spanLeaf(inner)
      (masked, src, m)
    case _ =>
      val (f, m, _) = spanLeaf(node)
      (f, f, m)
  }

  /** Lucene `span_multi`: a multi-term query (`prefix` / `wildcard` /
    * `regexp` / `fuzzy`) lifted into span position. The wrapped
    * pattern becomes a TOKEN matcher over the same positional scan
    * every span clause rides — no expansion-set enumeration is needed
    * (Lucene rewrites to an expanded span_or; matching the pattern
    * per token is the same match set without the term-count cap).
    * Pattern values are lowercased like [[spanTermValue]] (the span
    * scan tokenizes lowercased text — the engine's span convention);
    * a `regexp` pattern is taken verbatim against the lowercased
    * tokens, anchored like the top-level regexp clause. Highlight
    * terms are not enumerable for a pattern, so the leaf contributes
    * none. */
  private def spanMultiLeaf(b: JsonNode)
      : (String, Column => Column, Seq[String]) = {
    val unknown = keysOf(b).filterNot(Set("match"))
    if (unknown.nonEmpty)
      bad(s"unsupported span_multi key" +
        s"${if (unknown.size == 1) "" else "s"}: " +
        unknown.mkString(", "))
    val m0 = Option(b.get("match"))
      .getOrElse(bad("span_multi needs \"match\""))
    unwrap(m0) match {
      case ("prefix", pb) =>
        val (f, spec) = unwrap(pb)
        valueOnlyKeys("prefix", spec)
        val v = spanTermValue("prefix", spec)
        (f, (x: Column) => x.startsWith(lit(v)), Seq.empty)
      case ("wildcard", wb) =>
        val (f, spec) = unwrap(wb)
        valueOnlyKeys("wildcard", spec)
        val v = spanTermValue("wildcard", spec)
        val like = wildcardToLike(v)
        (f, (x: Column) => x.like(like), Seq.empty)
      case ("regexp", rb) =>
        val (f, spec) = unwrap(rb)
        valueOnlyKeys("regexp", spec)
        val pat = if (spec.isObject)
          Option(spec.get("value")).map(_.asText)
            .getOrElse(bad("regexp needs \"value\""))
          else spec.asText
        var esc = false
        pat.foreach { ch =>
          if (esc) esc = false
          else if (ch == '\\') esc = true
          else if ("&~<>".contains(ch))
            bad(s"Lucene-specific regexp operator '$ch' is not " +
              "supported")
        }
        val re = "^(?:" + pat + ")$"
        (f, (x: Column) => x.rlike(re), Seq.empty)
      case ("fuzzy", fb) =>
        val (f, spec) = unwrap(fb)
        val (v, fz) =
          if (spec.isObject) {
            val unknown2 = keysOf(spec).filterNot(Set("value", "fuzziness"))
            if (unknown2.nonEmpty)
              bad(s"unsupported fuzzy key" +
                s"${if (unknown2.size == 1) "" else "s"} here: " +
                unknown2.mkString(", "))
            (spanTermValue("fuzzy", spec),
             Option(spec.get("fuzziness")).map(_.asText).getOrElse("AUTO"))
          } else (spanTermValue("fuzzy", spec), "AUTO")
        val e = Search.fuzzyEdits(v, fz)
          .getOrElse(bad(s"unsupported fuzziness '$fz' (AUTO/0/1/2)"))
        (f, (x: Column) => Search.editDistance(x, v, true) <= e,
          Seq.empty)
      case (other, _) =>
        bad(s"unsupported span_multi match '$other' " +
          "(prefix/wildcard/regexp/fuzzy)")
    }
  }

  /** `span_or` of span_terms → one token-set matcher (the clauses ride
    * a single position scan). */
  private def spanOrLeaf(b: JsonNode)
      : (String, Column => Column, Seq[String]) = {
    val cs = Option(b.get("clauses")).filter(_.isArray)
      .filter(_.size > 0)
      .getOrElse(bad("span_or needs a non-empty \"clauses\" array"))
    val leaves = (0 until cs.size).map { i =>
      unwrap(cs.get(i)) match {
        case ("span_term", tb) =>
          val (f, spec) = unwrap(tb)
          if (spec.isObject) {
            val unknown = keysOf(spec).filterNot(Set("value"))
            if (unknown.nonEmpty)
              bad("unsupported span_term key" +
                s"${if (unknown.size == 1) "" else "s"} here: " +
                unknown.mkString(", "))
          }
          (f, spanTermValue("span_term", spec))
        case (other, _) =>
          bad(s"span_or clauses must be span_term (got '$other')")
      }
    }
    val fields = leaves.map(_._1).distinct
    if (fields.size != 1)
      bad("span_or clauses must target one field " +
        s"(got ${fields.mkString(", ")})")
    val vs = leaves.map(_._2)
    (fields.head, (x: Column) => x.isInCollection(vs), vs)
  }

  /** Reject every spec key beyond `value` — span_multi's wrapped
    * term-level queries carry none of their top-level knobs (a
    * silently dropped `rewrite`/`case_insensitive` would change the
    * match set). */
  private def valueOnlyKeys(kind: String, spec: JsonNode): Unit =
    if (spec.isObject) {
      val unknown = keysOf(spec).filterNot(Set("value"))
      if (unknown.nonEmpty)
        bad(s"unsupported $kind key" +
          s"${if (unknown.size == 1) "" else "s"} here: " +
          unknown.mkString(", "))
    }

  /** Occurrences of a leaf matcher's tokens in `f` — the span
    * frequency of a standalone leaf. */
  private def spanLeafCount(f: String, m: Column => Column): Column = {
    val toks = graft.functions.TextFunctions.analyzerTokens(col(f))
    size(filter(toks, x => m(x))).cast("int")
  }

  /** The positions in `f` of a span slot's matcher — the scan
    * producer of [[Positional]]. */
  private def spanPositions(f: String, m: Column => Column): Column =
    Positional.positions(
      graft.functions.TextFunctions.analyzerTokens(col(f)), m)

  /** ES `match_phrase_prefix`'s count in `f`: [[Positional.phrase]]
    * with dense offsets and the LAST slot matched by PREFIX — any
    * token starting with the last "term", the still-being-typed
    * prefix (Lucene's MultiPhrasePrefixQuery rides the same
    * SloppyPhraseMatcher). `lastExpansion`, when present, caps the
    * final slot to membership in that token set (ES `max_expansions`;
    * the caller derives the first-N expansion). Distinctness is
    * all-pairs: the prefix slot can land on an exact slot's token.
    * One term is a prefix-token count. */
  private def prefixPhraseCount(f: String, terms: Seq[String], slop: Int,
                                lastExpansion: Option[Seq[String]])
      : Column = {
    val last: Column => Column = lastExpansion match {
      case Some(set) =>
        if (set.isEmpty) _ => lit(false) else _.isInCollection(set)
      case None => _.startsWith(terms.last)
    }
    val slots = terms.init.map(t => (x: Column) => x === lit(t)) :+ last
    Positional.count(Positional.phrase(slots.map(spanPositions(f, _)),
      terms.indices, slop, (_, _) => true))
  }

  /** Apply a clause-level boost — ES multiplies the clause's score
    * (match set unchanged); 1.0 keeps the exact unboosted column. */
  private def boosted(c: Clause, boost: Double): Clause =
    if (boost == 1.0) c
    else Clause(c.pred, c.score.cast("double") * boost)

  /** The Lucene-only regex operators (`&` intersection, `~`
    * complement, `<>` numeric intervals) have no Java-regex
    * equivalent — reject them rather than mistranslate; the shared
    * core (. * + ? [] () |) is dialect-identical. MALFORMED syntax
    * also rejects here, at the wire (ES 400s a bad regex; letting it
    * reach rlike would surface as an internal error at plan time).
    * Shared by the `regexp` clause and the completion suggester's
    * `regex` form. */
  private def rejectLuceneRegexOps(pat: String): Unit = {
    var esc = false
    pat.foreach { ch =>
      if (esc) esc = false
      else if (ch == '\\') esc = true
      else if ("&~<>".contains(ch))
        bad(s"Lucene-specific regexp operator '$ch' is not supported")
    }
    try java.util.regex.Pattern.compile(pat)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        bad(s"malformed regexp: ${e.getDescription}")
    }
    ()
  }

  /** A term-level pattern clause's (field, value, case_insensitive) —
    * ES allows both the short `{"field": "pat"}` and the object
    * `{"field": {"value": "pat", "case_insensitive": true}}` forms. */
  private def patternSpec(b: JsonNode, kind: String)
      : (String, String, Boolean, Double) = {
    val (f, spec) = unwrap(b)
    if (spec.isObject) {
      val boost = clauseBoost(kind, spec,
        Set("value", "case_insensitive"))
      val v = Option(spec.get("value")).map(_.asText)
        .getOrElse(bad(s"$kind needs \"value\""))
      (f, v, Option(spec.get("case_insensitive")).exists(_.asBoolean),
        boost)
    } else (f, spec.asText, false, 1.0)
  }

  /** ES wildcard pattern → SQL LIKE: `*` → `%`, `?` → `_`, `\x` is a
    * literal x, and LIKE's own metacharacters are escaped. */
  private def wildcardToLike(pat: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '\\' if i + 1 < pat.length =>
          i += 1; escapeLikeInto(sb, pat.charAt(i))
        case '*' => sb.append('%')
        case '?' => sb.append('_')
        case ch  => escapeLikeInto(sb, ch)
      }
      i += 1
    }
    sb.toString
  }

  private def escapeLikeInto(sb: StringBuilder, ch: Char): Unit = {
    if (ch == '%' || ch == '_' || ch == '\\') sb.append('\\')
    sb.append(ch); ()
  }

  /** Compile `q` against ANOTHER index's frame with its own [[Ctx]]
    * and a minimal score fold (shared BM25 frame + phrase statistics
    * — the two folds a sub-query can register) — the parent/child
    * clauses' sub-compile. Returns the MATCHED rows of `other` with
    * their score in [[SubScore]]. Parent/child clauses do not nest
    * (the sub-Ctx carries no relations — a nested has_child fails by
    * name), matching ES's one-level join-field contract. */
  private def subCompile(other: DataFrame, q: JsonNode): DataFrame = {
    val sid = col(other.columns.head)
    val sctx = new Ctx(other, sid)
    val c = clause(q, sctx)
    // the other frame's rows never surface as response hits, so an
    // inner_hits queued by a nested sub-clause has nowhere to land —
    // reject by name rather than silently dropping the section
    if (sctx.innerHitCols.nonEmpty)
      bad("inner_hits is not supported inside has_child/has_parent " +
        "sub-queries")
    val b0 = other.withColumn(IdColMarker, col(other.columns.head))
      .withColumn(SidCol, sid)
    val b1 = sctx.scoreFrame
      .map(fr => b0.join(fr, Seq(SidCol), "left")).getOrElse(b0)
    val b2 = sctx.phraseStatsFrame
      .map(ps => b1.crossJoin(broadcast(ps))).getOrElse(b1)
    sctx.foldJoins(b2)
      .filter(coalesce(c.pred, lit(false)))
      .withColumn(SubScore, c.score.cast("double"))
  }

  private def clause(q: JsonNode, ctx: Ctx): Clause = unwrap(q) match {
    case ("match_all", b) =>
      // ES match_all: every doc, score = boost
      val boost =
        if (b != null && b.isObject) clauseBoost("match_all", b, Set())
        else 1.0
      Clause(lit(true), lit(boost))

    case ("wrapper", b) =>
      // ES wrapper: a base64-encoded JSON query, decoded and compiled
      // like any inline clause — the escape hatch SDKs use to embed
      // raw queries. Malformed base64/JSON is the caller's error.
      val wBoost = clauseBoost("wrapper", b, Set("query"))
      val q64 = Option(b.get("query")).map(_.asText)
        .getOrElse(bad("wrapper needs \"query\""))
      boosted(clause(decodeWrapper(q64).fold(bad, identity), ctx),
        wBoost)

    case ("match_none", b) =>
      // ES match_none: the empty match set
      if (b != null && b.isObject && b.fieldNames().hasNext)
        bad("match_none takes an empty body")
      Clause(lit(false), lit(0.0))

    case ("term", b) =>
      val (f, v) = unwrap(b)
      val boost =
        if (v.isObject) clauseBoost("term", v, Set("value")) else 1.0
      val value = if (v.isObject) Option(v.get("value"))
        .getOrElse(bad("term needs a value")) else v
      boosted(Clause(col(f) === litOf(value), lit(1.0)), boost)

    case ("terms", b) =>
      // ES terms: ONE field key plus the optional clause boost
      val fieldKeys = keysOf(b)
        .filterNot(_ == "boost").filterNot(IgnoredClauseKnobs)
      if (fieldKeys.size != 1)
        bad("terms needs exactly one field")
      val f = fieldKeys.head
      val vs = b.get(f)
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      if (boost < 0) bad("terms boost must be >= 0")
      val values: Seq[Any] =
        if (vs.isArray) {
          val inline: Seq[Any] = (0 until vs.size).map { i =>
            val v = vs.get(i)
            if (v.isTextual) v.asText
            else if (v.isIntegralNumber) v.asLong
            else if (v.isNumber) v.asDouble
            else if (v.isBoolean) v.asBoolean
            else bad(s"unsupported literal $v")
          }
          if (inline.isEmpty) bad("terms needs at least one value")
          inline
        } else if (vs.isObject) {
          // ES terms LOOKUP: the referenced document's `path` values
          // are the term list (resolved once at compile time —
          // Ctx.termsLookup). `routing` addresses a shard of a
          // sharded ES index — no analogue here, rejected by name.
          val unknown = keysOf(vs).filterNot(Set("index", "id", "path"))
          if (unknown.nonEmpty)
            bad(s"unsupported terms-lookup key" +
              s"${if (unknown.size == 1) "" else "s"}: " +
              unknown.mkString(", "))
          def need(k: String): String = Option(vs.get(k)).map(_.asText)
            .getOrElse(bad(s"terms lookup needs \"$k\""))
          ctx.termsLookup(need("index"), need("id"), need("path"))
        } else bad("terms needs an array of values or a lookup " +
          "object {index, id, path}")
      // an empty LOOKUP result (missing doc / null field) matches
      // nothing — ES's contract; inline empty arrays rejected above
      boosted(Clause(
        if (values.isEmpty) lit(false)
        else col(f).isInCollection(values), lit(1.0)), boost)

    case ("terms_set", b) =>
      // ES terms_set: the doc matches when at least
      // `minimum_should_match_field`'s PER-DOCUMENT value of the
      // supplied terms token-match the field — the per-row-threshold
      // variant of minimum_should_match. Scored by the matching-term
      // count (the documented count families);
      // minimum_should_match_script is script-bearing — rejected.
      val (f, spec) = unwrap(b)
      if (spec.hasNonNull("minimum_should_match_script"))
        bad("minimum_should_match_script is not supported; use " +
          "minimum_should_match_field")
      val tsBoost = clauseBoost("terms_set", spec,
        Set("terms", "minimum_should_match_field"))
      val termsNode = Option(spec.get("terms")).filter(_.isArray)
        .getOrElse(bad("terms_set needs a \"terms\" array"))
      if (termsNode.size == 0) bad("terms_set needs at least one term")
      val tsTerms = (0 until termsNode.size)
        .map(termsNode.get(_).asText.toLowerCase).distinct
      val msmField = Option(spec.get("minimum_should_match_field"))
        .map(_.asText)
        .getOrElse(bad("terms_set needs \"minimum_should_match_field\""))
      val matched = tsTerms.map(t =>
        when(Search.substrCount(Search.tokenNorm(col(f)),
          s" $t ") > 0, 1).otherwise(0)).reduce(_ + _)
      boosted(Clause(col(msmField).isNotNull && matched >= col(msmField),
        matched.cast("double")), tsBoost)

    case ("range", b) =>
      val (f, bounds) = unwrap(b)
      // a textual bound against a TIMESTAMP column goes through
      // Spark's implicit string→timestamp cast, which nulls an
      // unparseable date (condition silently false) — validate with
      // the same cast grammar up front, like date_range's bounds.
      // String columns keep raw textual bounds (lexicographic ranges
      // are legitimate there).
      val isTs = ctx.raw.schema.fields.find(_.name == f)
        .exists(_.dataType ==
          org.apache.spark.sql.types.TimestampType)
      def boundOf(v: JsonNode): Column = {
        if (isTs && v.isTextual) {
          val ok = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(v.asText),
              java.time.ZoneOffset.UTC).isDefined
          if (!ok) bad(s"malformed date bound '${v.asText}'")
        }
        litOf(v)
      }
      val boost =
        if (bounds.isObject)
          clauseBoost("range", bounds, Set("gt", "gte", "lt", "lte"))
        else 1.0
      val preds = Seq("gt" -> ((c: Column, v: Column) => c > v),
          "gte" -> ((c: Column, v: Column) => c >= v),
          "lt" -> ((c: Column, v: Column) => c < v),
          "lte" -> ((c: Column, v: Column) => c <= v))
        .flatMap { case (k, op) =>
          Option(bounds.get(k)).map(v => op(col(f), boundOf(v))) }
      if (preds.isEmpty) bad("range needs gt/gte/lt/lte")
      boosted(Clause(preds.reduce(_ && _), lit(1.0)), boost)

    case ("exists", b) =>
      val boost = clauseBoost("exists", b, Set("field"))
      val f = Option(b.get("field")).map(_.asText)
        .getOrElse(bad("exists needs \"field\""))
      boosted(Clause(col(f).isNotNull, lit(1.0)), boost)

    case ("wildcard", b) =>
      // ES wildcard matches the ENTIRE (keyword) value — exactly SQL
      // LIKE's whole-string contract. Case-sensitive by default.
      val (f, pat, ci, boost) = patternSpec(b, "wildcard")
      val like = wildcardToLike(if (ci) pat.toLowerCase else pat)
      val target = if (ci) lower(col(f)) else col(f)
      boosted(Clause(target.like(like), lit(1.0)), boost)

    case ("prefix", b) =>
      val (f, pre, ci, boost) = patternSpec(b, "prefix")
      val sb = new StringBuilder
      (if (ci) pre.toLowerCase else pre).foreach(escapeLikeInto(sb, _))
      val target = if (ci) lower(col(f)) else col(f)
      boosted(Clause(target.like(sb.toString + "%"), lit(1.0)), boost)

    case ("regexp", b) =>
      // ES regexp is FULLY ANCHORED (matches the whole value). The
      // Lucene-only operators (`&` intersection, `~` complement, `<>`
      // numeric intervals) have no Java-regex equivalent — reject them
      // rather than mistranslate; the shared core (. * + ? [] () |) is
      // dialect-identical.
      val (f, pat, ci, boost) = patternSpec(b, "regexp")
      rejectLuceneRegexOps(pat)
      val re = (if (ci) "(?i)" else "") + "^(?:" + pat + ")$"
      boosted(Clause(col(f).rlike(re), lit(1.0)), boost)

    case ("ids", b) =>
      // ES matches _id; the engine's document identity is the table's
      // id column (the same id every scorer tiebreaks on), bound to the
      // marker column by [[searchParts]]
      val boost = clauseBoost("ids", b, Set("values"))
      val vs = Option(b.get("values")).filter(_.isArray)
        .getOrElse(bad("ids needs \"values\""))
      val values: Seq[Any] = (0 until vs.size).map { i =>
        val v = vs.get(i)
        if (v.isTextual) v.asText
        else if (v.isIntegralNumber) v.asLong
        else bad(s"unsupported id literal $v")
      }
      if (values.isEmpty) bad("ids needs at least one value")
      boosted(Clause(col(IdColMarker).isInCollection(values), lit(1.0)),
        boost)

    case ("constant_score", b) =>
      val boost = clauseBoost("constant_score", b, Set("filter"))
      val f = Option(b.get("filter"))
        .getOrElse(bad("constant_score needs \"filter\""))
      Clause(ctx.inFilter { clause(f, ctx) }.pred, lit(boost))

    case ("match_phrase", b) =>
      val (f, spec) = unwrap(b)
      val boost = if (spec.isObject)
        clauseBoost("match_phrase", spec,
          Set("query", "slop", "analyzer", "zero_terms_query"))
        else 1.0
      val qa = if (spec.isObject) matchAnalyzer(spec) else "standard"
      val text = if (spec.isObject) Option(spec.get("query"))
        .map(_.asText).getOrElse(bad("match_phrase needs \"query\""))
      else spec.asText
      val slop = if (spec.isObject)
        intOpt(spec, "slop").getOrElse(0) else 0
      val pzta = spec.isObject && zeroTermsAll(spec)
      phraseLeg(ctx, f, text, slop, qa) match {
        // zero analyzed terms (all-stopword english/french phrase,
        // empty whitespace/keyword input): ES's zero_terms_query —
        // "none" (default) matches nothing; "all" acts as match_all
        case None if pzta => boosted(Clause(lit(true), lit(1.0)), boost)
        case None => Clause(lit(false), lit(0.0))
        case Some((cnt, score)) =>
          boosted(Clause(cnt > 0, score), boost)
      }

    case ("match_bool_prefix", b) =>
      // ES match_bool_prefix: the terms are independent bool clauses
      // (no adjacency, unlike match_phrase_prefix) — every term but
      // the last matches token-exact, the LAST matches as a prefix.
      // operator and/or gates the match set; the score sums the
      // per-term occurrence counts (the documented count families).
      val (f, spec) = unwrap(b)
      val mbpBoost = if (spec.isObject)
        clauseBoost("match_bool_prefix", spec, Set("query", "operator"))
      else 1.0
      val text = if (spec.isObject) Option(spec.get("query"))
        .map(_.asText).getOrElse(bad("match_bool_prefix needs \"query\""))
      else spec.asText
      val operator = if (spec.isObject)
        Option(spec.get("operator")).map(_.asText).getOrElse("or")
      else "or"
      if (operator != "and" && operator != "or")
        bad(s"unsupported operator '$operator'")
      val terms = graft.functions.TextFunctions.analyzeText(text).toSeq
      if (terms.isEmpty) bad("empty match_bool_prefix query")
      val counts: Seq[Column] =
        terms.init.map(t =>
          Search.substrCount(Search.tokenNorm(col(f)), s" $t ")) :+
        prefixPhraseCount(f, Seq(terms.last), 0, None)
      val preds = counts.map(_ > 0)
      val pred =
        if (operator == "and") preds.reduce(_ && _) else preds.reduce(_ || _)
      boosted(Clause(pred, counts.reduce(_ + _).cast("double")), mbpBoost)

    case ("match_phrase_prefix", b) =>
      // ES match_phrase_prefix: the leading terms form a (sloppy)
      // phrase and the LAST term is a prefix of the final token — the
      // search-as-you-type query. Count-scored like the phrase family.
      // max_expansions caps the final slot to the first-N dictionary
      // expansion of the prefix (token asc — Lucene's order).
      val (f, spec) = unwrap(b)
      val mppBoost = if (spec.isObject)
        clauseBoost("match_phrase_prefix", spec,
          Set("query", "slop", "max_expansions"))
      else 1.0
      val text = if (spec.isObject) Option(spec.get("query"))
        .map(_.asText).getOrElse(bad("match_phrase_prefix needs \"query\""))
      else spec.asText
      val slop = if (spec.isObject)
        intOpt(spec, "slop").getOrElse(0) else 0
      if (slop < 0) bad("slop must be >= 0")
      val maxExp = if (spec.isObject)
        intOpt(spec, "max_expansions") else None
      maxExp.foreach(n => if (n <= 0 || n > Search.MaxExpansionsCeiling)
        bad(s"max_expansions must be 1..${Search.MaxExpansionsCeiling}"))
      val terms = graft.functions.TextFunctions.analyzeText(text).toSeq
      if (terms.isEmpty) bad("empty match_phrase_prefix query")
      val expansion = maxExp.map(n =>
        ctx.prefixExpansion(Seq(f), terms.last, n))
      val cnt = prefixPhraseCount(f, terms, slop, expansion)
      boosted(Clause(cnt > 0, cnt.cast("double")), mppBoost)

    case ("fuzzy", b) =>
      // term-level fuzzy: ONE unanalyzed term within its edit budget
      // of a field token (multi-word input is the caller confusing it
      // with match+fuzziness — reject, don't guess). Scored by the
      // fuzzy-occurrence count. Metric: Damerau under ES's default
      // transpositions=true, Levenshtein under explicit false.
      val (f, spec) = unwrap(b)
      val fzBoost =
        if (spec.isObject)
          clauseBoost("fuzzy", spec, Set("value", "fuzziness",
            "prefix_length", "max_expansions", "transpositions"))
        else 1.0
      val (value, fz, knobs) =
        if (spec.isObject)
          (Option(spec.get("value")).map(_.asText)
             .getOrElse(bad("fuzzy needs \"value\"")),
           Option(spec.get("fuzziness")).map(_.asText).getOrElse("AUTO"),
           fuzzyKnobs(Some(spec)))
        else (spec.asText, "AUTO", (0, Option.empty[Int], true))
      if (value.trim.split("\\s+").length != 1)
        bad("fuzzy is term-level (one term); use match with fuzziness " +
          "for analyzed text")
      boosted(matchClause(ctx, value, Seq(f -> 1.0), "or",
        minMatch = None, bestFields = false, Some(fz), knobs,
        rawTerm = true), fzBoost)

    // ── span family (Lucene positional algebra; reference clients
    // forward these verbatim, src/search_api.py:38-46). Leaves are
    // span_term / span_or-of-span_terms; span_near composes leaves
    // with slop and order over the SAME positional token scan the
    // phrase family uses (the Positional walkers — HOFs over per-slot
    // position lists, no explode). Scored by span frequency (the
    // documented occurrence-count families). span_multi lifts
    // prefix/wildcard/regexp/fuzzy patterns into span position;
    // span_containing/span_within relate in-order near spans to a
    // width-1 little by interval containment. Deeper nesting
    // (span_near inside span_near, field_masking_span) rejects by
    // name, never silently wrong. ──
    case ("span_term", b) =>
      val (f, spec) = unwrap(b)
      val boost = if (spec.isObject)
        clauseBoost("span_term", spec, Set("value")) else 1.0
      val v = spanTermValue("span_term", spec)
      val cnt = Search.substrCount(Search.tokenNorm(col(f)), s" $v ")
      boosted(Clause(cnt > 0, cnt.cast("double")), boost)

    case ("span_or", b) =>
      val boost = clauseBoost("span_or", b, Set("clauses"))
      val (f, m, _) = spanOrLeaf(b)
      val cnt = spanLeafCount(f, m)
      boosted(Clause(cnt > 0, cnt.cast("double")), boost)

    case ("span_near", b) =>
      val snBoost =
        clauseBoost("span_near", b, Set("clauses", "slop", "in_order"))
      val cs = Option(b.get("clauses")).filter(_.isArray)
        .filter(_.size > 0)
        .getOrElse(bad("span_near needs a non-empty \"clauses\" array"))
      // mask-aware slots: the same-field check runs on REPORTED
      // fields (what span_field_masking exists to satisfy); position
      // streams come from each slot's SOURCE field
      val leaves = (0 until cs.size).map(i => spanMaskedLeaf(cs.get(i)))
      val fieldsSeen = leaves.map(_._1).distinct
      if (fieldsSeen.size != 1)
        bad("span_near clauses must target one field " +
          s"(got ${fieldsSeen.mkString(", ")}); wrap cross-field " +
          "clauses in span_field_masking")
      val slop = Option(b.get("slop")).map { n =>
        if (!n.isIntegralNumber) bad("span_near slop must be an integer")
        n.asInt
      }.getOrElse(0)
      if (slop < 0) bad("span_near slop must be >= 0")
      // ES default: in_order false
      val inOrder = Option(b.get("in_order")).exists { n =>
        if (!n.isBoolean) bad("span_near in_order must be boolean")
        n.asBoolean
      }
      // each slot's positions come from its own SOURCE field and
      // compare in ONE position space (Lucene's overlay semantics for
      // analyzer-compatible masked fields)
      val slots = leaves.map(l => spanPositions(l._2, l._3))
      val cnt =
        if (leaves.size == 1) spanLeafCount(leaves.head._2, leaves.head._3)
        else if (inOrder) Positional.count(Positional.near(slots, slop))
        else if (leaves.size == 2)
          Positional.count(Positional.pair(slots(0), slots(1), slop))
        else bad("unordered span_near supports two clauses (in_order " +
          "true composes any number)")
      boosted(Clause(cnt > 0, cnt.cast("double")), snBoost)

    case ("span_first", b) =>
      // Lucene span_first: the span must END by position `end` — for
      // width-1 leaves, a match among the first `end` tokens
      val boost = clauseBoost("span_first", b, Set("match", "end"))
      val m0 = Option(b.get("match"))
        .getOrElse(bad("span_first needs \"match\""))
      val (f, m, _) = spanLeaf(m0)
      val end = Option(b.get("end")).map { n =>
        if (!n.isIntegralNumber)
          bad("span_first end must be an integer")
        n.asInt
      }.getOrElse(bad("span_first needs \"end\""))
      if (end < 1) bad("span_first end must be >= 1")
      val toks = graft.functions.TextFunctions.analyzerTokens(col(f))
      val cnt = size(filter(slice(toks, 1, end), x => m(x))).cast("int")
      boosted(Clause(cnt > 0, cnt.cast("double")), boost)

    case ("span_not", b) =>
      // Lucene span_not: include matches with no exclude match within
      // `pre` tokens before .. `post` tokens after
      val boost = clauseBoost("span_not", b,
        Set("include", "exclude", "pre", "post", "dist"))
      val inc0 = Option(b.get("include"))
        .getOrElse(bad("span_not needs \"include\""))
      val exc0 = Option(b.get("exclude"))
        .getOrElse(bad("span_not needs \"exclude\""))
      val (fi, mi, _) = spanLeaf(inc0)
      val (fe, me, _) = spanLeaf(exc0)
      if (fi != fe)
        bad("span_not include/exclude must target one field")
      def intWin(name: String): Option[Int] =
        Option(b.get(name)).map { n =>
          if (!n.isIntegralNumber)
            bad(s"span_not $name must be an integer")
          n.asInt
        }
      val dist = intWin("dist")
      val pre = dist.orElse(intWin("pre")).getOrElse(0)
      val post = dist.orElse(intWin("post")).getOrElse(0)
      if (pre < 0 || post < 0) bad("span_not pre/post must be >= 0")
      val cnt = size(filter(spanPositions(fi, mi), p =>
        !exists(spanPositions(fi, me), q =>
          q >= p - lit(pre) && q <= p + lit(post)))).cast("int")
      boosted(Clause(cnt > 0, cnt.cast("double")), boost)

    case ("span_multi", b) =>
      // standalone span_multi: the wrapped pattern's token-occurrence
      // count is its span frequency (each matching token is a
      // width-1 span)
      val (f, m, _) = spanMultiLeaf(b)
      val cnt = spanLeafCount(f, m)
      Clause(cnt > 0, cnt.cast("double"))

    case (k @ ("span_field_masking" | "field_masking_span"), b) =>
      // standalone mask: match set and score ARE the wrapped span's —
      // the masked name only matters inside a composing span_near
      // (Lucene's contract; the mask changes reported field, not
      // matching)
      val boost = clauseBoost(k, b, Set("query", "field"))
      if (Option(b.get("field")).isEmpty) bad(s"$k needs \"field\"")
      val inner = Option(b.get("query"))
        .getOrElse(bad(s"$k needs \"query\""))
      boosted(clause(inner, ctx), boost)

    case (kind @ ("span_containing" | "span_within"), b) =>
      // Lucene span_containing/span_within: spans of `big` related to
      // spans of `little` by interval containment. `big` is an
      // in-order span_near (its spans have enumerable ends) or a
      // width-1 leaf; `little` is a leaf (width 1, so Lucene's
      // start/end inequalities collapse to position-in-interval —
      // Positional.containing). containing scores big-span
      // frequency, within scores little-span frequency (Lucene's
      // contract: each query returns ITS side's spans).
      val boost = clauseBoost(kind, b, Set("big", "little"))
      val big0 = Option(b.get("big"))
        .getOrElse(bad(s"$kind needs \"big\""))
      val little0 = Option(b.get("little"))
        .getOrElse(bad(s"$kind needs \"little\""))
      val (bigField, slots, slop) = unwrap(big0) match {
        case ("span_near", nb) =>
          val unknown = keysOf(nb)
            .filterNot(Set("clauses", "slop", "in_order"))
          if (unknown.nonEmpty)
            bad(s"unsupported span_near key" +
              s"${if (unknown.size == 1) "" else "s"} here: " +
              unknown.mkString(", "))
          val cs = Option(nb.get("clauses")).filter(_.isArray)
            .filter(_.size > 0)
            .getOrElse(bad("span_near needs a non-empty \"clauses\" " +
              "array"))
          val leaves = (0 until cs.size).map(i => spanLeaf(cs.get(i)))
          val fieldsSeen = leaves.map(_._1).distinct
          if (fieldsSeen.size != 1)
            bad("span_near clauses must target one field " +
              s"(got ${fieldsSeen.mkString(", ")})")
          val sl = Option(nb.get("slop")).map { n =>
            if (!n.isIntegralNumber)
              bad("span_near slop must be an integer")
            n.asInt
          }.getOrElse(0)
          if (sl < 0) bad("span_near slop must be >= 0")
          val inOrder = Option(nb.get("in_order")).exists { n =>
            if (!n.isBoolean) bad("span_near in_order must be boolean")
            n.asBoolean
          }
          if (leaves.size > 1 && !inOrder)
            bad(s"$kind big must be in_order: true (unordered spans " +
              "have no enumerable ends)")
          (fieldsSeen.head, leaves.map(_._2), sl)
        case _ =>
          val (f, m, _) = spanLeaf(big0)
          (f, Seq(m), 0)
      }
      val (lf, lm, _) = spanLeaf(little0)
      if (lf != bigField)
        bad(s"$kind big/little must target one field " +
          s"(got $bigField, $lf)")
      val cnt = Positional.count(Positional.containing(
        slots.map(spanPositions(bigField, _)), slop,
        spanPositions(bigField, lm), within = kind == "span_within"))
      boosted(Clause(cnt > 0, cnt.cast("double")), boost)

    // ── parent/child family (ES join field, relationally: the
    // registered foreign keys — Relations). The OTHER index's query
    // compiles with its own Ctx + score fold (subCompile), is
    // AGGREGATED on the join key (so each auxiliary frame is
    // key-cardinality-bounded and the hit-path join never fans out),
    // and folds into the hit path as one left join
    // (Ctx.registerJoin). Two shuffles — the child-side hash
    // aggregate and the key join — no cartesian anywhere. ──
    case ("has_child", b) =>
      val unknown = keysOf(b).filterNot(Set("type", "query",
        "score_mode", "min_children", "max_children", "boost"))
      if (unknown.nonEmpty)
        bad(s"unsupported has_child key" +
          s"${if (unknown.size == 1) "" else "s"}: " +
          unknown.mkString(", "))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      if (boost < 0) bad("has_child boost must be >= 0")
      val tpe = Option(b.get("type")).map(_.asText)
        .getOrElse(bad("has_child needs \"type\""))
      val (childDf, fk) = ctx.childRelation(tpe)
      val cq = Option(b.get("query"))
        .getOrElse(bad("has_child needs \"query\""))
      val scoreMode = Option(b.get("score_mode")).map(_.asText)
        .getOrElse("none")
      def intKnob(k: String, dflt: Int): Int =
        Option(b.get(k)).map { n =>
          if (!n.isIntegralNumber) bad(s"has_child $k must be an integer")
          n.asInt
        }.getOrElse(dflt)
      val minC = intKnob("min_children", 1)
      val maxC = intKnob("max_children", Int.MaxValue)
      if (minC < 1 || maxC < minC)
        bad("has_child needs 1 <= min_children <= max_children")
      val matched = subCompile(childDf, cq)
      val scoreAgg: Column = scoreMode match {
        case "none" => lit(0.0)
        case "sum"  => sum(col(SubScore))
        case "max"  => max(col(SubScore))
        case "min"  => min(col(SubScore))
        case "avg"  => avg(col(SubScore))
        case other  => bad(s"unsupported has_child score_mode " +
          s"'$other' (none/sum/max/min/avg)")
      }
      val tag = ctx.registerJoin(t =>
        matched.groupBy(col(fk).as(s"${t}_key"))
          .agg(count(lit(1)).as(s"${t}_cnt"),
            scoreAgg.as(s"${t}_score")))
      val cnt = coalesce(col(s"${tag}_cnt"), lit(0L))
      val pred =
        if (maxC == Int.MaxValue) cnt >= minC
        else cnt >= minC && cnt <= maxC
      val score =
        if (scoreMode == "none") lit(1.0)
        else coalesce(col(s"${tag}_score"), lit(0.0))
      boosted(Clause(pred, score), boost)

    case ("has_parent", b) =>
      val unknown = keysOf(b)
        .filterNot(Set("parent_type", "query", "score", "boost"))
      if (unknown.nonEmpty)
        bad(s"unsupported has_parent key" +
          s"${if (unknown.size == 1) "" else "s"}: " +
          unknown.mkString(", "))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      if (boost < 0) bad("has_parent boost must be >= 0")
      val tpe = Option(b.get("parent_type")).map(_.asText)
        .getOrElse(bad("has_parent needs \"parent_type\""))
      val (parentDf, fkSelf) = ctx.parentRelation(tpe)
      val pq = Option(b.get("query"))
        .getOrElse(bad("has_parent needs \"query\""))
      val withScore = Option(b.get("score")).exists { n =>
        if (!n.isBoolean) bad("has_parent score must be boolean")
        n.asBoolean
      }
      val matched = subCompile(parentDf, pq)
      val pid = col(parentDf.columns.head)
      // parent ids are unique by contract; the defensive groupBy
      // keeps a malformed parent table from fanning out child rows
      val tag = ctx.registerJoin(t =>
        matched.groupBy(pid.as(s"${t}_key"))
          .agg(count(lit(1)).as(s"${t}_cnt"),
            max(col(SubScore)).as(s"${t}_score")),
        key = Some(col(fkSelf)))
      val score =
        if (withScore) coalesce(col(s"${tag}_score"), lit(0.0))
        else lit(1.0)
      boosted(Clause(coalesce(col(s"${tag}_cnt"), lit(0L)) >= 1,
        score), boost)

    case ("parent_id", b) =>
      // ES parent_id: children of ONE parent. DEVIATION, documented:
      // `type` names the PARENT relation here (ES names the child
      // type, which this engine's relation registry does not know) —
      // validated against the registered parents, so a typo still
      // fails by name.
      val unknown = keysOf(b).filterNot(Set("type", "id", "boost"))
      if (unknown.nonEmpty)
        bad(s"unsupported parent_id key" +
          s"${if (unknown.size == 1) "" else "s"}: " +
          unknown.mkString(", "))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      if (boost < 0) bad("parent_id boost must be >= 0")
      val tpe = Option(b.get("type")).map(_.asText)
        .getOrElse(bad("parent_id needs \"type\""))
      val (_, fkSelf) = ctx.parentRelation(tpe)
      val idV = Option(b.get("id")).map(_.asText)
        .getOrElse(bad("parent_id needs \"id\""))
      boosted(Clause(col(fkSelf).cast("string") === lit(idV),
        lit(1.0)), boost)

    case ("intervals", b) =>
      // ES intervals query: `match` rules (ordered/max_gaps proximity
      // over the analyzed tokens) composed by `any_of`. The ordered
      // matcher is the span/phrase scan (gap sum <= max_gaps);
      // unlimited-gap unordered is plain conjunction; bounded-gap
      // unordered supports term pairs. `all_of` (nested interval
      // algebra) rejects by name.
      val (f, spec) = unwrap(b)
      // Jackson's asInt/asBoolean coerce garbage to 0/false — a
      // silently dropped knob; validate node types first
      def gapKnob(body: JsonNode): Int =
        Option(body.get("max_gaps")).map { n =>
          if (!n.isIntegralNumber) bad("max_gaps must be an integer")
          n.asInt
        }.getOrElse(-1) // ES default: unlimited
      def orderedKnob(body: JsonNode): Boolean =
        Option(body.get("ordered")).exists { n =>
          if (!n.isBoolean) bad("ordered must be boolean")
          n.asBoolean
        }
      // a rule over single-token slots: ordered = the ordered near
      // walk (gap sum <= max_gaps); unlimited-gap unordered = every
      // slot present, frequency = the head slot's occurrences
      // (documented convention); bounded-gap unordered = a pair
      def slotsCount(slots: Seq[Column => Column], counts: Seq[Column],
                     maxGaps: Int, ordered: Boolean,
                     tooMany: => Nothing): Column =
        if (slots.size == 1) counts.head
        else if (ordered)
          Positional.count(Positional.near(slots.map(spanPositions(f, _)),
            if (maxGaps < 0) Int.MaxValue else maxGaps))
        else if (maxGaps < 0)
          when(counts.map(_ > 0).reduce(_ && _), counts.head)
            .otherwise(lit(0))
        else if (slots.size == 2)
          Positional.count(Positional.pair(spanPositions(f, slots(0)),
            spanPositions(f, slots(1)), maxGaps))
        else tooMany
      def ruleCount(rule: JsonNode): Column = {
        val (kind, body) = unwrap(rule)
        kind match {
          case "match" =>
            val unknown = keysOf(body)
              .filterNot(Set("query", "max_gaps", "ordered"))
            if (unknown.nonEmpty)
              bad(s"unsupported intervals match key" +
                s"${if (unknown.size == 1) "" else "s"}: " +
                unknown.mkString(", "))
            val text = Option(body.get("query")).map(_.asText)
              .getOrElse(bad("intervals match needs \"query\""))
            val terms = graft.functions.TextFunctions.analyzeText(text).toSeq
            if (terms.isEmpty) bad("empty intervals match query")
            val maxGaps = gapKnob(body)
            val ordered = orderedKnob(body)
            slotsCount(terms.map(t => (x: Column) => x === lit(t)),
              terms.map(t => Search.substrCount(Search.tokenNorm(col(f)),
                s" $t ")), maxGaps, ordered,
              bad("unordered intervals match with max_gaps " +
                "supports two terms (ordered composes any number)"))
          case "any_of" =>
            val unknown = keysOf(body).filterNot(Set("intervals"))
            if (unknown.nonEmpty)
              bad(s"unsupported intervals any_of key" +
                s"${if (unknown.size == 1) "" else "s"}: " +
                unknown.mkString(", "))
            val ivs = Option(body.get("intervals")).filter(_.isArray)
              .filter(_.size > 0)
              .getOrElse(bad("any_of needs a non-empty \"intervals\" " +
                "array"))
            (0 until ivs.size).map(i => ruleCount(ivs.get(i)))
              .reduce(_ + _)
          case "all_of" =>
            // all_of over SINGLE-TOKEN sub-intervals (`match` of one
            // term, or `any_of` of such matches) reduces to the span
            // slot matcher — the composable subset real all_of bodies
            // use (ordered sequences with per-position alternatives).
            // Wider sub-intervals (multi-token matches, nested
            // all_of) reject by name.
            val unknown = keysOf(body)
              .filterNot(Set("intervals", "max_gaps", "ordered"))
            if (unknown.nonEmpty)
              bad(s"unsupported intervals all_of key" +
                s"${if (unknown.size == 1) "" else "s"}: " +
                unknown.mkString(", "))
            val ivs = Option(body.get("intervals")).filter(_.isArray)
              .filter(_.size > 0)
              .getOrElse(bad("all_of needs a non-empty " +
                "\"intervals\" array"))
            def singleToken(mb: JsonNode): String = {
              val u2 = keysOf(mb).filterNot(Set("query"))
              if (u2.nonEmpty)
                bad("all_of sub-match supports only \"query\": " +
                  u2.mkString(", "))
              val ts = graft.functions.TextFunctions.analyzeText(
                Option(mb.get("query")).map(_.asText)
                  .getOrElse(bad("intervals match needs \"query\"")))
              if (ts.size != 1)
                bad("all_of sub-intervals must be single tokens " +
                  "(use one ordered match rule for a sequence)")
              ts.head
            }
            def slotOf(nd: JsonNode): Column => Column =
              unwrap(nd) match {
                case ("match", mb) =>
                  val t = singleToken(mb)
                  (x: Column) => x === lit(t)
                case ("any_of", ab) =>
                  val u2 = keysOf(ab).filterNot(Set("intervals"))
                  if (u2.nonEmpty)
                    bad("unsupported intervals any_of key" +
                      s"${if (u2.size == 1) "" else "s"}: " +
                      u2.mkString(", "))
                  val sub0 = Option(ab.get("intervals"))
                    .filter(_.isArray).filter(_.size > 0)
                    .getOrElse(bad("any_of needs a non-empty " +
                      "\"intervals\" array"))
                  val set = (0 until sub0.size).map { j =>
                    unwrap(sub0.get(j)) match {
                      case ("match", mb) => singleToken(mb)
                      case (other, _) => bad("all_of any_of " +
                        s"sub-intervals must be matches (got '$other')")
                    }
                  }
                  (x: Column) => x.isInCollection(set)
                case (other, _) =>
                  bad(s"unsupported all_of sub-interval '$other'")
              }
            val slots = (0 until ivs.size).map(i => slotOf(ivs.get(i)))
            val maxGaps = gapKnob(body)
            val ordered = orderedKnob(body)
            slotsCount(slots, slots.map(spanLeafCount(f, _)), maxGaps,
              ordered, bad("unordered all_of with max_gaps supports two " +
                "sub-intervals (ordered composes any number)"))
          case other => bad(s"unsupported intervals rule '$other'")
        }
      }
      val cnt = ruleCount(spec)
      Clause(cnt > 0, cnt.cast("double"))

    case ("script_score", b) =>
      // ES script_score: re-score the inner query's matches with a
      // script. The Painless ARITHMETIC subset compiles to one
      // codegen'd Column (serving/BucketScript.scala) — `_score`, any
      // `doc['field'].value`, `params.*` from script.params, numeric
      // operators; method calls (Math.*, saturation) reject by name
      // at parse time. `min_score` filters on the NEW score, so the
      // inner query keeps real scoring even in filter context (the
      // function_score min_score escape). ES rejects negative script
      // scores at runtime; a plan-compiled column cannot, so negative
      // values pass through — documented deviation, fail-visible in
      // the score itself.
      val ssBoost = clauseBoost("script_score", b,
        Set("query", "script", "min_score"))
      val minScoreOpt = Option(b.get("min_score"))
        .map(numKnob(_, "min_score"))
      val inner = Option(b.get("query")).map(qn =>
          if (minScoreOpt.isDefined) ctx.scoringNeeded { clause(qn, ctx) }
          else clause(qn, ctx))
        .getOrElse(bad("script_score needs \"query\""))
      val score = compileScoreScript(b.get("script"),
        Map("_score" -> inner.score.cast("double")))
      val pred = minScoreOpt match {
        case Some(ms) => inner.pred && score >= ms
        case None     => inner.pred
      }
      boosted(Clause(pred, score), ssBoost)

    case ("script", b) =>
      // ES script query: a boolean doc-values script as a FILTER —
      // constant-scored 1.0 like the other filter-context clauses
      // (range/exists), same Painless subset as script_score (no
      // `_score` — a filter has none).
      val scBoost = clauseBoost("script", b, Set("script"))
      val pred = compileScoreScript(b.get("script"), Map.empty)
        .cast("boolean")
      boosted(Clause(coalesce(pred, lit(false)), lit(1.0)), scBoost)

    // ── geo family. A geo_point field here is a STRUCT column with
    // `lat`/`lon` DOUBLE sub-fields (the relational projection of
    // ES's geo_point; reference mappings would land here as
    // {"type": "geo_point"} → struct<lat,lon>). Filter context like
    // ES: constant score, no distance frame. ──
    case ("geo_distance", b) =>
      // {"geo_distance": {"distance": "200km", "<field>": {"lat":..,
      //  "lon":..}}} — haversine radius filter; "distance" grammar
      // accepts m/km/mi suffixes (ES's common units; others reject)
      // validation_method CHANGES the match set (coercion rules) —
      // absent from the allowed set, so it rejects by name below
      val keys = keysOf(b).filterNot(Set("distance", "boost",
        "distance_type", "_name"))
      if (keys.size != 1)
        bad("geo_distance needs exactly one point field beside " +
          "\"distance\"")
      Option(b.get("distance_type")).map(_.asText).foreach {
        case "arc"  => () // haversine IS the arc distance
        case other  => bad(s"unsupported distance_type '$other' " +
          "(only the default 'arc')")
      }
      val f = keys.head
      val (qLat, qLon) = geoPoint(b.get(f), "geo_distance")
      val meters = Option(b.get("distance")).map(_.asText)
        .map(geoDistanceMeters)
        .getOrElse(bad("geo_distance needs \"distance\""))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      val pred = haversineMeters(col(s"$f.lat"), col(s"$f.lon"),
        qLat, qLon) <= meters
      boosted(Clause(coalesce(pred, lit(false)), lit(1.0)), boost)

    case ("geo_bounding_box", b) =>
      // {"geo_bounding_box": {"<field>": {"top_left": {...},
      //  "bottom_right": {...}}}} — lat between the corners, lon
      // range with DATE-LINE WRAP (left > right → the box spans 180°:
      // lon >= left OR lon <= right), ES's semantics
      val keys = keysOf(b).filterNot(Set("boost", "_name"))
      if (keys.size != 1)
        bad("geo_bounding_box needs exactly one point field")
      val f = keys.head
      val box = b.get(f)
      // alternative corner specs (top_right/bottom_left, wkt) and
      // typos must not be silently dropped
      val unknownCorners = keysOf(box)
        .filterNot(Set("top_left", "bottom_right"))
      if (unknownCorners.nonEmpty)
        bad(s"unsupported geo_bounding_box corner key" +
          s"${if (unknownCorners.size == 1) "" else "s"}: " +
          unknownCorners.mkString(", ") +
          " (top_left + bottom_right compose)")
      val (tlLat, tlLon) = geoPoint(Option(box.get("top_left"))
        .getOrElse(bad("geo_bounding_box needs \"top_left\"")),
        "geo_bounding_box")
      val (brLat, brLon) = geoPoint(Option(box.get("bottom_right"))
        .getOrElse(bad("geo_bounding_box needs \"bottom_right\"")),
        "geo_bounding_box")
      if (brLat > tlLat)
        bad("geo_bounding_box: top_left.lat must be >= " +
          "bottom_right.lat")
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      val latOk = col(s"$f.lat") <= tlLat && col(s"$f.lat") >= brLat
      val lonOk =
        if (tlLon <= brLon)
          col(s"$f.lon") >= tlLon && col(s"$f.lon") <= brLon
        else col(s"$f.lon") >= tlLon || col(s"$f.lon") <= brLon
      boosted(Clause(coalesce(latOk && lonOk, lit(false)), lit(1.0)),
        boost)

    case ("geo_shape", b) =>
      // ES geo_shape over a geo_point column with an INLINE GeoJSON
      // shape: envelope, polygon (with holes), multipolygon.
      // Relations for point docs: intersects == within (a point
      // intersects a shape iff it lies within it), disjoint = the
      // complement over docs that carry a point; `contains` can never
      // match a point field against an area shape — rejected by name,
      // like the pre-indexed `indexed_shape` form. Point-in-polygon
      // is EVEN-ODD RAY CASTING unrolled over the literal vertex
      // list: one crossing term per edge, pure codegen'd column
      // arithmetic riding the scan — no UDF, no geometry library.
      // Polygons crossing the date line reject (ES's own heuristic:
      // an edge spanning > 180° of longitude); the envelope handles
      // the wrap like geo_bounding_box. Filter context like every
      // term-level geo query: constant 1.0 in query position.
      val gsKeys = keysOf(b).filterNot(
        Set("boost", "ignore_unmapped", "_name"))
      if (gsKeys.size != 1) bad("geo_shape needs exactly one point field")
      val gsF = gsKeys.head
      val gsSpec = b.get(gsF)
      val gsUnknown = keysOf(gsSpec).filterNot(Set("shape", "relation"))
      if (gsUnknown.nonEmpty)
        bad(s"unsupported geo_shape key" +
          s"${if (gsUnknown.size == 1) "" else "s"}: " +
          gsUnknown.mkString(", ") +
          " (inline \"shape\" + \"relation\" compose; indexed_shape " +
          "is not supported)")
      val gsShape = Option(gsSpec.get("shape"))
        .getOrElse(bad("geo_shape needs an inline \"shape\""))
      val gsLat = col(s"$gsF.lat"); val gsLon = col(s"$gsF.lon")
      val gsInside = shapeContains(gsShape, gsLat, gsLon)
      val gsHas = gsLat.isNotNull && gsLon.isNotNull
      val gsPred = Option(gsSpec.get("relation")).map(_.asText)
        .getOrElse("intersects") match {
        case "intersects" | "within" => gsHas && gsInside
        case "disjoint"              => gsHas && !gsInside
        case "contains" => bad("geo_shape relation 'contains' never " +
          "matches a point field (a point contains only itself)")
        case other => bad(s"unsupported geo_shape relation '$other'")
      }
      val gsBoost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      boosted(Clause(coalesce(gsPred, lit(false)), lit(1.0)), gsBoost)

    case ("dis_max", b) =>
      // ES dis_max: matches when ANY subquery matches; scores the BEST
      // subquery plus tie_breaker times the other matching subqueries
      // (max + tie * (sum - max)).
      val dmBoost = clauseBoost("dis_max", b,
        Set("queries", "tie_breaker"))
      val qs = Option(b.get("queries")).filter(_.isArray)
        .getOrElse(bad("dis_max needs a \"queries\" array"))
      val subs = (0 until qs.size).map(i => clause(qs.get(i), ctx))
      if (subs.isEmpty) bad("dis_max needs at least one query")
      val tie = Option(b.get("tie_breaker")).map(_.asDouble).getOrElse(0.0)
      if (tie < 0.0 || tie > 1.0) bad("tie_breaker must be in [0, 1]")
      val pred = subs.map(c => coalesce(c.pred, lit(false))).reduce(_ || _)
      val matchScores = subs.map(c =>
        when(coalesce(c.pred, lit(false)), c.score.cast("double"))
          .otherwise(lit(0.0)))
      val score =
        if (subs.size == 1) matchScores.head
        else {
          val best = greatest(matchScores: _*)
          val total = matchScores.reduce(_ + _)
          best + lit(tie) * (total - best)
        }
      boosted(Clause(pred, score), dmBoost)

    case ("boosting", b) =>
      // ES boosting: the match set is the positive query's; a doc also
      // matching the negative query keeps its relevance DEMOTED by
      // negative_boost (multiplicative) instead of being excluded.
      val bBoost = clauseBoost("boosting", b,
        Set("positive", "negative", "negative_boost"))
      val pos = Option(b.get("positive"))
        .getOrElse(bad("boosting needs \"positive\""))
      val neg = Option(b.get("negative"))
        .getOrElse(bad("boosting needs \"negative\""))
      val nb = Option(b.get("negative_boost")).map(_.asDouble)
        .getOrElse(bad("boosting needs \"negative_boost\""))
      if (nb < 0.0 || nb > 1.0) bad("negative_boost must be in [0, 1]")
      val p = clause(pos, ctx)
      // the negative side only GATES the demotion — filter context
      val n = ctx.inFilter { clause(neg, ctx) }
      boosted(Clause(p.pred,
        when(coalesce(n.pred, lit(false)),
          p.score.cast("double") * nb).otherwise(p.score.cast("double"))),
        bBoost)

    case ("match", b) =>
      val (f, spec) = unwrap(b)
      val boost = if (spec.isObject)
        clauseBoost("match", spec, Set("query", "operator",
          "fuzziness", "prefix_length", "max_expansions",
          "fuzzy_transpositions", "minimum_should_match", "analyzer",
          "zero_terms_query"))
      else 1.0
      val (text, operator, fuzziness) =
        if (spec.isObject)
          (Option(spec.get("query")).map(_.asText)
             .getOrElse(bad("match needs \"query\"")),
           Option(spec.get("operator")).map(_.asText).getOrElse("or"),
           Option(spec.get("fuzziness")).map(_.asText))
        else (spec.asText, "or", None)
      val msm = if (spec.isObject)
        Option(spec.get("minimum_should_match")).map(msmSpec)
      else None
      val qa = if (spec.isObject) matchAnalyzer(spec) else "standard"
      val zta = spec.isObject && zeroTermsAll(spec)
      boosted(matchClause(ctx, text, Seq(f -> 1.0), operator, msm,
        bestFields = false, fuzziness,
        fuzzyKnobs(if (spec.isObject) Some(spec) else None),
        analyzer = qa, zeroTermsAll = zta), boost)

    case ("multi_match", b) =>
      val mmBoost = clauseBoost("multi_match", b, Set("query",
        "fields", "type", "operator", "minimum_should_match",
        "fuzziness", "prefix_length", "max_expansions",
        "fuzzy_transpositions", "analyzer", "slop", "tie_breaker"))
      val mmAnalyzer = matchAnalyzer(b)
      val text = Option(b.get("query")).map(_.asText)
        .getOrElse(bad("multi_match needs \"query\""))
      val fieldsNode = Option(b.get("fields")).filter(_.isArray)
        .getOrElse(bad("multi_match needs \"fields\""))
      val fields = (0 until fieldsNode.size).map { i =>
        fieldsNode.get(i).asText.split("\\^", 2) match {
          case Array(n, boost) => n -> boost.toDouble
          case Array(n)        => n -> 1.0
        }
      }
      val tpe = Option(b.get("type")).map(_.asText).getOrElse("most_fields")
      // tie_breaker is the cross_fields dis-max knob — on any other
      // type silently ignoring it would answer a different question
      if (b.hasNonNull("tie_breaker") && tpe != "cross_fields")
        bad("tie_breaker applies to type=cross_fields only here")
      if (tpe == "cross_fields") {
        // ES cross_fields: TERM-centric — a term may live in any
        // field ("first name in one column, last name in another");
        // operator/minimum_should_match gate per TERM across fields,
        // and each term scores its best field under ONE blended idf
        // ([[Ctx.crossFieldsScore]]). A query-time english analyzer
        // rewrites the terms like the rest of the match family.
        for (k <- Seq("fuzziness", "prefix_length", "max_expansions",
            "fuzzy_transpositions", "slop") if b.hasNonNull(k))
          bad(s"multi_match type=cross_fields does not support $k")
        if (fields.isEmpty)
          bad("multi_match needs a non-empty \"fields\"")
        val tieBreaker = Option(b.get("tie_breaker"))
          .map(_.asDouble).getOrElse(0.0)
        if (tieBreaker < 0.0 || tieBreaker > 1.0)
          bad("tie_breaker must be in [0, 1]")
        val operator = Option(b.get("operator")).map(_.asText)
          .getOrElse("or")
        if (operator != "and" && operator != "or")
          bad(s"unsupported operator '$operator'")
        val terms = queryTerms(text, mmAnalyzer)
        if (terms.isEmpty && mmAnalyzer != "standard")
          Clause(lit(false), lit(0.0))
        else {
          if (terms.isEmpty) bad("empty multi_match query")
          // per-TERM presence in ANY field; operator/msm count terms
          val present = terms.map(t => fields.map { case (f, _) =>
            Search.substrCount(Search.tokenNorm(col(f)), s" $t ") > 0
          }.reduce(_ || _))
          val matched = present.map(p =>
            when(p, 1).otherwise(0)).reduce(_ + _)
          val need = Option(b.get("minimum_should_match"))
            .map(msmSpec) match {
            case Some(spec) =>
              MinShouldMatch.resolve(spec, terms.size).getOrElse(
                bad(s"malformed minimum_should_match '$spec'"))
            case None => if (operator == "and") terms.size else 1
          }
          val pred =
            matched >= math.max(1, math.min(need, terms.size))
          boosted(Clause(pred,
            ctx.crossFieldsScore(terms, fields, tieBreaker)), mmBoost)
        }
      } else if (tpe == "phrase") {
        // ES multi_match type=phrase: a match_phrase per field,
        // best-field combine (Lucene dis_max, tie_breaker 0) — hit =
        // the phrase in ANY field, score = the best field's
        // phrase-BM25 (× that field's ^boost). The boolean knobs
        // reject by name rather than silently not gating the phrase.
        for (k <- Seq("operator", "minimum_should_match", "fuzziness",
            "prefix_length", "max_expansions", "fuzzy_transpositions")
            if b.hasNonNull(k))
          bad(s"multi_match type=phrase does not support $k")
        val slop = intOpt(b, "slop").getOrElse(0)
        if (fields.isEmpty)
          bad("multi_match needs a non-empty \"fields\"")
        val legs = fields.map { case (f, fb) =>
          phraseLeg(ctx, f, text, slop, mmAnalyzer)
            .map { case (cnt, score) =>
              (cnt, if (fb == 1.0) score else score * fb) }
        }
        // zero-terms english phrase: matches nothing (the match
        // family's zero_terms_query default) — legs are all-or-none
        // (one shared analysis), so checking the head suffices
        if (legs.exists(_.isEmpty)) Clause(lit(false), lit(0.0))
        else {
          val (cnts, scores) = legs.flatten.unzip
          val pred = cnts.map(_ > 0).reduce(_ || _)
          val score =
            if (scores.size == 1) scores.head else greatest(scores: _*)
          boosted(Clause(pred, score), mmBoost)
        }
      } else if (tpe == "phrase_prefix") {
        // ES multi_match type=phrase_prefix: a match_phrase_prefix
        // per field, best-field combine — count-scored like the
        // single-field form; per-field capped expansion under
        // max_expansions. A stemmed PREFIX is not a meaningful probe
        // — english rejects by name on the prefix types.
        for (k <- Seq("operator", "minimum_should_match", "fuzziness",
            "prefix_length", "fuzzy_transpositions")
            if b.hasNonNull(k))
          bad(s"multi_match type=phrase_prefix does not support $k")
        if (mmAnalyzer != "standard")
          bad(s"the $mmAnalyzer analyzer is not supported on prefix " +
            "types (the expansion dictionary is standard-analyzed)")
        if (fields.isEmpty)
          bad("multi_match needs a non-empty \"fields\"")
        val slop = intOpt(b, "slop").getOrElse(0)
        if (slop < 0) bad("slop must be >= 0")
        val maxExp = intOpt(b, "max_expansions")
        maxExp.foreach(n =>
          if (n <= 0 || n > Search.MaxExpansionsCeiling)
            bad(s"max_expansions must be 1..${Search.MaxExpansionsCeiling}"))
        val terms = graft.functions.TextFunctions.analyzeText(text).toSeq
        if (terms.isEmpty) bad("empty multi_match query")
        val legs = fields.map { case (f, fb) =>
          val expansion = maxExp.map(n =>
            ctx.prefixExpansion(Seq(f), terms.last, n))
          val cnt = prefixPhraseCount(f, terms, slop, expansion)
          (cnt, if (fb == 1.0) cnt.cast("double")
                else cnt.cast("double") * fb)
        }
        val pred = legs.map(_._1 > 0).reduce(_ || _)
        val score = if (legs.size == 1) legs.head._2
          else greatest(legs.map(_._2): _*)
        boosted(Clause(pred, score), mmBoost)
      } else if (tpe == "bool_prefix") {
        // ES multi_match type=bool_prefix: a match_bool_prefix per
        // field (leading terms token-exact, last term a prefix;
        // operator gates per field) with the per-field scores
        // COMBINED by sum — ES's documented "combines the _score
        // from each field", unlike the best-field phrase types.
        for (k <- Seq("minimum_should_match", "fuzziness",
            "prefix_length", "max_expansions", "fuzzy_transpositions",
            "slop") if b.hasNonNull(k))
          bad(s"multi_match type=bool_prefix does not support $k")
        if (mmAnalyzer != "standard")
          bad(s"the $mmAnalyzer analyzer is not supported on prefix " +
            "types (the expansion dictionary is standard-analyzed)")
        if (fields.isEmpty)
          bad("multi_match needs a non-empty \"fields\"")
        val operator = Option(b.get("operator")).map(_.asText)
          .getOrElse("or")
        if (operator != "and" && operator != "or")
          bad(s"unsupported operator '$operator'")
        val terms = graft.functions.TextFunctions.analyzeText(text).toSeq
        if (terms.isEmpty) bad("empty multi_match query")
        val legs = fields.map { case (f, fb) =>
          val counts: Seq[Column] =
            terms.init.map(t =>
              Search.substrCount(Search.tokenNorm(col(f)), s" $t ")) :+
            prefixPhraseCount(f, Seq(terms.last), 0, None)
          val preds = counts.map(_ > 0)
          val pred = if (operator == "and") preds.reduce(_ && _)
            else preds.reduce(_ || _)
          // a field that fails ITS OWN gate contributes nothing (an
          // ES bool that doesn't match scores 0 in the combine) —
          // under operator=or the gate equals counts > 0, so the
          // conditional only bites on partially-matched `and` fields
          val raw = when(pred, counts.reduce(_ + _).cast("double"))
            .otherwise(lit(0.0))
          (pred, if (fb == 1.0) raw else raw * fb)
        }
        val pred = legs.map(_._1).reduce(_ || _)
        // ... and the per-field scores SUM across fields (ES's
        // documented bool_prefix combine)
        val score = legs.map(_._2).reduce(_ + _)
        boosted(Clause(pred, score), mmBoost)
      } else {
        if (tpe != "most_fields" && tpe != "best_fields")
          bad(s"unsupported multi_match type '$tpe'")
        if (b.hasNonNull("slop"))
          bad(s"multi_match slop applies to type=phrase only")
        val operator = Option(b.get("operator")).map(_.asText)
          .getOrElse("or")
        val msm = Option(b.get("minimum_should_match")).map(msmSpec)
        boosted(matchClause(ctx, text, fields, operator, msm,
          tpe == "best_fields",
          Option(b.get("fuzziness")).map(_.asText), fuzzyKnobs(Some(b)),
          analyzer = mmAnalyzer), mmBoost)
      }

    case ("combined_fields", b) =>
      // ES combined_fields (7.13+): term-centric BM25 treating the
      // listed fields as ONE combined field — tf and dl sum across
      // fields, df counts docs with the term in ANY field, one avgdl.
      // With no per-field boosts (the only supported form — boosted
      // combined tf has no concat equivalent; rejected by name), the
      // combined field IS the space-concatenation of the fields, so
      // the score rides the exact match-family BM25 machinery over a
      // derived column. operator/minimum_should_match gate the match
      // set on combined token presence.
      val cfBoost = clauseBoost("combined_fields", b,
        Set("query", "fields", "operator", "minimum_should_match"))
      val text = Option(b.get("query")).map(_.asText)
        .getOrElse(bad("combined_fields needs \"query\""))
      val fieldsNode = Option(b.get("fields")).filter(_.isArray)
        .filter(_.size > 0)
        .getOrElse(bad("combined_fields needs a non-empty \"fields\""))
      val cfFields = (0 until fieldsNode.size).map(fieldsNode.get(_).asText)
      cfFields.foreach { f =>
        if (f.contains("^"))
          bad("per-field boosts are not supported in combined_fields")
        if (!ctx.columns.contains(f)) missingField(f)
      }
      val operator = Option(b.get("operator")).map(_.asText).getOrElse("or")
      if (operator != "and" && operator != "or")
        bad(s"unsupported operator '$operator'")
      val terms = graft.functions.TextFunctions.analyzeText(text)
        .distinct.toSeq
      if (terms.isEmpty) bad("empty combined_fields query")
      val combined = concat_ws(" ",
        cfFields.map(f => coalesce(col(f).cast("string"), lit(""))): _*)
      val matched = terms.map(t =>
        when(Search.substrCount(Search.tokenNorm(combined),
          s" $t ") > 0, 1).otherwise(0)).reduce(_ + _)
      val required =
        if (operator == "and") terms.size
        else Option(b.get("minimum_should_match")).map { m =>
          val spec = msmSpec(m)
          val r = MinShouldMatch.resolve(spec, terms.size).getOrElse(
            bad(s"malformed minimum_should_match '$spec'"))
          math.max(1, math.min(terms.size, r))
        }.getOrElse(1)
      boosted(Clause(matched >= required,
        ctx.bm25Combined(text, cfFields)), cfBoost)

    case ("simple_query_string", b) =>
      // ES's fault-tolerant end-user query language, parsed by
      // [[SimpleQueryString]] (grammar + leniency contract documented
      // there). Every atom scores by token-exact / family-specific
      // OCCURRENCE counts — the engine's documented count families
      // (phrase, prefix, fuzzy); BM25 relevance lives on
      // match/multi_match and /search rank=bm25. Matching clauses'
      // scores sum, ES's combination rule.
      val sqsBoost = clauseBoost("simple_query_string", b,
        Set("query", "fields", "default_operator", "analyzer"))
      // the analyzer knob (round 17): ES accepts `analyzer` here
      // too — it analyzes the lexer's TERM atoms (phrase/prefix/
      // fuzzy atoms keep their own machinery, which is standard-
      // chain-bound in this engine: combined reject by name below)
      val sqsAnalyzer = matchAnalyzer(b)
      val qstr = Option(b.get("query")).map(_.asText)
        .getOrElse(bad("simple_query_string needs \"query\""))
      val fields: Seq[(String, Double)] =
        Option(b.get("fields")).filter(_.isArray) match {
          case None => ctx.stringFields.map(_ -> 1.0)
          case Some(fn) =>
            if (fn.size == 0) bad("fields must be non-empty")
            (0 until fn.size).map { i =>
              fn.get(i).asText.split("\\^", 2) match {
                case Array(n, boost) => n -> boost.toDouble
                case Array(n)        => n -> 1.0
              }
            }
        }
      val defaultAnd = Option(b.get("default_operator"))
        .map(_.asText.toLowerCase).getOrElse("or") match {
        case "and" => true
        case "or"  => false
        case other => bad(s"unsupported default_operator '$other'")
      }
      val root = SimpleQueryString.parse(qstr, defaultAnd)
        .getOrElse(bad("simple_query_string has no usable terms"))
      def overFields(per: String => Column): Column =
        fields.map { case (f, boost) =>
          val c = per(f)
          if (boost == 1.0) c else c * boost
        }.reduce(_ + _)
      def compile(n: SimpleQueryString.Node): Clause = n match {
        case SimpleQueryString.Term(t) =>
          // the atom is ANALYZED like ES does (the lexer only split on
          // syntax): several analyzed tokens OR together, score = the
          // summed token counts; an atom analyzing to nothing (pure
          // punctuation, or all-stopword under a removing chain)
          // never matches. A non-standard analyzer produces terms
          // that search as literal standard tokens (the match
          // family's contract).
          val ts =
            if (sqsAnalyzer == "standard")
              graft.functions.TextFunctions.analyzeText(t)
            else queryTerms(t, sqsAnalyzer)
          if (ts.isEmpty) Clause(lit(false), lit(0.0))
          else {
            val cnt = ts.map(tok => overFields(f =>
              Search.substrCount(Search.tokenNorm(col(f)), s" $tok ")))
              .reduce(_ + _)
            Clause(cnt > 0, cnt.cast("double"))
          }
        case SimpleQueryString.Prefix(p) =>
          if (sqsAnalyzer != "standard")
            bad("analyzer on simple_query_string applies to term " +
              "atoms only — prefix atoms expand over the standard " +
              "chain (drop the * or the analyzer)")
          val cnt = overFields(f =>
            prefixPhraseCount(f, Seq(p), 0, None))
          Clause(cnt > 0, cnt.cast("double"))
        case SimpleQueryString.Fuzzy(t, e) =>
          if (sqsAnalyzer != "standard")
            bad("analyzer on simple_query_string applies to term " +
              "atoms only — fuzzy atoms expand over the standard " +
              "chain (drop the ~N or the analyzer)")
          val cnt = overFields(f => size(filter(
            graft.functions.TextFunctions.analyzerTokens(col(f)),
            x => Search.editDistance(x, t, true) <= e)))
          Clause(cnt > 0, cnt.cast("double"))
        case SimpleQueryString.Phrase(terms, slop) =>
          if (sqsAnalyzer != "standard")
            bad("analyzer on simple_query_string applies to term " +
              "atoms only — quoted phrases ride the standard chain " +
              "(use match_phrase for analyzer-aware phrases)")
          val cnt =
            if (slop == 0) overFields(f => Search.substrCount(
              Search.tokenNorm(col(f)), terms.mkString(" ", "  ", " ")))
            else overFields(f =>
              Positional.termPhrase(col(f), terms.zipWithIndex, slop))
          Clause(cnt > 0, cnt.cast("double"))
        case SimpleQueryString.And(xs) =>
          val cs = xs.map(compile)
          Clause(cs.map(c => coalesce(c.pred, lit(false))).reduce(_ && _),
            cs.map(_.score).reduce(_ + _))
        case SimpleQueryString.Or(xs) =>
          val cs = xs.map(compile)
          Clause(cs.map(c => coalesce(c.pred, lit(false))).reduce(_ || _),
            cs.map(c => when(coalesce(c.pred, lit(false)), c.score)
              .otherwise(lit(0.0))).reduce(_ + _))
        case SimpleQueryString.Not(x) =>
          val c = compile(x)
          Clause(!coalesce(c.pred, lit(false)), lit(0.0))
      }
      boosted(compile(root), sqsBoost)

    case ("rank_feature", b) =>
      // ES rank_feature: relevance from a positive numeric feature
      // column through a bounded monotone function —
      // saturation x/(x+pivot) (pivot REQUIRED: ES's default derives
      // it from index statistics, a moving target — fail loud
      // instead), log ln(scaling_factor + x), sigmoid
      // x^e/(x^e + pivot^e), linear. Matches where the feature is
      // non-null; one codegen'd projection.
      clauseBoost("rank_feature", b,
        Set("field", "saturation", "log", "sigmoid", "linear")): Unit
      val f = Option(b.get("field")).map(_.asText)
        .getOrElse(bad("rank_feature needs \"field\""))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      val x = col(f).cast("double")
      val fns = Seq("saturation", "log", "sigmoid", "linear")
        .filter(b.hasNonNull)
      if (fns.size > 1)
        bad(s"rank_feature takes ONE function, got ${fns.mkString(", ")}")
      val fn = fns.headOption.getOrElse("saturation") match {
        case "saturation" =>
          val p = Option(b.get("saturation"))
            .flatMap(s => Option(s.get("pivot"))).map(_.asDouble)
            .getOrElse(bad("rank_feature saturation needs an explicit " +
              "\"pivot\" (the index-statistics default is not " +
              "supported)"))
          if (p <= 0) bad("pivot must be positive")
          x / (x + p)
        case "log" =>
          val sf0 = Option(b.get("log"))
            .flatMap(s => Option(s.get("scaling_factor")))
            .map(_.asDouble)
            .getOrElse(bad("rank_feature log needs \"scaling_factor\""))
          log(x + sf0)
        case "sigmoid" =>
          val s = b.get("sigmoid")
          val p = Option(s).flatMap(n => Option(n.get("pivot")))
            .map(_.asDouble)
            .getOrElse(bad("rank_feature sigmoid needs \"pivot\""))
          val e = Option(s).flatMap(n => Option(n.get("exponent")))
            .map(_.asDouble)
            .getOrElse(bad("rank_feature sigmoid needs \"exponent\""))
          pow(x, e) / (pow(x, e) + math.pow(p, e))
        case "linear" => x
      }
      Clause(col(f).isNotNull, fn * boost)

    case ("distance_feature", b) =>
      // ES distance_feature: boost·pivot/(pivot + |value − origin|) —
      // recency/proximity ranking. Numeric fields take numeric
      // origin/pivot; timestamp fields take an ISO origin and a
      // duration pivot ("7d"). Matches where the field is non-null.
      clauseBoost("distance_feature", b,
        Set("field", "origin", "pivot")): Unit
      val f = Option(b.get("field")).map(_.asText)
        .getOrElse(bad("distance_feature needs \"field\""))
      val originNode = Option(b.get("origin"))
        .getOrElse(bad("distance_feature needs \"origin\""))
      val pivotNode = Option(b.get("pivot"))
        .getOrElse(bad("distance_feature needs \"pivot\""))
      val boost = Option(b.get("boost")).map(_.asDouble).getOrElse(1.0)
      val (value, origin, pivot): (Column, Column, Double) =
        if (originNode.isNumber && pivotNode.isNumber) {
          val p = pivotNode.asDouble
          if (p <= 0) bad("pivot must be positive")
          (col(f).cast("double"), lit(originNode.asDouble), p)
        } else if (originNode.isTextual && pivotNode.isTextual) {
          val originMs = scala.util.Try(
            java.time.Instant.parse(originNode.asText).toEpochMilli)
            .getOrElse(bad("origin must be an ISO-8601 instant"))
          val pivotMs = fixedIntervalMs(pivotNode.asText)
          (expr(s"unix_millis(cast(`$f` as timestamp))").cast("double"),
            lit(originMs.toDouble), pivotMs.toDouble)
        } else bad("origin/pivot must both be numeric or both be " +
          "date/duration")
      Clause(col(f).isNotNull,
        (lit(pivot) / (lit(pivot) + abs(value - origin))) * boost)

    case ("pinned", b) =>
      // ES pinned: the listed ids rank FIRST in the given order,
      // organic results after. Pinned scores descend from a constant
      // far above any organic score (ES does the same with float
      // maxima; 1e15 keeps integer-exact doubles — 1e18's ulp is 128,
      // which would collapse adjacent pin ranks); a pinned doc
      // outside the organic match set still matches.
      val pinBoost = clauseBoost("pinned", b, Set("ids", "organic"))
      val idsNode = Option(b.get("ids")).filter(_.isArray)
        .filter(_.size > 0)
        .getOrElse(bad("pinned needs a non-empty \"ids\" array"))
      if (idsNode.size > 100) bad("at most 100 pinned ids")
      val organic = Option(b.get("organic"))
        .getOrElse(bad("pinned needs \"organic\""))
      val ids: Seq[Any] = (0 until idsNode.size).map { i =>
        val v = idsNode.get(i)
        if (v.isTextual) v.asText
        else if (v.isIntegralNumber) v.asLong
        else bad(s"unsupported id literal $v")
      }
      val org = clause(organic, ctx)
      val pinnedPred = col(IdColMarker).isInCollection(ids)
      val pinScore = ids.zipWithIndex.foldLeft(
        when(lit(false), lit(0.0))) { case (acc, (id, i)) =>
        acc.when(col(IdColMarker) === lit(id), lit(1e15 - i))
      }.otherwise(when(coalesce(org.pred, lit(false)),
        org.score.cast("double")).otherwise(lit(0.0)))
      boosted(Clause(pinnedPred || coalesce(org.pred, lit(false)),
        pinScore), pinBoost)

    case ("more_like_this", b) =>
      // ES more_like_this over TEXT likes (document references — the
      // {"_index","_id"} form — are rejected, not guessed at): the
      // like text's terms are filtered by min_term_freq, then by
      // min_doc_freq against the corpus, scored tf·(ln(N/(df+1))+1)
      // (Lucene MoreLikeThis's selection formula) and cut to
      // max_query_terms (score desc, term asc — deterministic). The
      // chosen terms run as an OR match gated by minimum_should_match
      // (default 30%, the ES default), scored by occurrence counts —
      // the engine's documented count families. Term selection uses
      // one bounded corpus aggregation (≤ |like terms| rows back to
      // the driver — the fuzzy-expansion precedent), the query itself
      // is one scan.
      val mltBoost = clauseBoost("more_like_this", b,
        Set("fields", "like", "min_term_freq", "min_doc_freq",
          "max_query_terms", "minimum_should_match"))
      val fields = Option(b.get("fields")).filter(_.isArray)
        .filter(_.size > 0)
        .map(fn => (0 until fn.size).map(fn.get(_).asText))
        .getOrElse(ctx.stringFields)
      if (fields.isEmpty)
        bad("more_like_this target has no string fields")
      val likeNode = Option(b.get("like"))
        .getOrElse(bad("more_like_this needs \"like\""))
      val likes: Seq[String] =
        if (likeNode.isTextual) Seq(likeNode.asText)
        else if (likeNode.isArray) (0 until likeNode.size).map { i =>
          val v = likeNode.get(i)
          if (!v.isTextual)
            bad("only text \"like\" items are supported (no document " +
              "references)")
          v.asText
        }
        else bad("only text \"like\" items are supported (no document " +
          "references)")
      val minTf = intOpt(b, "min_term_freq").getOrElse(2)
      val minDf = intOpt(b, "min_doc_freq").getOrElse(5)
      val maxTerms = intOpt(b, "max_query_terms").getOrElse(25)
      if (maxTerms <= 0 || maxTerms > 500)
        bad("max_query_terms must be 1..500")
      val mltMsm = Option(b.get("minimum_should_match")).map(msmSpec)
        .getOrElse("30%")
      val likeTf: Map[String, Int] = likes
        .flatMap(graft.functions.TextFunctions.analyzeText(_))
        .groupBy(identity).view.mapValues(_.size).toMap
        .filter(_._2 >= minTf)
      if (likeTf.isEmpty) Clause(lit(false), lit(0.0))
      else {
        val (numDocs, dfs) = ctx.docFreqs(fields, likeTf.keys.toSeq)
        val scored0 = likeTf.toSeq.flatMap { case (t, f0) =>
          dfs.get(t).filter(_ >= minDf).map(d =>
            (t, f0 * (math.log(numDocs.toDouble / (d + 1)) + 1)))
        }
        if (scored0.isEmpty) Clause(lit(false), lit(0.0))
        else {
          val chosen = scored0.sortBy { case (t, s) => (-s, t) }
            .take(maxTerms).map(_._1)
          val required = math.max(1, math.min(chosen.size,
            MinShouldMatch.resolve(mltMsm, chosen.size).getOrElse(
              bad(s"malformed minimum_should_match '$mltMsm'"))))
          val cnts = chosen.map(t => fields.map(f =>
            Search.substrCount(Search.tokenNorm(col(f)), s" $t "))
            .reduce(_ + _))
          val matched = cnts.map(c => when(c > 0, 1).otherwise(0))
            .reduce(_ + _)
          boosted(Clause(matched >= required,
            cnts.reduce(_ + _).cast("double")), mltBoost)
        }
      }

    case ("nested", b) =>
      // ES nested query: SOME element of the array-of-struct column
      // at `path` must satisfy the WHOLE inner query — per-element
      // evaluation, the semantics that separate nested docs from
      // flattened object fields (the reference indexes tickets'
      // `labels: [{id,name,color}]` exactly so —
      // src/ticket_sync.py:44-49). The inner query is the term-level
      // core (term/terms/range/exists/bool/match_all) over
      // `path.field` names; it compiles to ONE higher-order array
      // predicate (filter + size) — a codegen'd projection, no
      // explode, no join, no shuffle. Inner clauses are
      // constant-score, so score_mode avg/min/max = 1.0 on match
      // (ES's value for constant-score children), sum = the matching
      // element count, none = 0.
      val nBoost = clauseBoost("nested", b,
        Set("path", "query", "score_mode", "inner_hits"))
      val path = Option(b.get("path")).map(_.asText)
        .getOrElse(bad("nested needs \"path\""))
      val inner = Option(b.get("query"))
        .getOrElse(bad("nested needs \"query\""))
      val nFields = ctx.nestedFields(path).getOrElse(
        bad(s"nested path '$path' is not an array-of-struct column"))
      val per = nestedElemPred(inner, path, nFields)
      // "inner_hits": ES returns the MATCHING nested elements with
      // each hit. Constant-score inner queries tie, so ES's
      // score-desc inner order IS index order — slice(filter(...))
      // reproduces it exactly as a projection on the hit page.
      Option(b.get("inner_hits")).filter(!_.isNull).foreach { ih =>
        if (!ih.isObject) bad("inner_hits must be an object")
        val unknown = keysOf(ih).filterNot(Set("name", "size"))
        if (unknown.nonEmpty)
          bad(s"unsupported inner_hits key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
        val ihName = Option(ih.get("name")).map(_.asText).getOrElse(path)
        val ihSize = Option(ih.get("size")).map { v =>
          if (!v.isNumber) bad("inner_hits size must be numeric")
          v.asInt
        }.getOrElse(3)
        if (ihSize < 0 || ihSize > 100)
          bad("inner_hits size must be 0..100")
        ctx.registerInnerHits(s"inner_hits_$ihName",
          slice(filter(col(path), x => coalesce(per(x), lit(false))),
            1, ihSize))
      }
      val cnt = coalesce(
        size(filter(col(path), x => coalesce(per(x), lit(false)))),
        lit(0))
      val score = Option(b.get("score_mode")).map(_.asText)
        .getOrElse("avg") match {
        case "sum"                 => cnt.cast("double")
        case "avg" | "min" | "max" =>
          when(cnt > 0, lit(1.0)).otherwise(lit(0.0))
        case "none"                => lit(0.0)
        case other => bad(s"unsupported score_mode '$other'")
      }
      boosted(Clause(cnt > 0, score), nBoost)

    case ("function_score", b) =>
      // ES function_score: re-rank the base query's match set by
      // per-document functions — `weight` (optionally gated by a
      // `filter` clause) and `field_value_factor` (factor × field,
      // through an ES modifier; `missing` substitutes for null).
      // Matching functions combine under `score_mode`
      // (multiply/sum/avg/max/min/first — docs matching NO function
      // score 1), the combined factor is capped by `max_boost`, then
      // joined with the query score under `boost_mode`
      // (multiply/sum/replace/max/min/avg). `min_score` filters the
      // final score. Functions: field_value_factor, filtered weights,
      // script_score (the Painless arithmetic subset) and the
      // gauss/exp/linear decay family all compile; random_score
      // (nondeterministic) rejects by name. The whole construct stays
      // one codegen'd projection — arrays of (applies, value) structs
      // folded with `aggregate`, no joins. A body carrying BOTH a
      // functions array and a shorthand function key rejects (the
      // shorthand would otherwise be silently dropped).
      val fsBoost = clauseBoost("function_score", b,
        Set("query", "functions", "field_value_factor", "weight",
          "score_mode", "boost_mode", "max_boost", "min_score",
          "script_score", "gauss", "exp", "linear"))
      // min_score's PREDICATE reads the combined score, so the base
      // query must keep real scoring even in filter context — the one
      // construct that escapes the filter-context suppression
      val minScoreOpt = Option(b.get("min_score"))
        .map(numKnob(_, "min_score"))
      val base = Option(b.get("query")).map(qn =>
          if (minScoreOpt.isDefined) ctx.scoringNeeded { clause(qn, ctx) }
          else clause(qn, ctx))
        .getOrElse(Clause(lit(true), lit(1.0)))
      def parseFn(fn: JsonNode): (Column, Column) = {
        // random_score (nondeterministic) rejects by name; the decay
        // functions and script_score compile below. Exactly ONE
        // function kind per entry — a second kind would be silently
        // shadowed by evaluation order otherwise (ES rejects too).
        if (fn.hasNonNull("random_score"))
          bad("unsupported function_score function 'random_score'")
        val kindsPresent = Seq("script_score", "gauss", "exp",
          "linear", "field_value_factor").filter(fn.hasNonNull)
        if (kindsPresent.size > 1)
          bad("a function_score function takes one function kind, " +
            s"got: ${kindsPresent.mkString(", ")}")
        val applies = Option(fn.get("filter"))
          .map(f => coalesce(ctx.inFilter { clause(f, ctx) }.pred,
            lit(false)))
          .getOrElse(lit(true))
        val weight = Option(fn.get("weight"))
          .map(numKnob(_, "function weight"))
        Option(fn.get("script_score")).foreach { ss =>
          // functions see doc values only — no _score binding, like ES
          val v = compileScoreScript(ss.get("script"), Map.empty)
          return (applies,
            weight.map(v * _).getOrElse(v).cast("double"))
        }
        // DECAY functions (gauss / exp / linear): deterministic decay
        // of the score with distance from an origin — ES's recency/
        // proximity booster. Numeric fields take numeric origin/scale/
        // offset; a TEXTUAL origin means a timestamp field (ISO
        // instant; scale/offset in the fixed-duration grammar). "now"
        // as an origin is nondeterministic and rejects by name. Docs
        // missing the field score 1.0, like ES.
        for (dk <- Seq("gauss", "exp", "linear") if fn.hasNonNull(dk)) {
          val body = fn.get(dk)
          val (f, spec0) = unwrap(body)
          val unknown = keysOf(spec0)
            .filterNot(Set("origin", "scale", "offset", "decay"))
          if (unknown.nonEmpty)
            bad(s"unsupported $dk key" +
              s"${if (unknown.size == 1) "" else "s"}: " +
              unknown.mkString(", "))
          val originN = Option(spec0.get("origin"))
            .getOrElse(bad(s"$dk needs \"origin\""))
          val scaleN = Option(spec0.get("scale"))
            .getOrElse(bad(s"$dk needs \"scale\""))
          val decay = Option(spec0.get("decay")).map(_.asDouble)
            .getOrElse(0.5)
          if (decay <= 0 || decay >= 1)
            bad(s"$dk decay must be in (0, 1)")
          val (v, origin, scale, offset) =
            if (originN.isTextual) {
              val o = originN.asText
              if (o == "now" || o.startsWith("now"))
                bad(s"$dk origin 'now' is nondeterministic — pass an " +
                  "explicit instant")
              val oMs =
                try java.time.Instant.parse(o).toEpochMilli
                catch { case _: java.time.format.DateTimeParseException =>
                  bad(s"$dk origin must be an ISO instant") }
              val sMs = fixedIntervalMs(scaleN.asText).toDouble
              val offMs = Option(spec0.get("offset")).map(n =>
                fixedIntervalMs(n.asText).toDouble).getOrElse(0.0)
              (expr(s"unix_millis(cast(`$f` as timestamp))")
                .cast("double"), oMs.toDouble, sMs, offMs)
            } else {
              if (!originN.isNumber) bad(s"$dk origin must be numeric " +
                "or an ISO instant")
              if (!scaleN.isNumber) bad(s"$dk numeric scale must be " +
                "numeric")
              val offV = Option(spec0.get("offset")).map { n =>
                if (!n.isNumber) bad(s"$dk numeric offset must be " +
                  "numeric")
                n.asDouble
              }.getOrElse(0.0)
              (col(f).cast("double"), originN.asDouble,
                scaleN.asDouble, offV)
            }
          if (scale <= 0) bad(s"$dk scale must be positive")
          if (offset < 0) bad(s"$dk offset must be >= 0")
          val dist = greatest(abs(v - origin) - offset, lit(0.0))
          val decayed: Column = dk match {
            case "linear" =>
              // s = scale/(1-decay); value = max((s - dist)/s, 0)
              val s = scale / (1 - decay)
              greatest((lit(s) - dist) / s, lit(0.0))
            case "exp" =>
              // λ = ln(decay)/scale; value = e^(λ·dist)
              val lambda = math.log(decay) / scale
              org.apache.spark.sql.functions.exp(dist * lambda)
            case "gauss" =>
              // σ² = -scale²/(2·ln(decay)); value = e^(−dist²/(2σ²))
              val sigma2 = -(scale * scale) / (2 * math.log(decay))
              org.apache.spark.sql.functions.exp(
                -(dist * dist) / (2 * sigma2))
          }
          // a missing field value decays to 1.0 (ES's contract)
          val vDecayed = coalesce(decayed, lit(1.0))
          return (applies,
            weight.map(vDecayed * _).getOrElse(vDecayed).cast("double"))
        }
        val value: Column = Option(fn.get("field_value_factor")) match {
          case Some(s) =>
            val f = Option(s.get("field")).map(_.asText)
              .getOrElse(bad("field_value_factor needs \"field\""))
            val factor = Option(s.get("factor")).map(_.asDouble)
              .getOrElse(1.0)
            val missing = Option(s.get("missing")).map(_.asDouble)
              .getOrElse(1.0)
            val x = coalesce(col(f).cast("double"), lit(missing)) * factor
            val modded = Option(s.get("modifier")).map(_.asText)
              .getOrElse("none") match {
              case "none"       => x
              case "log"        => log10(x) // ES log modifiers are log10
              case "log1p"      => log10(x + 1)
              case "log2p"      => log10(x + 2)
              case "ln"         => log(x)   // Spark's log IS ln
              case "ln1p"       => log(x + 1)
              case "ln2p"       => log(x + 2)
              case "square"     => x * x
              case "sqrt"       => sqrt(x)
              case "reciprocal" => lit(1.0) / x
              case other =>
                bad(s"unsupported field_value_factor modifier '$other'")
            }
            weight.map(modded * _).getOrElse(modded)
          case None => lit(weight.getOrElse(
            bad("a function_score function needs field_value_factor " +
              "or weight")))
        }
        (applies, value.cast("double"))
      }
      val ShorthandFnKeys = Seq("field_value_factor", "weight",
        "script_score", "gauss", "exp", "linear")
      // a present-but-non-array functions value would silently drop
      // the whole function spec through the isArray filter
      Option(b.get("functions")).filter(!_.isNull).foreach(n =>
        if (!n.isArray)
          bad("function_score functions must be an array"))
      val fns: Seq[(Column, Column)] =
        Option(b.get("functions")).filter(_.isArray) match {
          case Some(a) =>
            // a shorthand function key NEXT TO the functions array
            // would be silently dropped — reject by name
            val stray = ShorthandFnKeys.filter(b.hasNonNull)
            if (stray.nonEmpty)
              bad("function_score takes a functions array OR a " +
                "single shorthand function, not both (got: " +
                s"${stray.mkString(", ")} beside functions)")
            (0 until a.size).map(i => parseFn(a.get(i)))
          case None =>
            if (ShorthandFnKeys.exists(b.hasNonNull)) Seq(parseFn(b))
            else Nil
        }
      val scoreMode = Option(b.get("score_mode")).map(_.asText)
        .getOrElse("multiply")
      val boostMode = Option(b.get("boost_mode")).map(_.asText)
        .getOrElse("multiply")
      val fnScore: Column =
        if (fns.isEmpty) lit(1.0)
        else {
          val arr = array(fns.map { case (a, v) =>
            struct(a.as("a"), v.as("v")) }: _*)
          val m = filter(arr, x => x.getField("a"))
          val n = size(m)
          val vs = transform(m, _.getField("v"))
          val combined = scoreMode match {
            case "multiply" =>
              aggregate(m, lit(1.0), (acc, x) => acc * x.getField("v"))
            case "sum" =>
              aggregate(m, lit(0.0), (acc, x) => acc + x.getField("v"))
            case "avg" =>
              aggregate(m, lit(0.0),
                (acc, x) => acc + x.getField("v")) / n
            case "max"   => array_max(vs)
            case "min"   => array_min(vs)
            case "first" => element_at(vs, 1)
            case other   => bad(s"unsupported score_mode '$other'")
          }
          when(n === 0, lit(1.0)).otherwise(combined)
        }
      val capped = Option(b.get("max_boost"))
        .map(numKnob(_, "max_boost"))
        .map(mb => least(fnScore, lit(mb))).getOrElse(fnScore)
      // ES/Lucene push the query-level boost into the SUB-QUERY's
      // weight: it multiplies the query score BEFORE the boost_mode
      // combination (visible under sum/replace/avg/max/min; identical
      // under multiply)
      val qScore0 = base.score.cast("double")
      val qScore =
        if (fsBoost == 1.0) qScore0 else qScore0 * fsBoost
      val finalScore = boostMode match {
        case "multiply" => qScore * capped
        case "sum"      => qScore + capped
        case "replace"  => capped
        case "max"      => greatest(qScore, capped)
        case "min"      => least(qScore, capped)
        case "avg"      => (qScore + capped) / 2
        case other      => bad(s"unsupported boost_mode '$other'")
      }
      val pred = minScoreOpt
        .map(ms => base.pred && finalScore >= ms).getOrElse(base.pred)
      Clause(pred, finalScore)

    case ("query_string", b) =>
      // ES's full Lucene classic query language — the STRICT sibling
      // of simple_query_string (a syntax error is a 400 naming the
      // defect, never a silent re-interpretation). Parsed by
      // [[QueryString]] (field scoping, classic AND/OR occur
      // resolution, ranges, wildcards, boosts); atoms score by the
      // engine's documented OCCURRENCE-count families, term-level
      // constructs (range/exists) score a constant 1.0 — ES's
      // constant-score rewrite. BM25 relevance lives on
      // match/multi_match and /search rank=bm25.
      val qsBoost = clauseBoost("query_string", b,
        Set("query", "fields", "default_field", "default_operator",
          "analyzer"))
      // ES accepts `analyzer` on query_string too (round 17): it
      // analyzes TERM atoms; syntax-bound atoms (phrase, prefix,
      // wildcard, fuzzy) keep the standard chain and the combination
      // rejects by name inside qsCompile
      val qsAnalyzer = matchAnalyzer(b)
      val qstr = Option(b.get("query")).map(_.asText)
        .getOrElse(bad("query_string needs \"query\""))
      val fieldsNode = Option(b.get("fields")).filter(_.isArray)
      val defaultField = Option(b.get("default_field")).map(_.asText)
      if (fieldsNode.nonEmpty && defaultField.nonEmpty)
        bad("query_string takes fields OR default_field, not both")
      val defaults: Seq[(String, Double)] = fieldsNode match {
        case Some(fn) =>
          if (fn.size == 0) bad("fields must be non-empty")
          (0 until fn.size).map { i =>
            fn.get(i).asText.split("\\^", 2) match {
              case Array(n, boost) => n -> boost.toDouble
              case Array(n)        => n -> 1.0
            }
          }
        case None => defaultField match {
          case Some("*") | None => ctx.stringFields.map(_ -> 1.0)
          case Some(f)          => Seq(f -> 1.0)
        }
      }
      if (defaults.isEmpty)
        bad("query_string target has no string fields to search")
      val defaultAnd = Option(b.get("default_operator"))
        .map(_.asText.toLowerCase).getOrElse("or") match {
        case "and" => true
        case "or"  => false
        case other => bad(s"unsupported default_operator '$other'")
      }
      boosted(qsCompile(QueryString.parse(qstr, defaultAnd), defaults,
        ctx, qsAnalyzer), qsBoost)

    case ("bool", b) =>
      val boolBoost = clauseBoost("bool", b, Set("must", "filter",
        "should", "must_not", "minimum_should_match"))
      val must = sub(b, "must").map(clause(_, ctx))
      // filter and must_not are FILTER CONTEXT (ES skips scoring
      // there): scoring clauses compile to predicates only — no
      // statistics scans, no score joins
      val filter = ctx.inFilter { sub(b, "filter").map(clause(_, ctx)) }
      val mustNot =
        ctx.inFilter { sub(b, "must_not").map(clause(_, ctx)) }
      val should = sub(b, "should").map(clause(_, ctx))
      // ES default: should is optional when must/filter exist, else at
      // least one should must match; explicit minimum_should_match
      // resolves with the full grammar against the should count
      val defaultMsm = if (must.nonEmpty || filter.nonEmpty) 0 else 1
      val msm = Option(b.get("minimum_should_match")).map { m =>
        val spec = msmSpec(m)
        MinShouldMatch.resolve(spec, should.size)
          .getOrElse(bad(s"malformed minimum_should_match '$spec'"))
      }.getOrElse(defaultMsm)
      val preds =
        must.map(_.pred) ++ filter.map(_.pred) ++
          mustNot.map(c => !coalesce(c.pred, lit(false))) ++
          (if (should.nonEmpty && msm > 0)
            Seq(should.map(c =>
                when(coalesce(c.pred, lit(false)), 1).otherwise(0))
              .reduce(_ + _) >= math.min(msm, should.size))
          else Nil)
      val pred = if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
      val scores = must.map(_.score) ++ should.map(c =>
        when(coalesce(c.pred, lit(false)), c.score).otherwise(lit(0.0)))
      val score = if (scores.isEmpty) lit(0.0) else scores.reduce(_ + _)
      boosted(Clause(pred, score), boolBoost)

    case (other, _) => bad(s"unsupported query clause '$other'")
  }

  /** min_doc_count / extended_bounds handling for the histogram
    * family. `0` gap-fills: the FULL aligned key range (data min/max,
    * extended outward by `extended_bounds` — ES: bounds can only
    * extend, and only apply at min_doc_count 0) generated by `keySeq`
    * from a broadcast single-row bounds aggregate, left-joined back —
    * empty buckets carry doc_count 0 and null metrics, exactly ES's
    * response. `>= 2` prunes buckets below the floor. The generated
    * range is guarded at ES's search.max_buckets (65536). */
  private def gapFill(buckets: DataFrame, h: JsonNode,
                      keySeq: (Column, Column) => Column,
                      align: Column => Column = identity): DataFrame = {
    val mdc = Option(h.get("min_doc_count")).map(_.asInt).getOrElse(1)
    if (mdc < 0) bad("min_doc_count must be >= 0")
    val eb = Option(h.get("extended_bounds"))
    if (eb.nonEmpty && mdc != 0)
      bad("extended_bounds requires min_doc_count 0")
    def extBound(key: String): Option[Column] =
      eb.flatMap(e => Option(e.get(key))).map { v =>
        if (!v.isNumber)
          bad("extended_bounds must be numeric (epoch millis / " +
            "bucket key)")
        litOf(v)
      }
    mdc match {
      case 0 =>
        val bounds = buckets.agg(min(col("key")).as("__lo"),
          max(col("key")).as("__hi"))
        // least/greatest skip nulls: an empty match set with
        // extended_bounds still yields the extended range
        val lo = extBound("min").map(b => least(col("__lo"), align(b)))
          .getOrElse(col("__lo"))
        val hi = extBound("max").map(b => greatest(col("__hi"), align(b)))
          .getOrElse(col("__hi"))
        bounds.select(explode(keySeq(lo, hi)).as("key"))
          .join(buckets, Seq("key"), "left")
          .na.fill(0L, Seq("doc_count"))
      case 1 => buckets
      case n => buckets.filter(col("doc_count") >= n)
    }
  }

  /** Shared JLH tail of significant_terms / significant_text:
    * (fg% − bg%) · (fg% / bg%) against broadcast single-row totals
    * (fg and bg totals from ONE pass over the corpus — a conditional
    * count on the match predicate), positive scores only, score
    * desc. The operation order is one IEEE op per step — mirrored
    * verbatim by the DuckDB oracles. */
  private def jlhSignificance(counts: DataFrame, base: DataFrame,
                              pred: Column, size0: Int,
                              bgPred: Option[Column] = None): DataFrame = {
    val totals = base.agg(
      count(when(pred, lit(1))).as("__fg_total"),
      bgPred.map(p => count(when(p, lit(1))))
        .getOrElse(count(lit(1))).as("__bg_total"))
    val fgp = col("doc_count") / col("__fg_total")
    val bgp = col("bg_count") / col("__bg_total")
    counts
      // under a background_filter a foreground term can be absent
      // from the background — ES drops it (no significance without a
      // background frequency); without the filter bg >= fg always
      .filter(col("bg_count") > 0)
      .crossJoin(broadcast(totals))
      .withColumn("score", (fgp - bgp) * (fgp / bgp))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("key").asc)
      .limit(size0)
      .select("key", "doc_count", "bg_count", "score")
  }

  /** Element-level predicate compiler for the `nested` query: the
    * term-level DSL core evaluated per array element. Fields are
    * `path.field` names resolved against the struct's fields —
    * anything else (an un-prefixed name, an unknown sub-field, a
    * scored clause) is the caller's error. */
  private def nestedElemPred(q: JsonNode, path: String,
                             fields: Seq[String]): Column => Column = {
    def fieldOf(f: String): String = {
      if (!f.startsWith(path + "."))
        bad(s"nested clause field '$f' must be under path '$path'")
      val sub0 = f.substring(path.length + 1)
      if (!fields.contains(sub0)) bad(s"unknown nested field '$f'")
      sub0
    }
    unwrap(q) match {
      case ("match_all", _) => _ => lit(true)
      case ("term", b) =>
        val (f, v) = unwrap(b)
        val value = if (v.isObject) Option(v.get("value"))
          .getOrElse(bad("term needs a value")) else v
        val sub0 = fieldOf(f)
        x => x.getField(sub0) === litOf(value)
      case ("terms", b) =>
        val (f, vs) = unwrap(b)
        if (!vs.isArray || vs.size == 0)
          bad("terms needs a non-empty array")
        val values = (0 until vs.size).map(i => litOf(vs.get(i)))
        val sub0 = fieldOf(f)
        x => values.map(x.getField(sub0) === _).reduce(_ || _)
      case ("range", b) =>
        val (f, bounds) = unwrap(b)
        val sub0 = fieldOf(f)
        val ops = Seq[(String, (Column, Column) => Column)](
          "gt" -> (_ > _), "gte" -> (_ >= _),
          "lt" -> (_ < _), "lte" -> (_ <= _))
          .flatMap { case (k, op) =>
            Option(bounds.get(k)).map(v => (c: Column) => op(c, litOf(v)))
          }
        if (ops.isEmpty) bad("range needs gt/gte/lt/lte")
        x => ops.map(_(x.getField(sub0))).reduce(_ && _)
      case ("exists", b) =>
        val f = Option(b.get("field")).map(_.asText)
          .getOrElse(bad("exists needs \"field\""))
        val sub0 = fieldOf(f)
        x => x.getField(sub0).isNotNull
      case ("bool", b) =>
        val must = (sub(b, "must") ++ sub(b, "filter"))
          .map(nestedElemPred(_, path, fields))
        val mustNot = sub(b, "must_not").map(nestedElemPred(_, path, fields))
        val should = sub(b, "should").map(nestedElemPred(_, path, fields))
        x => {
          val preds =
            must.map(p => coalesce(p(x), lit(false))) ++
            mustNot.map(p => !coalesce(p(x), lit(false))) ++
            (if (must.isEmpty && should.nonEmpty)
              Seq(should.map(p => coalesce(p(x), lit(false)))
                .reduce(_ || _))
            else Nil)
          if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
        }
      case (other, _) =>
        bad(s"unsupported clause '$other' inside nested (the " +
          "term-level core: term/terms/range/exists/bool/match_all)")
    }
  }

  /** Compile a parsed [[QueryString]] tree to a predicate + score.
    * Field-scoped atoms bind to their one column (validated — an
    * unknown field is a 400, ES's lenient=false); unscoped atoms
    * expand over the request's default fields, per-field counts
    * summed with the field boosts, exactly simple_query_string's
    * expansion. The Bool combination is ES's: must scores sum, a
    * matching should adds, must_not contributes nothing, and should
    * is only required when no must/filter context exists. */
  private def qsCompile(root: QueryString.Node,
                        defaults: Seq[(String, Double)],
                        ctx: Ctx,
                        analyzer: String = "standard"): Clause = {
    import QueryString._
    def fieldsFor(f: Option[String]): Seq[(String, Double)] = f match {
      case Some(name) =>
        if (!ctx.columns.contains(name)) missingField(name)
        Seq(name -> 1.0)
      case None => defaults
    }
    def overFields(f: Option[String])(per: String => Column): Column =
      fieldsFor(f).map { case (fn, boost) =>
        val c = per(fn)
        if (boost == 1.0) c else c * boost
      }.reduce(_ + _)
    def tokensOf(fn: String): Column =
      graft.functions.TextFunctions.analyzerTokens(col(fn).cast("string"))
    def go(n: Node): Clause = n match {
      case Term(f, t) =>
        // analyze the atom (the lexer only split on query syntax):
        // multi-token atoms OR together like ES's analyzed atoms,
        // pure-punctuation (or all-stopword-under-a-removing-chain)
        // atoms never match. A non-standard analyzer's terms search
        // as literal standard tokens (the match family's contract).
        val ts =
          if (analyzer == "standard")
            graft.functions.TextFunctions.analyzeText(t)
          else queryTerms(t, analyzer)
        if (ts.isEmpty) Clause(lit(false), lit(0.0))
        else {
          val cnt = ts.map(tok => overFields(f)(fn =>
            Search.substrCount(Search.tokenNorm(col(fn)), s" $tok ")))
            .reduce(_ + _)
          Clause(cnt > 0, cnt.cast("double"))
        }
      case Phrase(f, terms, slop) =>
        if (analyzer != "standard")
          bad("analyzer on query_string applies to term atoms only " +
            "— quoted phrases ride the standard chain (use " +
            "match_phrase for analyzer-aware phrases)")
        val cnt =
          if (slop == 0) overFields(f)(fn => Search.substrCount(
            Search.tokenNorm(col(fn)), terms.mkString(" ", "  ", " ")))
          else overFields(f)(fn =>
            Positional.termPhrase(col(fn), terms.zipWithIndex, slop))
        Clause(cnt > 0, cnt.cast("double"))
      case Prefix(f, p) =>
        if (analyzer != "standard")
          bad("analyzer on query_string applies to term atoms only " +
            "— prefix atoms expand over the standard chain")
        val cnt = overFields(f)(fn =>
          prefixPhraseCount(fn, Seq(p), 0, None))
        Clause(cnt > 0, cnt.cast("double"))
      case Wild(f, pat) =>
        if (analyzer != "standard")
          bad("analyzer on query_string applies to term atoms only " +
            "— wildcard atoms rewrite over the standard chain")
        // token-level wildcard: the analyzed-field analog of ES's
        // wildcard query — count of tokens matching the LIKE rewrite
        val like = wildcardToLike(pat)
        val cnt = overFields(f)(fn =>
          size(filter(tokensOf(fn), x => x.like(like))))
        Clause(cnt > 0, cnt.cast("double"))
      case Fuzzy(f, t, e) =>
        if (analyzer != "standard")
          bad("analyzer on query_string applies to term atoms only " +
            "— fuzzy atoms expand over the standard chain")
        val cnt = overFields(f)(fn => size(filter(tokensOf(fn),
          x => Search.editDistance(x, t, true) <= e)))
        Clause(cnt > 0, cnt.cast("double"))
      case Range(f, lo, hi, il, ih) =>
        if (!ctx.columns.contains(f)) missingField(f)
        def boundLit(s: String): Column =
          scala.util.Try(lit(s.toLong))
            .orElse(scala.util.Try(lit(s.toDouble)))
            .getOrElse(lit(s))
        val preds =
          lo.map(v => if (il) col(f) >= boundLit(v)
                      else col(f) > boundLit(v)).toSeq ++
          hi.map(v => if (ih) col(f) <= boundLit(v)
                      else col(f) < boundLit(v)).toSeq
        Clause(preds.reduce(_ && _), lit(1.0))
      case Exists(f) =>
        if (!ctx.columns.contains(f)) missingField(f)
        Clause(col(f).isNotNull, lit(1.0))
      case Boost(x, b) =>
        val c = go(x)
        Clause(c.pred, c.score.cast("double") * b)
      case Bool(must, should, mustNot) =>
        val ms = must.map(go)
        val ss = should.map(go)
        val ns = mustNot.map(go)
        val preds =
          ms.map(_.pred) ++
          ns.map(c => !coalesce(c.pred, lit(false))) ++
          (if (ms.isEmpty && ss.nonEmpty)
            Seq(ss.map(c => coalesce(c.pred, lit(false))).reduce(_ || _))
          else Nil)
        val pred = if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
        val scores = ms.map(_.score) ++ ss.map(c =>
          when(coalesce(c.pred, lit(false)), c.score).otherwise(lit(0.0)))
        val score = if (scores.isEmpty) lit(0.0) else scores.reduce(_ + _)
        Clause(pred, score)
    }
    go(root)
  }

  /** ES aggregations, flat-relational shape: ONE top-level agg — a
    * bucket agg (`terms` with missing/min_doc_count/order knobs and
    * optional nesting, `date_histogram`, `histogram`, `range`,
    * `filters`) optionally carrying metric sub-aggs, or a single
    * global metric agg (one row). Metrics: avg/sum/min/max/
    * value_count, `cardinality` as an EXACT distinct count by default
    * (deterministic and oracle-able; ES's is approximate HLL) with
    * `precision_threshold` OPTING INTO the HLL sketch at ES's own
    * register budget ([[lgkFromThreshold]]; error-bounded in
    * EsDslSpec), `stats` / `extended_stats` (flattened to
    * `<name>_count` … `<name>_std_deviation`; population variance,
    * like ES), and `percentiles` (EXACT interpolated by default —
    * ES's TDigest default is approximate — with a `tdigest` object
    * opting into the mergeable quantile sketch at
    * `accuracy = compression × 100`; flattened to
    * `<name>_p<percent>`). Histogram-family buckets also accept ES's
    * PARENT pipeline aggs — `cumulative_sum` / `derivative`
    * (buckets_path to a sibling metric, `_count`, or an earlier
    * pipeline) and `bucket_sort` (sort/from/size over bucket values,
    * applied last) — as window functions over the bucket table. The
    * result is the flat bucket table (key, doc_count, metric/pipeline
    * columns) — the relational projection of ES's nested buckets
    * JSON. */
  /** Accuracy/distribution knobs EXACT evaluation subsumes — accepted
    * and ignored (this engine's exact answers meet or beat every one
    * of these knobs' intent, so dropping them cannot change a result
    * for the worse): shard-level sizing/collection hints and response
    * shaping. `precision_threshold` is NOT here — since round 15 it
    * OPTS INTO the HLL sketch (see the cardinality metric), because a
    * user setting it asks for the memory/accuracy trade, not for a
    * bigger exact bill. */
  private val IgnoredAccuracyKnobs = Set("shard_size",
    "shard_min_doc_count", "execution_hint", "collect_mode",
    "show_term_doc_count_error", "keyed")

  /** ES's threshold→HLL-precision mapping
    * (HyperLogLogPlusPlus.precisionFromThreshold: bits required for a
    * 0.75-load-factor hash table of `t` int entries, clamped 4..18) —
    * reused verbatim as the DataSketches `lgConfigK`, so the sketch
    * spends the same register budget ES would. The ESTIMATOR differs
    * (DataSketches HLL vs ES's bias-corrected HLL++) — a documented
    * deviation; both are exact in sparse mode well past the
    * threshold and carry ~1.04/sqrt(2^lgK) relative standard error
    * beyond it (EsDslSpec pins the bounds). */
  private[graft] def lgkFromThreshold(t: Long): Int = {
    val entries = math.ceil(t / 0.75).toLong
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, entries * 4))
    math.max(4, math.min(18, bits))
  }

  /** The cardinality metric's aggregation column: EXACT distinct
    * count (the oracle tier) unless the body carries
    * `precision_threshold` — ES's knob for the HLL memory/accuracy
    * trade — which opts into the mergeable HLL sketch at ES's own
    * register budget. Values hash via their string form (injective
    * for the atomic types the agg surface admits). */
  private def cardinalityCol(c: Column, mSpec: JsonNode,
                             alias: String): Column =
    Option(mSpec.get("precision_threshold")) match {
      case None => countDistinct(c).as(alias)
      case Some(n) =>
        if (!n.isIntegralNumber || n.asLong < 0 || n.asLong > 40000)
          bad("precision_threshold must be an integer in 0..40000")
        hll_sketch_estimate(hll_sketch_agg(c.cast("string"),
          lit(lgkFromThreshold(math.max(1L, n.asLong))))).as(alias)
    }

  /** The percentiles metric's per-percent columns: EXACT interpolated
    * percentiles (the oracle tier) unless the body carries a
    * `tdigest` object — ES's approximate default, honored here as an
    * opt-in — mapped onto Spark's mergeable quantile sketch with
    * `accuracy = compression × 100` (ES's default compression 100 =
    * Spark's default accuracy 10000; rank error ≤ 1/accuracy,
    * EsDslSpec pins the bound). A documented estimator deviation:
    * KLL/GK rank error is uniform where TDigest's tightens at the
    * tails. */
  private def percentileCols(f: String, mSpec: JsonNode,
                             named: Seq[(Double, String)]): Seq[Column] =
    tdigestAccuracy(mSpec) match {
      case None =>
        named.map { case (p, nm) =>
          expr(s"percentile(`$f`, ${p / 100.0}d)").as(nm) }
      case Some(acc) =>
        named.map { case (p, nm) =>
          expr(s"approx_percentile(CAST(`$f` AS DOUBLE), ${
            p / 100.0}d, ${acc}L)").cast("double").as(nm) }
    }

  /** The `tdigest` knob, validated: None without the knob, the
    * mergeable-quantile-sketch accuracy (`compression × 100`, ES's
    * default compression 100 = Spark's default accuracy 10000; rank
    * error <= 1/accuracy) with it. Shared by `percentiles`, `boxplot`
    * and `percentile_ranks`. */
  private def tdigestAccuracy(mSpec: JsonNode): Option[Long] =
    Option(mSpec.get("tdigest")).map { td =>
      if (!td.isObject) bad("tdigest must be an object")
      val unknown = keysOf(td).filterNot(_ == "compression")
      if (unknown.nonEmpty)
        bad(s"unsupported tdigest key${
          if (unknown.size == 1) "" else "s"}: ${
          unknown.mkString(", ")}")
      val comp = Option(td.get("compression")).map(_.asDouble)
        .getOrElse(100.0)
      if (comp < 20 || comp > 10000)
        bad("tdigest compression must be in 20..10000")
      math.max(100L, math.min(100000L, (comp * 100).toLong))
    }

  /** Per-kind KNOWN-KEY inventory for the aggregation surface. A body
    * carrying a key outside its kind's set is rejected BY NAME — a
    * silently-dropped knob that CHANGES results in ES (time_zone,
    * format, offset, script, ...) must never yield a silently
    * different answer here. `sigma` is allowed on extended_stats
    * because the flat projection carries no std_deviation_bounds for
    * it to affect. */
  private val AggKnownKeys: Map[String, Set[String]] = Map(
    "terms" -> Set("field", "size", "missing", "min_doc_count",
      "order", "include", "exclude"),
    "multi_terms" -> Set("terms", "size"),
    "composite" -> Set("size", "sources", "after"),
    "date_histogram" -> Set("field", "fixed_interval",
      "calendar_interval", "min_doc_count", "extended_bounds",
      "time_zone", "offset"),
    "histogram" -> Set("field", "interval", "min_doc_count",
      "extended_bounds", "offset"),
    "range" -> Set("field", "ranges"),
    "date_range" -> Set("field", "ranges"),
    "filters" -> Set("filters", "other_bucket", "other_bucket_key"),
    "missing" -> Set("field"),
    "adjacency_matrix" -> Set("filters"),
    "nested" -> Set("path"),
    "reverse_nested" -> Set(),
    "sampler" -> Set("shard_size"),
    "diversified_sampler" ->
      Set("shard_size", "field", "max_docs_per_value"),
    "geo_distance" -> Set("field", "origin", "ranges", "unit",
      "distance_type"),
    "geotile_grid" -> Set("field", "precision", "size"),
    "geohash_grid" -> Set("field", "precision", "size"),
    "ip_range" -> Set("field", "ranges"),
    "geo_bounds" -> Set("field", "wrap_longitude"),
    "geo_centroid" -> Set("field"),
    "significant_terms" -> Set("field", "size", "background_filter"),
    "significant_text" -> Set("field", "size"),
    "rare_terms" -> Set("field", "max_doc_count"),
    "top_metrics" -> Set("metrics", "sort", "size"),
    "boxplot" -> Set("field", "tdigest"),
    "t_test" -> Set("a", "b", "type"),
    "children" -> Set("type"),
    "parent" -> Set("type"),
    "median_absolute_deviation" -> Set("field", "compression"),
    "scripted_metric" -> Set("init_script", "map_script",
      "combine_script", "reduce_script", "params"),
    "string_stats" -> Set("field"),
    "matrix_stats" -> Set("fields"),
    "auto_date_histogram" -> Set("field", "buckets"),
    "avg" -> Set("field"), "sum" -> Set("field"),
    "min" -> Set("field"), "max" -> Set("field"),
    "value_count" -> Set("field"),
    "cardinality" -> Set("field", "precision_threshold"),
    "stats" -> Set("field"),
    "extended_stats" -> Set("field", "sigma"),
    "percentiles" -> Set("field", "percents", "tdigest"),
    "percentile_ranks" -> Set("field", "values", "tdigest"),
    "weighted_avg" -> Set("value", "weight"),
    "top_hits" -> Set("size", "sort", "_source"),
    "cumulative_sum" -> Set("buckets_path"),
    "cumulative_cardinality" -> Set("buckets_path"),
    "rate" -> Set("field", "unit", "mode"),
    "derivative" -> Set("buckets_path"),
    "serial_diff" -> Set("buckets_path", "lag", "gap_policy"),
    "normalize" -> Set("buckets_path", "method"),
    "bucket_script" -> Set("buckets_path", "script", "gap_policy"),
    "bucket_selector" -> Set("buckets_path", "script", "gap_policy"),
    "moving_fn" -> Set("buckets_path", "window", "shift", "script"),
    "moving_percentiles" -> Set("buckets_path", "window", "shift"),
    "bucket_sort" -> Set("sort", "from", "size"),
    "avg_bucket" -> Set("buckets_path"),
    "sum_bucket" -> Set("buckets_path"),
    "min_bucket" -> Set("buckets_path"),
    "max_bucket" -> Set("buckets_path"),
    "stats_bucket" -> Set("buckets_path"),
    "extended_stats_bucket" -> Set("buckets_path", "sigma"),
    "percentiles_bucket" -> Set("buckets_path", "percents"))

  /** ONE sort entry, the shared grammar for every sort surface
    * (top-level body sort, top_hits, bucket_sort): a bare field
    * string, the `{"f": "desc"}` string shorthand, or
    * `{"f": {"order": "desc"}}`. Exactly one field per entry; the
    * object form's other knobs (missing, mode, format — each CHANGES
    * results in ES) reject by name, and so does a bad order value —
    * the shorthand silently defaulting to ascending was a review
    * finding, not a feature. Returns (field, "asc"|"desc"). */
  private def sortEntryOf(nd: JsonNode, context: String)
      : (String, String) = {
    if (nd.isTextual) return (nd.asText, "asc")
    if (!nd.isObject) bad(s"malformed $context sort entry")
    val names = keysOf(nd)
    if (names.isEmpty) bad(s"empty $context sort entry")
    if (names.size > 1)
      bad(s"a $context sort entry must carry exactly one field, " +
        "got: " + names.mkString(", "))
    val f = names.head
    val spec = nd.get(f)
    val ord =
      if (spec.isTextual) spec.asText
      else if (spec.isObject) {
        val unknown = keysOf(spec).filterNot(Set("order"))
        if (unknown.nonEmpty)
          bad(s"unsupported $context sort entry key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
        Option(spec.get("order")).map(_.asText).getOrElse("asc")
      } else bad(s"malformed $context sort entry for '$f'")
    if (ord != "asc" && ord != "desc")
      bad(s"unsupported sort order '$ord'")
    (f, ord)
  }

  /** Apply ONE bucket_sort spec to a bucket table — the shared
    * reduce-phase sorter for histogram and terms parents (the key
    * column differs, nothing else). A missing `sort` key preserves
    * the parent's existing bucket order (ES: from/size-only
    * truncation); entries accept the array form or a single bare
    * entry. `tiebreak` (the bucket key asc) is always appended so
    * paging is deterministic. */
  private def applyBucketSort(out: DataFrame, ms: JsonNode,
                              keyCol: Column,
                              parentOrder: Seq[Column]): DataFrame = {
    checkAggKeys("bucket_sort", ms)
    val sortEntries: Seq[JsonNode] = Option(ms.get("sort")) match {
      case None                 => Nil
      case Some(s) if s.isArray => (0 until s.size).map(s.get)
      case Some(s)              => Seq(s)
    }
    val sortKeys: Seq[Column] = sortEntries.map { nd =>
      val (f, ord) = sortEntryOf(nd, "bucket_sort")
      val c = f match {
        case "_key"   => keyCol
        case "_count" => col("doc_count")
        case other =>
          if (!out.columns.contains(other))
            bad(s"bucket_sort sort key '$other' is not a bucket value")
          col(other)
      }
      if (ord == "asc") c.asc else c.desc
    }
    val from = Option(ms.get("from")).map(_.asInt).getOrElse(0)
    val sz = Option(ms.get("size")).map(_.asInt)
    if (from < 0 || sz.exists(_ <= 0))
      bad("bucket_sort from must be >= 0 and size positive")
    val sorted =
      if (sortKeys.isEmpty) out.orderBy(parentOrder: _*)
      else out.orderBy(sortKeys :+ keyCol.asc: _*)
    val paged = if (from > 0) sorted.offset(from) else sorted
    sz.map(paged.limit).getOrElse(paged)
  }

  /** The pipeline kinds ES allows on a terms parent — reduce-phase
    * post-processing over the returned buckets. The histogram-only
    * pipelines (cumulative_sum/derivative/serial_diff/moving_fn) need
    * a total key order terms buckets don't have; they reject via the
    * metric fold, like ES. */
  private val TermsPipelineKinds =
    Set("bucket_script", "bucket_selector", "bucket_sort")

  /** Apply terms-level pipelines to the top-size bucket table, in
    * request order (so a bucket_selector can reference an earlier
    * bucket_script's column), bucket_sort last. The table is
    * size-bounded (<= 1000 buckets), so this is reduce-phase work. */
  private def applyTermsPipelines(buckets: DataFrame, f: String,
                                  pipes: Seq[(String, String, JsonNode)],
                                  defaultSort: Seq[Column]): DataFrame = {
    var out = buckets
    def pathCol(p: String, kind: String): Column = p match {
      case "_count" => col("doc_count")
      case "_key"   => col(f)
      case name =>
        if (!out.columns.contains(name))
          bad(s"$kind buckets_path '$name' does not reference a " +
            "sibling metric or earlier pipeline")
        col(name)
    }
    pipes.filter(_._2 != "bucket_sort").foreach { case (n, kind, ms) =>
      checkAggKeys(kind, ms)
      kind match {
        case "bucket_script" =>
          out = out.withColumn(n,
            scriptColumn(kind, ms, pathCol).cast("double"))
        case "bucket_selector" =>
          out = out.filter(scriptColumn(kind, ms, pathCol)
            .cast("boolean"))
      }
    }
    pipes.filter(_._2 == "bucket_sort") match {
      case Seq() => out.orderBy(defaultSort: _*)
      case Seq((_, _, ms)) =>
        applyBucketSort(out, ms, col(f), defaultSort)
      case many =>
        bad(s"at most one bucket_sort per parent (got ${many.size})")
    }
  }

  /** gap_policy "skip" is ES's default and matches null-propagating
    * Catalyst arithmetic; "insert_zeros" would CHANGE values, so it
    * rejects by name rather than silently computing the skip answer. */
  private def checkGapPolicy(kind: String, ms: JsonNode): Unit =
    Option(ms.get("gap_policy")).map(_.asText).foreach {
      case "skip" => ()
      case other  => bad(s"unsupported $kind gap_policy '$other' " +
        "(only the default 'skip' is supported)")
    }

  /** bucket_script/bucket_selector: buckets_path is a MAP of script
    * param name -> sibling metric (or _count/_key); the script is the
    * Painless arithmetic subset, compiled to one codegen'd Column. */
  private def scriptColumn(kind: String, ms: JsonNode,
                           pathCol: (String, String) => Column): Column = {
    checkGapPolicy(kind, ms)
    val bp = Option(ms.get("buckets_path")).filter(_.isObject)
      .getOrElse(bad(s"$kind needs a buckets_path OBJECT " +
        "(param name -> metric path)"))
    val params: Map[String, Column] = keysOf(bp).map { p =>
      p -> pathCol(bp.get(p).asText, kind)
    }.toMap
    val script = Option(ms.get("script")).map(_.asText)
      .getOrElse(bad(s"$kind needs \"script\""))
    try BucketScript.compile(script, params)
    catch { case e: BucketScript.ScriptError => bad(e.msg) }
  }

  private def checkAggKeys(kind: String, body: JsonNode): Unit =
    AggKnownKeys.get(kind).foreach { allowed =>
      if (body != null && body.isObject) {
        val unknown = keysOf(body)
          .filterNot(allowed).filterNot(IgnoredAccuracyKnobs)
        if (unknown.nonEmpty)
          bad(s"unsupported $kind key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
      }
    }

  private def aggregations(base: DataFrame, pred: Column, score: Column,
                           aggs: JsonNode, ctx: Ctx): DataFrame = {
    // SIBLING pipeline aggregations (`avg_bucket` / `sum_bucket` /
    // `min_bucket` / `max_bucket`): a second top-level entry whose
    // buckets_path ("bucket_agg>metric" or "bucket_agg>_count")
    // reduces the bucket agg's FINAL bucket table to one value. The
    // flat-relational projection appends that value as a constant
    // column (broadcast single-row cross join) — ES returns buckets
    // and the sibling side by side in one response the same way.
    val entries: Seq[(String, JsonNode)] =
      keysOf(aggs).map(n => n -> aggs.get(n))
    if (entries.isEmpty) bad("empty aggs")
    if (entries.size > 1) {
      // several top-level SCRIPTED_METRIC entries fold to one shared
      // hash-aggregate row (each compiles to one aggregate expression
      // — ES returns the metrics side by side the same way); bucket
      // aggs keep the one-base rule below
      if (entries.forall(e => kindOf(e._2) == "scripted_metric")) {
        val cols = entries.map { case (n, spec) =>
          checkAggKeys("scripted_metric", spec.get("scripted_metric"))
          ScriptedMetric.compile(spec.get("scripted_metric"), n, f => {
            if (!ctx.columns.contains(f)) bad(s"unknown field '$f'")
            col(f)
          })
        }
        return base.filter(pred).agg(cols.head, cols.tail: _*)
      }
      val (siblings, bases) =
        entries.partition(e => SiblingKinds(kindOf(e._2)))
      if (bases.size != 1)
        bad("exactly ONE top-level bucket aggregation is supported " +
          "(plus sibling *_bucket pipelines)")
      val (baseName, baseSpec) = bases.head
      var out = aggregationsOne(base, pred, score, baseName, baseSpec,
        ctx)
      siblings.foreach { case (sn, sSpec) =>
        val kind = kindOf(sSpec)
        val body = sSpec.get(kind)
        checkAggKeys(kind, body)
        val path = Option(body.get("buckets_path")).map(_.asText)
          .getOrElse(bad(s"$kind needs \"buckets_path\""))
        val metric = path.split(">", 2) match {
          case Array(b, m) if b == baseName =>
            if (m == "_count") "doc_count"
            else if (!out.columns.contains(m))
              bad(s"$kind buckets_path metric '$m' is not a bucket value")
            else m
          case _ => bad(s"$kind buckets_path must be " +
            s"'$baseName>metric' (or '$baseName>_count')")
        }
        val c = col(metric)
        val reducers: Seq[Column] = kind match {
          case "avg_bucket" => Seq(avg(c).as(sn))
          case "sum_bucket" => Seq(sum(c).as(sn))
          case "min_bucket" => Seq(min(c).as(sn))
          case "max_bucket" => Seq(max(c).as(sn))
          case "stats_bucket" => Seq(
            count(c).as(s"${sn}_count"), min(c).as(s"${sn}_min"),
            max(c).as(s"${sn}_max"), avg(c).as(s"${sn}_avg"),
            sum(c).as(s"${sn}_sum"))
          case "extended_stats_bucket" => Seq(
            count(c).as(s"${sn}_count"), min(c).as(s"${sn}_min"),
            max(c).as(s"${sn}_max"), avg(c).as(s"${sn}_avg"),
            sum(c).as(s"${sn}_sum"),
            // double products — same wrap guard as extended_stats
            sum(c.cast("double") * c.cast("double"))
              .as(s"${sn}_sum_of_squares"),
            var_pop(c).as(s"${sn}_variance"),
            stddev_pop(c).as(s"${sn}_std_deviation"))
          case "percentiles_bucket" =>
            // EXACT interpolated percentiles over the bucket table —
            // the table is bucket-count-sized, so exactness is free
            val percents = Option(body.get("percents")).map { a =>
              if (!a.isArray || a.size == 0)
                bad("percents must be a non-empty array")
              (0 until a.size).map(a.get(_).asDouble)
            }.getOrElse(Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0))
            percents.map { p =>
              if (p < 0 || p > 100) bad("percents must be in [0, 100]")
              val s = if (p == math.floor(p)) p.toLong.toString
                else p.toString.replace('.', '_')
              expr(s"percentile(`$metric`, ${p / 100.0}d)")
                .as(s"${sn}_p$s")
            }
        }
        out = out.crossJoin(
          broadcast(out.agg(reducers.head, reducers.tail: _*)))
      }
      return out
    }
    aggregationsOne(base, pred, score, entries.head._1,
      entries.head._2, ctx)
  }

  private def aggregationsOne(base: DataFrame, pred: Column,
                              score: Column,
                              name: String, spec: JsonNode,
                              ctx: Ctx): DataFrame = {
    // the query's match set; significance aggs below keep `base` +
    // `pred` so fg/bg ride ONE conditional-count pass
    val df = base.filter(pred)
    val kind = kindOf(spec)
    checkAggKeys(kind, spec.get(kind))
    val DefaultPercents = Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)
    def percentName(p: Double): String = {
      val s = if (p == math.floor(p)) p.toLong.toString
        else p.toString.replace('.', '_')
      s"p$s"
    }
    def metricCols(mKind: String, mSpec: JsonNode,
                   alias: String): Seq[Column] = {
      checkAggKeys(mKind, mSpec)
      metricCols0(mKind, mSpec, alias)
    }
    def metricCols0(mKind: String, mSpec: JsonNode,
                    alias: String): Seq[Column] = mKind match {
      case "weighted_avg" =>
        // Σ(value·weight) / Σ(weight) — exact when value/weight are
        // integral (the oracled tier); ES's null handling: rows with a
        // null value or weight drop out (the product is null)
        val v = Option(mSpec.get("value")).flatMap(n =>
          Option(n.get("field"))).map(_.asText)
          .getOrElse(bad("weighted_avg needs value.field"))
        val w = Option(mSpec.get("weight")).flatMap(n =>
          Option(n.get("field"))).map(_.asText)
          .getOrElse(bad("weighted_avg needs weight.field"))
        Seq((sum(col(v) * col(w)) /
          sum(when(col(v).isNotNull, col(w)))).as(alias))
      case "percentile_ranks" =>
        // EXACT: percent of non-null values <= x (ES's TDigest is
        // approximate); flattened to `<name>_p<value>` like
        // percentiles. The `tdigest` knob is VALIDATED and then
        // answered exactly — unlike percentiles (full sort) or
        // cardinality (distinct hash table), the exact rank is
        // already a constant-memory streaming aggregate (one
        // conditional counter per query value), so the sketch's
        // memory/accuracy trade buys nothing here: honoring it by
        // approximating would spend MORE memory for LESS accuracy.
        // Exact trivially meets the <= 1/accuracy rank-error bound.
        val _ = tdigestAccuracy(mSpec)
        val f = Option(mSpec.get("field")).map(_.asText)
          .getOrElse(bad("percentile_ranks needs \"field\""))
        val vs = Option(mSpec.get("values")).filter(_.isArray)
          .filter(_.size > 0)
          .getOrElse(bad("percentile_ranks needs a non-empty " +
            "\"values\" array"))
        (0 until vs.size).map { i =>
          val x = vs.get(i).asDouble
          ((sum(when(col(f) <= x, 1L).otherwise(0L)) * lit(100.0)) /
            count(col(f))).as(s"${alias}_${percentName(x)}")
        }
      case "top_metrics" =>
        // ES top_metrics, size 1 (the flat projection carries one top
        // row): the metric values of the row ranked first by `sort` —
        // ONE max/min(struct) aggregate riding the enclosing
        // aggregation, no extra pass. Lexicographic struct comparison
        // makes ties break by the metric values themselves
        // (deterministic — ES's tie order is undefined). Rows with a
        // null sort value never win (the whole struct is nulled),
        // like ES.
        val sortNode = Option(mSpec.get("sort"))
          .getOrElse(bad("top_metrics needs \"sort\""))
        val sn =
          if (sortNode.isArray) {
            if (sortNode.size != 1)
              bad("top_metrics supports exactly one sort key")
            sortNode.get(0)
          } else sortNode
        val sit = sn.fieldNames()
        if (!sit.hasNext) bad("empty top_metrics sort")
        val sf = sit.next()
        if (sit.hasNext)
          bad("top_metrics supports exactly one sort key")
        val ord = Option(sn.get(sf)).map { o =>
          if (o.isTextual) o.asText
          else Option(o.get("order")).map(_.asText).getOrElse("asc")
        }.getOrElse("asc")
        if (ord != "asc" && ord != "desc")
          bad(s"unsupported sort order '$ord'")
        val ms0 = Option(mSpec.get("metrics"))
          .getOrElse(bad("top_metrics needs \"metrics\""))
        val mfs = (if (ms0.isArray) (0 until ms0.size).map(ms0.get)
          else Seq(ms0)).map(m => Option(m.get("field")).map(_.asText)
            .getOrElse(bad("top_metrics metrics need \"field\"")))
        if (mfs.isEmpty) bad("top_metrics needs at least one metric")
        if (mfs.distinct.size != mfs.size)
          bad("top_metrics metrics fields must be distinct")
        val sz = Option(mSpec.get("size")).map(_.asInt).getOrElse(1)
        if (sz != 1) bad("top_metrics size must be 1 (the flat " +
          "projection carries one top row per bucket)")
        val st = struct((col(sf).as("_s") +:
          mfs.zipWithIndex.map { case (f, i) => col(f).as(s"_m$i") }): _*)
        val gated = when(col(sf).isNotNull, st)
        val top = if (ord == "desc") max(gated) else min(gated)
        top.getField("_s").as(s"${alias}_sort") +:
          mfs.zipWithIndex.map { case (f, i) =>
            top.getField(s"_m$i").as(s"${alias}_$f") }
      case "geo_bounds" =>
        // ES geo_bounds: the smallest box covering every point.
        // wrap_longitude (default true) picks the NARROWER of the
        // unwrapped envelope and the date-line-crossing one — ES's
        // resolve rule over Lucene's bounded per-sign min/max state.
        // Six conditional aggregates in one pass, no per-point state.
        val f = Option(mSpec.get("field")).map(_.asText)
          .getOrElse(bad("geo_bounds needs \"field\""))
        val wrap = Option(mSpec.get("wrap_longitude"))
          .forall(_.asBoolean)
        // COMPLETE points only (ES never indexes a half geo_point; a
        // row with one null coordinate must not stretch one axis
        // while invisible on the other — the geo_centroid gate)
        val has = col(s"$f.lat").isNotNull && col(s"$f.lon").isNotNull
        val lat = when(has, col(s"$f.lat"))
        val lon = when(has, col(s"$f.lon"))
        val posLeft = min(when(lon >= 0, lon))
        val posRight = max(when(lon >= 0, lon))
        val negLeft = min(when(lon < 0, lon))
        val negRight = max(when(lon < 0, lon))
        val (left, right) =
          if (!wrap) (coalesce(negLeft, posLeft),
            coalesce(posRight, negRight))
          else {
            val unwrappedW = posRight - negLeft
            val wrappedW = (lit(180.0) - posLeft) -
              (lit(-180.0) - negRight)
            (when(posLeft.isNull, negLeft)
               .when(negLeft.isNull, posLeft)
               .when(unwrappedW <= wrappedW, negLeft)
               .otherwise(posLeft),
             when(posLeft.isNull, negRight)
               .when(negLeft.isNull, posRight)
               .when(unwrappedW <= wrappedW, posRight)
               .otherwise(negRight))
          }
        Seq(max(lat).as(s"${alias}_top_left_lat"),
          left.as(s"${alias}_top_left_lon"),
          min(lat).as(s"${alias}_bottom_right_lat"),
          right.as(s"${alias}_bottom_right_lon"))
      case "geo_centroid" =>
        // ES geo_centroid: arithmetic mean of lat/lon over docs
        // carrying a point, plus the contributing count. The means
        // are free-order double sums — rounded to 1e-4 (the
        // string_stats entropy precedent) so the value is
        // reproducible cross-engine and across partitionings.
        val f = Option(mSpec.get("field")).map(_.asText)
          .getOrElse(bad("geo_centroid needs \"field\""))
        val lat = col(s"$f.lat"); val lon = col(s"$f.lon")
        val has = lat.isNotNull && lon.isNotNull
        Seq(Search.round4(avg(when(has, lat))).as(s"${alias}_lat"),
          Search.round4(avg(when(has, lon))).as(s"${alias}_lon"),
          count(when(has, lit(1))).as(s"${alias}_count"))
      case "scripted_metric" =>
        // the canonical sum-fold family compiles to ONE aggregate
        // expression ([[ScriptedMetric]]) — it rides this hash
        // aggregation top-level and under every bucket agg alike
        Seq(ScriptedMetric.compile(mSpec, alias, f => {
          if (!ctx.columns.contains(f)) bad(s"unknown field '$f'")
          col(f)
        }))
      case _ => metricColsSimple(mKind, mSpec, alias)
    }
    def metricColsSimple(mKind: String, mSpec: JsonNode,
                         alias: String): Seq[Column] = {
      val f = Option(mSpec.get("field")).map(_.asText)
        .getOrElse(bad(s"$mKind needs \"field\""))
      val c = col(f)
      mKind match {
        case "avg"         => Seq(avg(c).as(alias))
        case "sum"         => Seq(sum(c).as(alias))
        case "min"         => Seq(min(c).as(alias))
        case "max"         => Seq(max(c).as(alias))
        case "value_count" => Seq(count(c).as(alias))
        case "cardinality" => Seq(cardinalityCol(c, mSpec, alias))
        case "stats" => Seq(
          count(c).as(s"${alias}_count"), min(c).as(s"${alias}_min"),
          max(c).as(s"${alias}_max"), avg(c).as(s"${alias}_avg"),
          sum(c).as(s"${alias}_sum"))
        case "extended_stats" => Seq(
          count(c).as(s"${alias}_count"), min(c).as(s"${alias}_min"),
          max(c).as(s"${alias}_max"), avg(c).as(s"${alias}_avg"),
          sum(c).as(s"${alias}_sum"),
          // double products: a long² sum wraps silently at real scale
          // (ES computes this in double too)
          sum(c.cast("double") * c.cast("double"))
            .as(s"${alias}_sum_of_squares"),
          var_pop(c).as(s"${alias}_variance"),
          stddev_pop(c).as(s"${alias}_std_deviation"))
        case "percentiles" =>
          val percents = Option(mSpec.get("percents")).map { a =>
            if (!a.isArray || a.size == 0)
              bad("percents must be a non-empty array")
            (0 until a.size).map(a.get(_).asDouble)
          }.getOrElse(DefaultPercents)
          percents.foreach(p =>
            if (p < 0 || p > 100) bad("percents must be in [0, 100]"))
          percentileCols(f, mSpec,
            percents.map(p => p -> s"${alias}_${percentName(p)}"))
        case other => bad(s"unsupported metric agg '$other'")
      }
    }
    // conditional form for single-pass range/filters buckets: every
    // bucket's metrics ride ONE aggregation via when(cond, col)
    def metricColsCond(cond: Column, mKind: String, mSpec: JsonNode,
                       alias: String): Seq[Column] = {
      checkAggKeys(mKind, mSpec)
      val f = Option(mSpec.get("field")).map(_.asText)
        .getOrElse(bad(s"$mKind needs \"field\""))
      val c = when(cond, col(f))
      mKind match {
        case "avg"         => Seq(avg(c).as(alias))
        case "sum"         => Seq(sum(c).as(alias))
        case "min"         => Seq(min(c).as(alias))
        case "max"         => Seq(max(c).as(alias))
        case "value_count" => Seq(count(c).as(alias))
        case "cardinality" => Seq(cardinalityCol(c, mSpec, alias))
        case other => bad(s"metric '$other' is not supported inside " +
          "range/filters buckets")
      }
    }
    def subEntries(parent: JsonNode): Seq[(String, String, JsonNode)] =
      Option(parent.get("aggs"))
        .orElse(Option(parent.get("aggregations"))).toSeq
        .flatMap(s => keysOf(s).map { n =>
          val (mk, ms) = unwrap(s.get(n)); (n, mk, ms) })
    def metricSubs(parent: JsonNode): Seq[Column] =
      subEntries(parent).flatMap { case (n, mk, ms) =>
        metricCols(mk, ms, n) }
    // ES PARENT pipeline aggregations — post-processing over the
    // bucket table of a histogram-family agg (ES restricts
    // cumulative_sum/derivative to histogram parents, whose buckets
    // have a total key order). Value pipelines apply in request order
    // (so a buckets_path may reference an earlier pipeline's output);
    // bucket_sort applies LAST over the full bucket set, like ES.
    // The window is unpartitioned by construction — the bucket table
    // is interval-bounded (ES caps buckets at search.max_buckets),
    // not data-sized, so single-partition ordering is the honest
    // shape even at 100 TB of underlying rows.
    val PipelineKinds =
      Set("cumulative_sum", "cumulative_cardinality", "derivative",
        "bucket_sort", "moving_fn", "moving_percentiles",
        "serial_diff", "normalize", "bucket_script", "bucket_selector")
    // `rate` is excluded here because the date_histogram parent owns
    // it (its divisor needs the bucket key); any OTHER parent must
    // reject it loudly, never drop it
    def metricSubsNonPipeline(parent: JsonNode,
                              allowRate: Boolean = false): Seq[Column] = {
      if (!allowRate && subEntries(parent).exists(_._2 == "rate"))
        bad("rate is only supported inside date_histogram")
      subEntries(parent).filterNot(e =>
          PipelineKinds(e._2) || e._2 == "rate")
        .flatMap { case (n, mk, ms) => metricCols(mk, ms, n) }
    }
    // raw match-set rows + the bucket-key expression over them —
    // cumulative_cardinality's exact path needs BOTH (each distinct
    // value counts once, at its FIRST bucket; a sum of per-bucket
    // cardinalities would double-count values spanning buckets)
    def applyPipelines(buckets: DataFrame, parent: JsonNode,
                       cumCtx: Option[(DataFrame, Column)] = None)
        : DataFrame = {
      val pipes = subEntries(parent).filter(e => PipelineKinds(e._2))
      if (pipes.isEmpty) return buckets.orderBy(col("key").asc)
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("key").asc)
      var out = buckets
      def pathCol(p: String, kind: String): Column = p match {
        case "_count" => col("doc_count")
        case "_key"   => col("key")
        case name =>
          if (!out.columns.contains(name))
            bad(s"$kind buckets_path '$name' does not reference a " +
              "sibling metric or earlier pipeline")
          col(name)
      }
      def scriptCol(kind: String, ms: JsonNode): Column =
        scriptColumn(kind, ms, pathCol)
      pipes.filter(_._2 != "bucket_sort").foreach { case (n, kind, ms) =>
        checkAggKeys(kind, ms)
        def path = Option(ms.get("buckets_path")).map(_.asText)
          .getOrElse(bad(s"$kind needs \"buckets_path\""))
        kind match {
          case "cumulative_sum" =>
            out = out.withColumn(n, sum(pathCol(path, kind)).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          case "cumulative_cardinality" =>
            // ES cumulative_cardinality (buckets_path names a sibling
            // `cardinality` agg): distinct values seen up to and
            // including each bucket. ES merges per-bucket HLL
            // sketches; the exact relational form: each distinct
            // value counts ONCE, at its FIRST bucket — one hash agg
            // on the value, one bucket-sized count, a bucket-table
            // join, and a running sum. Two extra hash aggs, no
            // second corpus pass beyond them, exact where ES is
            // approximate (documented deviation, like `cardinality`).
            val (rawDf, keyExpr) = cumCtx.getOrElse(
              bad("cumulative_cardinality is only supported on " +
                "histogram-family parents"))
            val card = subEntries(parent).find(_._1 == path)
              .getOrElse(bad("cumulative_cardinality buckets_path " +
                s"'$path' does not reference a sibling aggregation"))
            if (card._2 != "cardinality")
              bad("cumulative_cardinality buckets_path must reference " +
                s"a cardinality aggregation ('$path' is a ${card._2})")
            val cf = Option(card._3.get("field")).map(_.asText)
              .getOrElse(bad("cardinality needs \"field\""))
            if (Option(parent.get(kindOf(parent)))
                .flatMap(h => Option(h.get("min_doc_count")))
                .exists(_.asInt > 1))
              bad("cumulative_cardinality with min_doc_count > 1 is " +
                "not supported (dropped buckets would shift first-" +
                "seen credit)")
            val newc = s"__new_$n"
            // first-seen credit goes to the value's first SURVIVING
            // bucket: an earlier pipeline (bucket_selector) may have
            // dropped buckets, and ES's reduce merges only the
            // remaining buckets' HLL sketches — a value first seen in
            // a dropped bucket surfaces at its next surviving one,
            // not never. The semi-join target is bucket-count-sized
            // (broadcast); with nothing dropped it is the identity.
            val kc = s"__cck_$n"
            val surviving = broadcast(
              out.select(col("key").as(kc)).distinct())
            val firsts = rawDf.filter(col(cf).isNotNull)
              .select(col(cf).as("__v"), keyExpr.as(kc))
              .join(surviving, Seq(kc), "leftsemi")
              .groupBy(col("__v"))
              .agg(min(col(kc)).as("key"))
              .groupBy(col("key")).agg(count(lit(1)).as(newc))
            out = out.join(firsts, Seq("key"), "left")
              .withColumn(n,
                sum(coalesce(col(newc), lit(0L))).over(w.rowsBetween(
                  Window.unboundedPreceding, Window.currentRow)))
              .drop(newc)
          case "derivative" =>
            // first bucket: null (ES omits the derivative there — null
            // is the flat-relational projection of an absent key)
            out = out.withColumn(n,
              pathCol(path, kind) - lag(pathCol(path, kind), 1).over(w))
          case "serial_diff" =>
            // ES serial differencing: x_t - x_{t-lag}; the first `lag`
            // buckets have no prior value — null, the flat projection
            // of ES's omitted key (gap_policy skip)
            checkGapPolicy(kind, ms)
            val lagN = Option(ms.get("lag")).map(_.asInt).getOrElse(1)
            if (lagN <= 0) bad("serial_diff lag must be positive")
            out = out.withColumn(n,
              pathCol(path, kind) - lag(pathCol(path, kind), lagN).over(w))
          case "normalize" =>
            // ES normalize pipeline: rescale each bucket's value by a
            // whole-bucket-table statistic. The window spans ALL
            // buckets (the table is bucket-count-sized, never
            // data-sized, so the single-partition frame is honest).
            val method = Option(ms.get("method")).map(_.asText)
              .getOrElse(bad("normalize needs \"method\""))
            import org.apache.spark.sql.expressions.Window
            val all = Window.orderBy(col("key").asc).rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)
            val x = pathCol(path, kind).cast("double")
            val normed = method match {
              case "percent_of_sum" => x / sum(x).over(all)
              case "rescale_0_1" =>
                (x - min(x).over(all)) /
                  (max(x).over(all) - min(x).over(all))
              case "rescale_0_100" =>
                (x - min(x).over(all)) /
                  (max(x).over(all) - min(x).over(all)) * 100
              case "mean" =>
                // ES: (value - mean) / (max - min)
                (x - avg(x).over(all)) /
                  (max(x).over(all) - min(x).over(all))
              case "z-score" =>
                (x - avg(x).over(all)) / stddev_pop(x).over(all)
              case "softmax" =>
                org.apache.spark.sql.functions.exp(x) /
                  sum(org.apache.spark.sql.functions.exp(x)).over(all)
              case other => bad(s"unsupported normalize method " +
                s"'$other' (rescale_0_1, rescale_0_100, " +
                "percent_of_sum, mean, z-score, softmax)")
            }
            out = out.withColumn(n, normed)
          case "bucket_script" =>
            // ES always reports bucket_script values as doubles
            out = out.withColumn(n, scriptCol(kind, ms).cast("double"))
          case "bucket_selector" =>
            // filters the bucket TABLE (drops buckets, adds no column);
            // applied at its request-order position, like ES's reduce
            out = out.filter(scriptCol(kind, ms).cast("boolean"))
          case "moving_percentiles" =>
            // ES moving_percentiles (buckets_path names a sibling
            // `percentiles` agg): percentiles over a sliding window
            // of buckets. ES merges the window buckets' TDigest
            // sketches; the exact relational form recomputes over the
            // window's RAW values — per-bucket value arrays built in
            // one hash agg, a window collect + flatten + sort, then
            // the SAME linear interpolation the sibling percentiles
            // metric uses (exact where ES is approximate, the
            // documented `percentiles` deviation). A sibling carrying
            // the `tdigest` knob is ACCEPTED (ES's approximation
            // rides the sibling — moving_percentiles itself has no
            // tdigest key): the sibling's own columns go approximate,
            // while the moving recompute stays the exact tier —
            // exact subsumes the merged-sketch accuracy, spec-pinned.
            // Unlike moving_fn,
            // ES's window here INCLUDES the current bucket: shift
            // defaults to 1, so the frame is the trailing `window`
            // buckets ending at the current one.
            val (rawDf, keyExpr) = cumCtx.getOrElse(
              bad("moving_percentiles is only supported on " +
                "histogram-family parents"))
            val sib = subEntries(parent).find(_._1 == path)
              .getOrElse(bad("moving_percentiles buckets_path " +
                s"'$path' does not reference a sibling aggregation"))
            if (sib._2 != "percentiles")
              bad("moving_percentiles buckets_path must reference a " +
                s"percentiles aggregation ('$path' is a ${sib._2})")
            val mf = Option(sib._3.get("field")).map(_.asText)
              .getOrElse(bad("percentiles needs \"field\""))
            val percents = Option(sib._3.get("percents")).map { a =>
              if (!a.isArray || a.size == 0)
                bad("percents must be a non-empty array")
              (0 until a.size).map(a.get(_).asDouble)
            }.getOrElse(DefaultPercents)
            val win = Option(ms.get("window")).map { v =>
              if (!v.isNumber) bad("moving_percentiles window must " +
                "be numeric")
              v.asInt
            }.getOrElse(bad("moving_percentiles needs \"window\""))
            if (win <= 0) bad("moving_percentiles window must be " +
              "positive")
            val shift = Option(ms.get("shift")).map { v =>
              if (!v.isNumber) bad("moving_percentiles shift must " +
                "be numeric")
              v.asInt
            }.getOrElse(1)
            val valsCol = s"__mp_$n"
            val perBucket = rawDf.filter(col(mf).isNotNull)
              .groupBy(keyExpr.as("key"))
              .agg(collect_list(col(mf).cast("double")).as(valsCol))
            // collect_list over the frame skips null entries, so
            // gap-filled empty buckets contribute nothing — exactly
            // ES's merge of an empty sketch
            val frame = w.rowsBetween(-win.toLong + shift, -1L + shift)
            val sortedW = s"__mpw_$n"
            out = out.join(perBucket, Seq("key"), "left")
              .withColumn(sortedW, sort_array(flatten(
                collect_list(col(valsCol)).over(frame))))
              .drop(valsCol)
            val nSz = size(col(sortedW))
            percents.foreach { p =>
              if (p < 0 || p > 100) bad("percents must be in [0, 100]")
              // position = p·(n−1) on the sorted values, linear
              // interpolation between the straddling elements — the
              // formula Spark's `percentile` (and the DuckDB oracle's
              // quantile_cont) computes
              val rank = lit(p / 100.0) * (nSz - 1).cast("double")
              val lo = floor(rank).cast("int")
              val loV = element_at(col(sortedW), lo + 1)
              val hiV = element_at(col(sortedW),
                ceil(rank).cast("int") + 1)
              val v = loV + (hiV - loV) * (rank - lo.cast("double"))
              out = out.withColumn(s"${n}_${percentName(p)}",
                when(nSz > 0, v))
            }
            out = out.drop(sortedW)
          case "moving_fn" =>
            // ES moving_fn with the builtin MovingFunctions scripts —
            // a sliding window over the PRECEDING `window` buckets
            // (shift 0 excludes the current bucket; +1 per shift moves
            // the window right, ES's convention). A window with no
            // buckets yields null — the flat projection of ES's
            // NaN/absent value. Script-bearing custom functions are
            // rejected; the four builtins map to window aggregates.
            val win = Option(ms.get("window")).map(_.asInt)
              .getOrElse(bad("moving_fn needs \"window\""))
            if (win <= 0) bad("moving_fn window must be positive")
            val shift = Option(ms.get("shift")).map(_.asInt).getOrElse(0)
            val script = Option(ms.get("script")).map(_.asText)
              .getOrElse(bad("moving_fn needs \"script\""))
            val fn: Column => Column =
              script.replaceAll("\\s+", "") match {
                case "MovingFunctions.unweightedAvg(values)" => avg
                case "MovingFunctions.sum(values)"           => sum
                case "MovingFunctions.max(values)"           => max
                case "MovingFunctions.min(values)"           => min
                case other => bad("unsupported moving_fn script " +
                  s"'$other'; the builtins unweightedAvg/sum/max/min " +
                  "over `values` are supported")
              }
            val frame = w.rowsBetween(-win.toLong + shift,
              -1L + shift)
            out = out.withColumn(n, fn(pathCol(path, kind)).over(frame))
        }
      }
      pipes.filter(_._2 == "bucket_sort") match {
        case Seq() => out.orderBy(col("key").asc)
        case Seq((_, _, ms)) =>
          applyBucketSort(out, ms, col("key"), Seq(col("key").asc))
        case many =>
          bad(s"at most one bucket_sort per parent (got ${many.size})")
      }
    }
    // ONE-PASS bucket table for request-enumerated buckets (range /
    // filters): conditional aggregates for every bucket in one
    // aggregation, then one explode reshapes the single row into
    // buckets IN REQUEST ORDER — ES returns every enumerated bucket,
    // empty ones included (doc_count 0), unlike terms
    // ONE from/to ranges grammar for the enumerated-bucket family
    // (range, geo_distance, and — via numeric bounds — ip_range):
    // bounds validated by TYPE (a coerced string would silently
    // bucket as 0.0), unknown per-range keys rejected by name,
    // default keys in ES's "from-to" format with * for an open end.
    def numericRanges(h: JsonNode, kind: String)
        : Seq[(String, Option[Double], Option[Double])] = {
      val rangesNode = Option(h.get("ranges")).filter(_.isArray)
        .filter(_.size > 0)
        .getOrElse(bad(s"$kind agg needs a non-empty \"ranges\" " +
          "array"))
      (0 until rangesNode.size).map { i =>
        val r = rangesNode.get(i)
        val unknown = keysOf(r).filterNot(Set("from", "to", "key"))
        if (unknown.nonEmpty)
          bad(s"unsupported $kind range key" +
            s"${if (unknown.size == 1) "" else "s"}: " +
            unknown.mkString(", "))
        def num(k: String) = Option(r.get(k)).map { n =>
          if (!n.isNumber) bad(s"$kind range \"$k\" must be numeric")
          n.asDouble
        }
        val from = num("from"); val to = num("to")
        if (from.isEmpty && to.isEmpty)
          bad("each range needs \"from\" and/or \"to\"")
        val key = Option(r.get("key")).map(_.asText).getOrElse(
          s"${from.map(_.toString).getOrElse("*")}-" +
            s"${to.map(_.toString).getOrElse("*")}")
        (key, from, to)
      }
    }
    // from inclusive / to exclusive over a bucketed value expression
    def boundConds(v: Column,
        ranges: Seq[(String, Option[Double], Option[Double])])
        : Seq[Column] =
      ranges.map { case (_, from, to) =>
        Seq(Some(v.isNotNull), from.map(v >= _), to.map(v < _))
          .flatten.reduce(_ && _)
      }
    def enumeratedBuckets(keys: Seq[String], conds: Seq[Column],
                          parent: JsonNode): DataFrame = {
      val subs = subEntries(parent)
      val aggCols = conds.zipWithIndex.flatMap { case (cond, i) =>
        count(when(cond, lit(1))).as(s"_c$i") +:
          subs.flatMap { case (n, mk, ms) =>
            metricColsCond(cond, mk, ms, s"_m${i}_$n") }
      }
      val agged = df.agg(aggCols.head, aggCols.tail: _*)
      val structs = keys.zipWithIndex.map { case (k, i) =>
        struct((lit(k).as("key") +: col(s"_c$i").as("doc_count") +:
          subs.map { case (n, _, _) => col(s"_m${i}_$n").as(n) }): _*)
      }
      agged.select(explode(array(structs: _*)).as("_b")).select("_b.*")
    }
    kind match {
      case "terms" =>
        val t = spec.get("terms")
        val f = Option(t.get("field")).map(_.asText)
          .getOrElse(bad("terms agg needs \"field\""))
        val size = Option(t.get("size")).map(_.asInt).getOrElse(10)
        if (size <= 0 || size > 1000) bad("terms size must be 1..1000")
        val subAggs = Option(spec.get("aggs"))
          .orElse(Option(spec.get("aggregations")))
        val nested = subAggs.toSeq.flatMap(s =>
          keysOf(s).filter(n => s.get(n).hasNonNull("terms"))
            .map(n => n -> s.get(n)))
        // ES terms buckets SKIP documents missing the field unless the
        // `missing` parameter maps nulls to a stand-in key;
        // `min_doc_count` prunes buckets below the floor (0 — ES's
        // show-the-whole-dictionary mode — is not representable from
        // one aggregation and rejects); `order` overrides the default
        // (_count desc) by _key, _count, or a single-column sub-metric
        // name, always with the _key asc tiebreak ES applies
        // include/exclude: ES's bucket-key filters — a FULL-MATCH
        // regex string or an exact-value array, applied to the key
        // before the top-N cut
        def keyGate(node: JsonNode, neg: Boolean): Column = {
          val m =
            if (node.isTextual)
              col(f).cast("string").rlike("^(?:" + node.asText + ")$")
            else if (node.isArray && node.size > 0)
              col(f).isInCollection((0 until node.size).map { i =>
                val v = node.get(i)
                if (v.isTextual) v.asText
                else if (v.isIntegralNumber) v.asLong
                else if (v.isNumber) v.asDouble
                else bad(s"unsupported include/exclude literal $v")
              })
            else bad("include/exclude must be a regex string or a " +
              "non-empty value array")
          if (neg) !m else m
        }
        val includeGate = Option(t.get("include")).map(keyGate(_, false))
        val excludeGate = Option(t.get("exclude")).map(keyGate(_, true))
        val missing = Option(t.get("missing")).map(litOf)
        val minDocCount = Option(t.get("min_doc_count")).map(_.asInt)
        minDocCount.foreach(n => if (n < 1)
          bad("min_doc_count must be >= 1 (0 needs the term " +
            "dictionary, which one aggregation cannot enumerate)"))
        val orderSpec: Option[(String, Boolean)] =
          Option(t.get("order")).map { o =>
            val (k, v) = unwrap(o)
            v.asText match {
              case "asc"  => (k, true)
              case "desc" => (k, false)
              case other  => bad(s"unsupported order direction '$other'")
            }
          }
        val topHits = subAggs.toSeq.flatMap(s =>
          keysOf(s).filter(n => s.get(n).hasNonNull("top_hits"))
            .map(n => s.get(n).get("top_hits")))
        if (topHits.nonEmpty) {
          // top_hits sub-agg: per-bucket top DOCUMENTS, flat-relational
          // — one row per hit: (key, doc_count, hit_rank, hit columns).
          // Plan: the top-size parent buckets broadcast-gate the corpus
          // rows, then one per-bucket WindowGroupLimit picks each
          // bucket's hits — the 100 TB "top docs per category" shape,
          // no global sort of the corpus.
          if (topHits.size > 1 || subEntries(spec).size > 1)
            bad("top_hits must be the only sub-agg of its terms bucket")
          if (missing.isDefined || minDocCount.isDefined ||
              orderSpec.isDefined || includeGate.isDefined ||
              excludeGate.isDefined)
            bad("missing/min_doc_count/order/include/exclude are not " +
              "supported with a top_hits sub-agg")
          val th = topHits.head
          checkAggKeys("top_hits", th)
          val hitsSize = Option(th.get("size")).map(_.asInt).getOrElse(3)
          if (hitsSize <= 0 || hitsSize > 100)
            bad("top_hits size must be 1..100")
          val sortNode = Option(th.get("sort")).filter(_.isArray)
            .getOrElse(bad("top_hits needs an explicit \"sort\" array " +
              "(_score is not defined inside aggregations)"))
          val sorts = (0 until sortNode.size).map { i =>
            val (sf, ord) = sortEntryOf(sortNode.get(i), "top_hits")
            // no _score column exists in agg frames
            if (sf == "_score") bad("top_hits cannot sort by _score")
            sortKey(sf, ord)
          }
          val realCols = df.columns.filterNot(c =>
            c == IdColMarker || c == SidCol || c == "__knn_score" ||
              c.startsWith("__bm25_") || c.startsWith("__phb_"))
          val srcCols: Seq[String] = Option(th.get("_source"))
            .filter(_.isArray).map { a =>
              val cols = (0 until a.size).map(a.get(_).asText)
              val miss = cols.filterNot(realCols.contains)
              if (miss.nonEmpty)
                bad(s"unknown _source fields: ${miss.mkString(", ")}")
              cols
            }.getOrElse(realCols.toSeq)
          val parents = df.filter(col(f).isNotNull)
            .groupBy(col(f))
            .agg(count(lit(1)).as("doc_count"))
            .orderBy(col("doc_count").desc, col(f).asc)
            .limit(size)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(f))
            .orderBy(sorts :+ col(realCols.head).asc: _*)
          return df.filter(col(f).isNotNull)
            .join(broadcast(parents), Seq(f))
            .withColumn("hit_rank", row_number().over(w))
            .filter(col("hit_rank") <= hitsSize)
            .select((col(f) +: col("doc_count") +: col("hit_rank") +:
              srcCols.filterNot(_ == f).map(col)): _*)
            .orderBy(col("doc_count").desc, col(f).asc,
              col("hit_rank").asc)
        }
        nested match {
          case Nil =>
            // terms-level pipelines (ES's reduce-phase post-processing
            // over the RETURNED buckets — bucket_script computes,
            // bucket_selector is the HAVING filter, bucket_sort
            // re-orders/pages; they apply AFTER the top-size cut, like
            // ES). Histogram-only pipelines (cumulative_sum and
            // friends need a total key order) reject via metricCols.
            val termsPipes = subEntries(spec)
              .filter(e => TermsPipelineKinds(e._2))
            val keyCol = missing
              .map(m => coalesce(col(f), m)).getOrElse(col(f))
            val base = (if (missing.isDefined) df
              else df.filter(col(f).isNotNull))
              .groupBy(keyCol.as(f))
              .agg(count(lit(1)).as("doc_count"),
                subEntries(spec).filterNot(e => TermsPipelineKinds(e._2))
                  .flatMap { case (n, mk, ms) => metricCols(mk, ms, n) }: _*)
            val gated = (includeGate.toSeq ++ excludeGate.toSeq)
              .foldLeft(base)(_ filter _)
            val pruned = minDocCount
              .map(n => gated.filter(col("doc_count") >= n))
              .getOrElse(gated)
            val sortKeys: Seq[Column] = orderSpec match {
              case None => Seq(col("doc_count").desc, col(f).asc)
              case Some((k, asc)) =>
                val c = k match {
                  case "_count" => col("doc_count")
                  case "_key"   => col(f)
                  case metricName =>
                    if (!subEntries(spec).exists { case (n, mk, _) =>
                        n == metricName && !Set("stats",
                          "extended_stats", "percentiles",
                          "percentile_ranks").contains(mk) &&
                          !TermsPipelineKinds(mk) })
                      bad(s"order target '$metricName' is not a " +
                        "single-valued sub-metric of this terms agg")
                    col(metricName)
                }
                Seq(if (asc) c.asc else c.desc, col(f).asc)
            }
            val cut = pruned.orderBy(sortKeys: _*).limit(size)
            if (termsPipes.isEmpty) cut
            else applyTermsPipelines(cut, f, termsPipes, sortKeys)
          case Seq((_, childSpec)) =>
            if (missing.isDefined || minDocCount.isDefined ||
                orderSpec.isDefined || includeGate.isDefined ||
                excludeGate.isDefined)
              bad("missing/min_doc_count/order/include/exclude are " +
                "not supported on a terms agg that nests another " +
                "terms agg")
            // NESTED terms buckets, flat-relational: parent buckets =
            // ES's top-size by doc_count; per parent, the top-size2
            // child buckets. Plan shape: one (f1) agg broadcast-semi-
            // gates the (f1, f2) agg, then a per-parent WindowGroupLimit
            // — no global sort of child buckets, no second corpus scan
            // beyond the two aggregations.
            val totalChildren = subAggs.map(keysOf(_).size).getOrElse(0)
            if (totalChildren > 1)
              bad("metrics beside a nested terms agg are not " +
                "representable in the flat bucket table — put them on " +
                "the child terms agg")
            val ct = childSpec.get("terms")
            val f2 = Option(ct.get("field")).map(_.asText)
              .getOrElse(bad("nested terms agg needs \"field\""))
            val size2 = Option(ct.get("size")).map(_.asInt).getOrElse(10)
            if (size2 <= 0 || size2 > 1000)
              bad("nested terms size must be 1..1000")
            val parents = df.filter(col(f).isNotNull)
              .groupBy(col(f))
              .agg(count(lit(1)).as("parent_doc_count"))
              .orderBy(col("parent_doc_count").desc, col(f).asc)
              .limit(size)
            val children = df
              .filter(col(f).isNotNull && col(f2).isNotNull)
              .groupBy(col(f), col(f2))
              .agg(count(lit(1)).as("doc_count"), metricSubs(childSpec): _*)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(f))
              .orderBy(col("doc_count").desc, col(f2).asc)
            children.join(broadcast(parents), Seq(f))
              .withColumn("_rn", row_number().over(w))
              .filter(col("_rn") <= size2).drop("_rn")
              .orderBy(col("parent_doc_count").desc, col(f).asc,
                col("doc_count").desc, col(f2).asc)
          case many =>
            bad(s"at most one nested terms agg (got ${many.size})")
        }
      case "composite" =>
        // ES composite agg — the SCALE path for full bucket
        // enumeration: buckets are ordered by their source values
        // (not doc_count), a page of `size` at a time, and `after`
        // resumes STRICTLY AFTER the given key so a client can walk
        // every bucket of a 100 TB corpus in bounded pages. Sources:
        // `terms` (asc/desc) and `histogram`. The whole page is one
        // hash aggregation + one lexicographic filter + TakeOrdered —
        // no global materialization of the bucket space.
        val h = spec.get("composite")
        val size = Option(h.get("size")).map(_.asInt).getOrElse(10)
        if (size <= 0 || size > 1000) bad("composite size must be 1..1000")
        val sourcesNode = Option(h.get("sources")).filter(_.isArray)
          .filter(_.size > 0)
          .getOrElse(bad("composite needs a non-empty \"sources\" array"))
        // (alias, key expression, ascending?)
        val sources: Seq[(String, Column, Boolean)] =
          (0 until sourcesNode.size).map { i =>
            val (sName, sSpec) = unwrap(sourcesNode.get(i))
            val (sKind, sBody) = unwrap(sSpec)
            val f = Option(sBody.get("field")).map(_.asText)
              .getOrElse(bad(s"composite source '$sName' needs \"field\""))
            val asc = Option(sBody.get("order")).map(_.asText)
              .getOrElse("asc") match {
              case "asc"  => true
              case "desc" => false
              case o      => bad(s"unsupported source order '$o'")
            }
            val keyExpr = sKind match {
              case "terms" => col(f)
              case "histogram" =>
                val iv = Option(sBody.get("interval")).map(_.asDouble)
                  .getOrElse(bad("histogram source needs \"interval\""))
                if (iv <= 0) bad("histogram interval must be positive")
                floor(col(f) / iv) * iv
              case "date_histogram" =>
                // epoch-millis bucket start, the same floor arithmetic
                // as the top-level date_histogram — the time-series
                // export pagination source
                val ivMs = fixedIntervalMs(
                  Option(sBody.get("fixed_interval")).map(_.asText)
                    .getOrElse(bad("date_histogram source needs " +
                      "\"fixed_interval\"")))
                val msE = s"unix_millis(cast(`$f` as timestamp))"
                expr(s"$msE - pmod($msE, ${ivMs}L)")
              case other =>
                bad(s"unsupported composite source '$other'")
            }
            (sName, keyExpr, asc)
          }
        val notNull = sources.map(_._2.isNotNull).reduce(_ && _)
        val grouped = df.filter(notNull)
          .groupBy(sources.map { case (n, e, _) => e.as(n) }: _*)
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
        // `after`: strictly-greater lexicographic resume, honoring each
        // source's direction
        val paged = Option(h.get("after")).map { a =>
          val afterVals = sources.map { case (n, _, _) =>
            Option(a.get(n)).getOrElse(
              bad(s"after is missing source key '$n'")) }
          val cmp = sources.zip(afterVals).map {
            case ((n, _, asc), v) =>
              val c = col(n); val l = litOf(v)
              (if (asc) c > l else c < l, c === l)
          }
          // (k1 after a1) or (k1 = a1 and k2 after a2) or ...
          val pred = cmp.indices.map { i =>
            (cmp.take(i).map(_._2) :+ cmp(i)._1).reduce(_ && _)
          }.reduce(_ || _)
          grouped.filter(pred)
        }.getOrElse(grouped)
        paged.orderBy(sources.map { case (n, _, asc) =>
          if (asc) col(n).asc else col(n).desc }: _*).limit(size)

      case "date_range" =>
        // ES date_range agg: like `range` but over a timestamp column
        // with ISO-8601 bounds (from inclusive, to exclusive). Default
        // bucket keys echo the given bound strings ("from-to", `*` for
        // an open end — ES formats resolved dates; echoing the
        // caller's own bounds is the deterministic flat-relational
        // choice); a bucket's "key" overrides. Same single-pass
        // conditional shape as `range`.
        val h = spec.get("date_range")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("date_range agg needs \"field\""))
        val rangesNode = Option(h.get("ranges")).filter(_.isArray)
          .filter(_.size > 0)
          .getOrElse(bad("date_range agg needs a non-empty " +
            "\"ranges\" array"))
        val fc = col(f).cast("timestamp")
        // bounds are validated HERE, with SPARK'S OWN cast grammar
        // (DateTimeUtils — the same parser to_timestamp uses at run
        // time, so validation and evaluation cannot disagree):
        // to_timestamp would evaluate an unparseable bound to null
        // (condition silently false) — the contract is a 400 naming
        // the defect, never a wrong bucket
        def checkBound(v: String): String = {
          val ok = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String.fromString(v),
              java.time.ZoneOffset.UTC).isDefined
          if (!ok) bad(s"malformed date_range bound '$v'")
          v
        }
        val ranges = (0 until rangesNode.size).map { i =>
          val r = rangesNode.get(i)
          val from = Option(r.get("from")).map(_.asText).map(checkBound)
          val to = Option(r.get("to")).map(_.asText).map(checkBound)
          if (from.isEmpty && to.isEmpty)
            bad("each date range needs \"from\" and/or \"to\"")
          val key = Option(r.get("key")).map(_.asText).getOrElse(
            s"${from.getOrElse("*")}-${to.getOrElse("*")}")
          val cond = Seq(Some(fc.isNotNull),
            from.map(v => fc >= to_timestamp(lit(v))),
            to.map(v => fc < to_timestamp(lit(v)))).flatten
            .reduce(_ && _)
          (key, cond)
        }
        enumeratedBuckets(ranges.map(_._1), ranges.map(_._2), spec)

      case "missing" =>
        // ES missing agg: the bucket of documents LACKING the field,
        // with metric sub-aggs over just those docs — one conditional
        // pass, like range/filters
        val h = spec.get("missing")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("missing agg needs \"field\""))
        enumeratedBuckets(Seq(name), Seq(col(f).isNull), spec)

      case "range" =>
        // ES range agg: request-enumerated numeric buckets, `from`
        // inclusive / `to` exclusive, EVERY range returned in request
        // order (empty ones at doc_count 0 — unlike terms); default
        // keys use ES's "from-to" double format with `*` for an open
        // end; a bucket's own "key" overrides.
        val h = spec.get("range")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("range agg needs \"field\""))
        val ranges = numericRanges(h, "range")
        enumeratedBuckets(ranges.map(_._1), boundConds(col(f), ranges),
          spec)

      case "filters" =>
        // ES filters agg: NAMED buckets, one per filter clause
        // (filter context — scores ignored), returned in request
        // order, empty buckets included. Any supported query clause
        // can define a bucket.
        val h = spec.get("filters")
        val fs = Option(h.get("filters")).filter(_.isObject)
          .getOrElse(bad("filters agg needs a \"filters\" object"))
        val names = keysOf(fs)
        if (names.isEmpty) bad("filters agg needs at least one filter")
        val conds = ctx.inFilter { names.map(n =>
          coalesce(clause(fs.get(n), ctx).pred, lit(false))) }
        // other_bucket: ES's catch-all — docs matching NO named
        // filter land in one more bucket (key "_other_" or
        // other_bucket_key), riding the same single conditional pass
        val otherKey = Option(h.get("other_bucket_key")).map(_.asText)
        val withOther = otherKey.isDefined ||
          Option(h.get("other_bucket")).exists(_.asBoolean)
        if (otherKey.isDefined &&
            Option(h.get("other_bucket")).exists(!_.asBoolean))
          bad("other_bucket_key with other_bucket false is " +
            "contradictory")
        if (withOther) {
          val ok = otherKey.getOrElse("_other_")
          if (names.contains(ok))
            bad(s"other bucket key '$ok' collides with a named filter")
          enumeratedBuckets(names :+ ok,
            conds :+ !conds.reduce(_ || _), spec)
        } else enumeratedBuckets(names, conds, spec)

      case "date_histogram" =>
        // ES date_histogram over a timestamp column; bucket `key` is
        // the interval start as EPOCH MILLIS — exactly the number ES
        // puts in its bucket "key". `fixed_interval` buckets by FLOOR
        // division (ms - pmod keeps it exact long arithmetic and lands
        // pre-1970 timestamps in the right bucket — `div` truncates
        // toward zero); `calendar_interval` buckets by date_trunc under
        // the session's pinned UTC zone.
        val h = spec.get("date_histogram")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("date_histogram agg needs \"field\""))
        val fixed = Option(h.get("fixed_interval")).map(_.asText)
        val calendar = Option(h.get("calendar_interval")).map(_.asText)
        if (fixed.isEmpty && calendar.isEmpty)
          bad("date_histogram agg needs \"fixed_interval\" or " +
            "\"calendar_interval\"")
        if (fixed.nonEmpty && calendar.nonEmpty)
          bad("date_histogram: fixed_interval and calendar_interval " +
            "are mutually exclusive")
        // "time_zone": calendar buckets truncate in the ZONE-LOCAL
        // frame, keys stay the bucket-start INSTANT's epoch millis —
        // exactly ES's zone-aware bucketing. Fixed intervals ignore
        // time zones in ES except for offset alignment (not modeled —
        // reject rather than silently bucket on UTC), and gap filling
        // under a zone would need zone-aware key sequences (reject).
        val timeZone = Option(h.get("time_zone")).map(_.asText)
        timeZone.foreach { tz =>
          if (fixed.nonEmpty)
            bad("time_zone with fixed_interval is not supported; use " +
              "a calendar_interval")
          if (Option(h.get("min_doc_count")).exists(_.asInt == 0))
            bad("time_zone with min_doc_count 0 gap filling is not " +
              "supported")
          if (scala.util.Try(java.time.ZoneId.of(tz)).isFailure)
            bad(s"malformed time_zone '$tz'")
        }
        val ms = s"unix_millis(cast(`$f` as timestamp))"
        // "offset": shifts every bucket boundary by a signed fixed
        // duration ("+3h" / "-30m") — keys land on offset + k·interval,
        // ES's day-boundary-shifting knob. Exact long arithmetic
        // (pmod handles the negative side); calendar intervals reject
        // (ES's calendar offset shifts zone-local boundaries this
        // engine's date_trunc bucketing cannot mimic).
        val offsetMs: Long = Option(h.get("offset")).map(_.asText)
          .map { o =>
            if (calendar.nonEmpty)
              bad("offset with calendar_interval is not supported")
            val (sign, mag) =
              if (o.startsWith("-")) (-1L, o.substring(1))
              else if (o.startsWith("+")) (1L, o.substring(1))
              else (1L, o)
            sign * fixedIntervalMs(mag)
          }.getOrElse(0L)
        // ES calendar units (singular names + the 1x shorthands;
        // JSON is case-sensitive: 1m = minute, 1M = month)
        val calUnit: Option[String] = calendar.map {
          case "minute" | "1m"  => "minute"
          case "hour" | "1h"    => "hour"
          case "day" | "1d"     => "day"
          case "week" | "1w"    => "week"
          case "month" | "1M"   => "month"
          case "quarter" | "1q" => "quarter"
          case "year" | "1y"    => "year"
          case other =>
            bad(s"unsupported calendar_interval '$other'")
        }
        // (bucket key column, key-sequence generator for min_doc_count
        // 0 gap filling — lo/hi epoch-millis bounds → every aligned
        // bucket key in [lo, hi])
        val (bucket, keySeq): (Column, (Column, Column) => Column) =
          fixed match {
            case Some(ivSpec) =>
              val intervalMs = fixedIntervalMs(ivSpec)
              (expr(s"$ms - pmod($ms - (${offsetMs}L), ${intervalMs}L)"),
               (lo0: Column, hi0: Column) => {
                 // align extended bounds down to bucket starts (on the
                 // offset grid), then ES's search.max_buckets guard:
                 // gap filling must not materialize an unbounded range
                 val lo = lo0 - pmod(lo0 - offsetMs, lit(intervalMs))
                 val hi = hi0 - pmod(hi0 - offsetMs, lit(intervalMs))
                 when((hi - lo) / intervalMs > 65536,
                   raise_error(lit("too many date_histogram buckets " +
                     "(search.max_buckets 65536)")).cast("array<long>"))
                 .otherwise(sequence(lo, hi, lit(intervalMs)))
               })
            case None =>
              val unit = calUnit.get
              val step = unit match {
                case "week"    => "interval 7 day"
                case "quarter" => "interval 3 month"
                case u         => s"interval 1 $u"
              }
              // smallest possible step in ms — the max_buckets guard
              val stepMsFloor = unit match {
                case "minute"  => 60000L
                case "hour"    => 3600000L
                case "day"     => 86400000L
                case "week"    => 604800000L
                case "month"   => 2419200000L // 28 days
                case "quarter" => 3L * 2419200000L
                case "year"    => 12L * 2419200000L
              }
              (timeZone match {
                 case Some(tz) =>
                   // local-frame truncation, instant-epoch key:
                   // to_local → trunc → back_to_utc → millis
                   expr(s"unix_millis(to_utc_timestamp(date_trunc(" +
                     s"'$unit', from_utc_timestamp(" +
                     s"cast(`$f` as timestamp), '$tz')), '$tz'))")
                 case None =>
                   expr(s"unix_millis(date_trunc('$unit', " +
                     s"cast(`$f` as timestamp)))")
               },
               (lo: Column, hi: Column) => {
                 val s0 = when((hi - lo) / stepMsFloor > 65536,
                   raise_error(lit("too many date_histogram buckets " +
                     "(search.max_buckets 65536)"))
                     .cast("array<timestamp>"))
                 .otherwise(sequence(
                   date_trunc(unit, timestamp_millis(lo)),
                   date_trunc(unit, timestamp_millis(hi)),
                   expr(step)))
                 transform(s0, x => unix_millis(x))
               })
          }
        // ES `rate` (date_histogram-only sub-agg): the per-bucket sum
        // (field + mode sum), value count (mode value_count), or
        // doc_count (no field), rescaled to a per-`unit` rate by the
        // bucket's ACTUAL duration — a January month bucket with
        // unit=day divides by 31, exactly ES's example arithmetic.
        // The sum rides the one bucket aggregation; the rescale is a
        // key-derived projection — no extra pass.
        val rateSpecs: Seq[(String, JsonNode)] =
          subEntries(spec).filter(_._2 == "rate")
            .map { case (n, _, ms) => (n, ms) }
        val rateAggCols: Seq[Column] = rateSpecs.flatMap { case (n, ms) =>
          checkAggKeys("rate", ms)
          val mode = Option(ms.get("mode")).map(_.asText).getOrElse("sum")
          if (mode != "sum" && mode != "value_count")
            bad(s"unsupported rate mode '$mode' (sum/value_count)")
          // ES rejects a mode with no field (there is nothing to
          // value-count or sum); silently falling back to the
          // doc_count rate would answer a different question
          if (ms.hasNonNull("mode") && !ms.hasNonNull("field"))
            bad(s"rate mode '$mode' needs \"field\"")
          Option(ms.get("field")).map(_.asText).map { f0 =>
            (if (mode == "sum") sum(col(f0)) else count(col(f0)))
              .as(s"__rate_$n")
          }.toSeq
        }
        if (rateSpecs.nonEmpty && timeZone.nonEmpty)
          bad("rate with time_zone is not supported (zone-local " +
            "bucket durations vary under DST)")
        // bucket duration in ms as a function of the key column —
        // constant for fixed intervals and sub-month calendar units,
        // key-dependent (actual calendar length) for month and up
        lazy val bucketLenMs: Column => Column = fixed match {
          case Some(ivSpec) =>
            val ivMs = fixedIntervalMs(ivSpec); _ => lit(ivMs)
          case None => calUnit.get match {
            case "minute" => _ => lit(60000L)
            case "hour"   => _ => lit(3600000L)
            case "day"    => _ => lit(86400000L)
            case "week"   => _ => lit(604800000L)
            case u =>
              val months = u match {
                case "month" => 1
                case "quarter" => 3
                case _ => 12
              }
              k => unix_millis(timestamp_millis(k) +
                expr(s"interval $months month")) - k
          }
        }
        val withRates: DataFrame => DataFrame = bt0 =>
          rateSpecs.foldLeft(bt0) { case (bt, (n, ms)) =>
            val base =
              if (ms.hasNonNull("field"))
                coalesce(col(s"__rate_$n"), lit(0L)).cast("double")
              else col("doc_count").cast("double")
            val v = Option(ms.get("unit")).map(_.asText) match {
              case None => base // default unit = the bucket interval
              case Some(us) =>
                val uMs = us match {
                  case "second" => 1000L
                  case "minute" => 60000L
                  case "hour"   => 3600000L
                  case "day"    => 86400000L
                  case "week"   => 604800000L
                  case other =>
                    // month/quarter/year have no fixed millis — only
                    // the identity rescale (unit == parent interval)
                    // is well-defined
                    if (calUnit.contains(other)) -1L
                    else bad(s"unsupported rate unit '$other' " +
                      "(second/minute/hour/day/week, or the " +
                      "parent's own calendar unit)")
                }
                // ES rejects a rate unit LARGER than the histogram
                // interval (a per-week rate of daily buckets would be
                // a ×7 extrapolation ES never produces) — compare
                // against the parent's interval millis; month-and-up
                // calendar parents use their minimum length, which is
                // already above every fixed unit here
                val parentMs: Long = fixed match {
                  case Some(ivSpec) => fixedIntervalMs(ivSpec)
                  case None => calUnit.get match {
                    case "minute" => 60000L
                    case "hour"   => 3600000L
                    case "day"    => 86400000L
                    case "week"   => 604800000L
                    case _        => 28L * 86400000L // month and up
                  }
                }
                if (uMs > parentMs)
                  bad(s"rate unit '$us' is larger than the " +
                    "date_histogram interval — ES rejects rate units " +
                    "above the bucket interval")
                if (uMs < 0) base
                else base * lit(uMs.toDouble) /
                  bucketLenMs(col("key")).cast("double")
            }
            bt.withColumn(n, v).drop(s"__rate_$n")
          }
        applyPipelines(
          withRates(gapFill(
            df.filter(col(f).isNotNull)
              .groupBy(bucket.as("key"))
              .agg(count(lit(1)).as("doc_count"),
                metricSubsNonPipeline(spec, allowRate = true)
                  ++ rateAggCols: _*),
            h, keySeq)), spec,
          Some((df.filter(col(f).isNotNull), bucket)))

      case "histogram" =>
        // fixed-interval buckets keyed by their lower bound (ES
        // semantics: floor(value/interval)·interval), ordered by key —
        // empty buckets omitted at the min_doc_count=1 default,
        // gap-filled under min_doc_count 0 (+ extended_bounds)
        val h = spec.get("histogram")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("histogram agg needs \"field\""))
        val interval = Option(h.get("interval")).map(_.asDouble)
          .getOrElse(bad("histogram agg needs \"interval\""))
        if (interval <= 0) bad("histogram interval must be positive")
        // "offset": shifts bucket boundaries — key = floor((x − o)/iv)
        // · iv + o, ES's histogram offset knob. Jackson's asDouble
        // coerces garbage to 0.0 — a silently dropped knob; validate
        // the node type first
        val off = Option(h.get("offset")).map { n =>
          if (!n.isNumber) bad("histogram offset must be numeric")
          n.asDouble
        }.getOrElse(0.0)
        val keySeq = (lo00: Column, hi00: Column) => {
          val lo0 = lo00 - off
          val hi0 = hi00 - off
          // the bounds reaching here are BUCKET KEYS (idx·interval —
          // data keys by construction, extended bounds pre-aligned
          // through the same group-key expression below), so the
          // index is recovered by ROUNDING the quotient: re-flooring
          // key/interval can land one below the true index for
          // fractional intervals (floor((idx·iv)/iv) != idx when the
          // product rounded down), silently dropping the top bucket
          val loIdx = round(lo0 / interval).cast("long")
          val hiIdx = round(hi0 / interval).cast("long")
          val s0 = when(hiIdx - loIdx > 65536,
            raise_error(lit("too many histogram buckets " +
              "(search.max_buckets 65536)")).cast("array<bigint>"))
            .otherwise(sequence(loIdx, hiIdx))
          transform(s0, i => i.cast("double") * interval + off)
        }
        val hkey = floor((col(f) - off) / interval) * interval + off
        applyPipelines(
          gapFill(
            df.filter(col(f).isNotNull)
              .groupBy(hkey.as("key"))
              .agg(count(lit(1)).as("doc_count"),
                metricSubsNonPipeline(spec): _*),
            h, keySeq,
            // extended bounds are raw VALUES — align them to bucket
            // keys with the exact group-key expression
            align = v => floor((v - off) / interval) * interval + off),
          spec, Some((df.filter(col(f).isNotNull), hkey)))
      case "multi_terms" =>
        // ES multi_terms: terms buckets over a COMPOSITE key — one
        // hash aggregation on all key fields, top-size by doc_count
        // (key fields ascending as the tiebreak, ES's order). The key
        // parts stay separate columns — the flat projection of ES's
        // key array.
        val t = spec.get("multi_terms")
        val termsNode = Option(t.get("terms")).filter(_.isArray)
          .filter(_.size >= 2)
          .getOrElse(bad("multi_terms needs a \"terms\" array of at " +
            "least two fields"))
        val fs = (0 until termsNode.size).map { i =>
          Option(termsNode.get(i).get("field")).map(_.asText)
            .getOrElse(bad("each multi_terms source needs \"field\""))
        }
        val size0 = Option(t.get("size")).map(_.asInt).getOrElse(10)
        if (size0 <= 0 || size0 > 1000)
          bad("multi_terms size must be 1..1000")
        df.filter(fs.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(fs.map(col): _*)
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
          .orderBy(col("doc_count").desc +: fs.map(col(_).asc): _*)
          .limit(size0)

      case "adjacency_matrix" =>
        // ES adjacency_matrix: for named filters a, b, c… a bucket
        // per filter and per pairwise intersection ("a&b", keys in
        // name order), empty buckets omitted. ONE pass: every bucket
        // is a conditional count in a single aggregation, reshaped by
        // one explode — no per-bucket scans. Filters are
        // filter-context (scored clauses rejected like the filter
        // agg).
        val t = spec.get("adjacency_matrix")
        val fNode = Option(t.get("filters")).filter(_.isObject)
          .getOrElse(bad("adjacency_matrix needs a \"filters\" object"))
        val names0 = keysOf(fNode)
        if (names0.isEmpty)
          bad("adjacency_matrix needs at least one filter")
        if (names0.exists(_.contains("&")))
          bad("adjacency_matrix filter names cannot contain '&'")
        // adjacency filters are filter context — scoring clauses
        // compile to their row-level predicate only
        val preds = ctx.inFilter { names0.map(n =>
          n -> coalesce(clause(fNode.get(n), ctx).pred, lit(false))) }
        val sorted0 = preds.sortBy(_._1)
        val cells: Seq[(String, Column)] =
          sorted0.map { case (n, p) => n -> p } ++
          (for {
            i <- sorted0.indices
            j <- (i + 1) until sorted0.size
          } yield s"${sorted0(i)._1}&${sorted0(j)._1}" ->
            (sorted0(i)._2 && sorted0(j)._2))
        val aggCols = cells.zipWithIndex.map { case ((_, p), i) =>
          count(when(p, lit(1))).as(s"_c$i") }
        val structs = cells.zipWithIndex.map { case ((n, _), i) =>
          struct(lit(n).as("key"), col(s"_c$i").as("doc_count")) }
        df.agg(aggCols.head, aggCols.tail: _*)
          .select(explode(array(structs: _*)).as("_b")).select("_b.*")
          .filter(col("doc_count") > 0)
          .orderBy(col("key").asc)

      case "nested" =>
        // ES nested AGGREGATION: bucket over the ELEMENTS of an
        // array-of-struct column — doc_count counts nested docs
        // (elements), ES's convention. One explode + one hash agg;
        // supports a single child `terms` agg over `path.field`. The
        // child terms may carry `reverse_nested` sub-aggregations —
        // ES's join-back-to-parent: each bucket also reports how many
        // PARENT documents contributed elements, computed as a
        // distinct count of the parent id riding the SAME aggregation
        // (no second pass, no join back).
        val nspec = spec.get("nested")
        val path = Option(nspec.get("path")).map(_.asText)
          .getOrElse(bad("nested agg needs \"path\""))
        val nFields = ctx.nestedFields(path).getOrElse(
          bad(s"nested path '$path' is not an array-of-struct column"))
        val childAggs = Option(spec.get("aggs"))
          .orElse(Option(spec.get("aggregations")))
          .getOrElse(bad("nested agg supports exactly one child " +
            "terms agg"))
        val childNames = keysOf(childAggs)
        if (childNames.size != 1)
          bad("nested agg supports exactly one child terms agg")
        val cnode = childAggs.get(childNames.head)
        if (kindOf(cnode) != "terms")
          bad("nested agg supports exactly one child terms agg")
        val cs = cnode.get("terms")
        // only the implemented child-terms knobs — a silently-dropped
        // order/missing/include would change ES's answer
        val unknownChild = keysOf(cs).filterNot(Set("field", "size"))
        if (unknownChild.nonEmpty)
          bad("unsupported nested child terms key" +
            s"${if (unknownChild.size == 1) "" else "s"}: " +
            unknownChild.mkString(", "))
        val f = Option(cs.get("field")).map(_.asText)
          .getOrElse(bad("terms agg needs \"field\""))
        if (!f.startsWith(path + "."))
          bad(s"nested terms field '$f' must be under path '$path'")
        val sub0 = f.substring(path.length + 1)
        if (!nFields.contains(sub0)) bad(s"unknown nested field '$f'")
        val size1 = Option(cs.get("size")).map(_.asInt).getOrElse(10)
        if (size1 <= 0 || size1 > 1000) bad("terms size must be 1..1000")
        // grandchildren: reverse_nested only (each an EMPTY body —
        // ES's climb-to-an-intermediate-path form has no meaning on
        // one nesting level)
        val revCols = Option(cnode.get("aggs"))
          .orElse(Option(cnode.get("aggregations"))).toSeq
          .flatMap(a => keysOf(a).map(n => n -> a.get(n)))
          .map { case (rn, rspec) =>
            if (kindOf(rspec) != "reverse_nested")
              bad("nested child terms sub-aggregations support only " +
                "reverse_nested")
            if (keysOf(rspec).exists(k => k == "aggs" ||
                k == "aggregations"))
              bad("reverse_nested sub-aggregations are not supported")
            if (rspec.get("reverse_nested").fieldNames().hasNext)
              bad("reverse_nested takes an empty body")
            countDistinct(col(SidCol)).as(s"${rn}_doc_count")
          }
        df.select(col(SidCol), explode(col(path)).as("__el"))
          .groupBy(col(s"__el.$sub0").as("key"))
          .agg(count(lit(1)).as("doc_count"), revCols: _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size1)

      case "significant_terms" =>
        // ES significant_terms: terms over-represented in the query's
        // match set (foreground) vs the whole index (background),
        // scored by JLH — (fg% − bg%) · (fg% / bg%) — ES's default
        // heuristic. Two hash aggregations (term-cardinality-sized)
        // joined on the term, totals as broadcast single-row
        // aggregates; only positively-significant terms return, score
        // desc. Exact, not sketched — deterministic and oracle-able.
        val t = spec.get("significant_terms")
        val f = Option(t.get("field")).map(_.asText)
          .getOrElse(bad("significant_terms agg needs \"field\""))
        val size0 = Option(t.get("size")).map(_.asInt).getOrElse(10)
        if (size0 <= 0 || size0 > 1000)
          bad("significant_terms size must be 1..1000")
        // background_filter: ES's narrowed-context knob — the
        // background set becomes the docs matching the filter (fg
        // stays the query's match set); filter context, riding the
        // SAME conditional pass
        val bgPred: Option[Column] = Option(t.get("background_filter"))
          .map(bf => coalesce(ctx.inFilter { clause(bf, ctx) }.pred,
            lit(false)))
        // ONE pass: the whole corpus grouped by term with the match
        // predicate as a conditional count — fg and bg from the same
        // scan (the previous fg-frame/bg-frame join was four scans)
        val counts = base.filter(col(f).isNotNull)
          .groupBy(col(f).as("key"))
          .agg(count(when(pred, lit(1))).as("doc_count"),
            bgPred.map(p => count(when(p, lit(1))))
              .getOrElse(count(lit(1))).as("bg_count"))
          .filter(col("doc_count") > 0)
        jlhSignificance(counts, base, pred, size0, bgPred)

      case "significant_text" =>
        // ES significant_text: the free-text variant — TOKENS of an
        // analyzed field over-represented in the match set vs the
        // whole corpus, doc-frequency semantics (each doc contributes
        // each distinct token once — array_distinct before the
        // explode, so no per-doc id bookkeeping is needed). Exact
        // (ES samples shards); same JLH tail as significant_terms.
        val t = spec.get("significant_text")
        val f = Option(t.get("field")).map(_.asText)
          .getOrElse(bad("significant_text agg needs \"field\""))
        val size0 = Option(t.get("size")).map(_.asInt).getOrElse(10)
        if (size0 <= 0 || size0 > 1000)
          bad("significant_text size must be 1..1000")
        // one corpus pass: every doc's distinct tokens exploded with
        // the match predicate riding along as a flag
        val counts = base.filter(col(f).isNotNull)
          .select(pred.as("__fg"), explode(array_distinct(
            graft.functions.TextFunctions.analyzerTokens(col(f)))).as("key"))
          .groupBy(col("key"))
          .agg(count(when(col("__fg"), lit(1))).as("doc_count"),
            count(lit(1)).as("bg_count"))
          .filter(col("doc_count") > 0)
        jlhSignificance(counts, base, pred, size0)

      case "filter" =>
        // the SINGLE-filter bucket (ES `filter`, not `filters`): one
        // row — the sub-set's doc_count and metric sub-aggs. Filter
        // context: a scoring clause compiles to its row-level
        // predicate only (no score join to resolve)
        val c = ctx.inFilter { clause(spec.get("filter"), ctx) }
        val cols = metricSubs(spec)
        df.filter(c.pred).agg(count(lit(1)).as("doc_count"), cols: _*)

      case "global" =>
        // ES global: escape the query context — metrics over the WHOLE
        // index regardless of the request's query
        if (spec.get("global").fieldNames().hasNext)
          bad("global agg takes an empty body")
        val cols = metricSubs(spec)
        ctx.raw.agg(count(lit(1)).as("doc_count"), cols: _*)

      case "children" =>
        // ES children agg: switch the aggregation context to the
        // CHILD documents of the query's matching parents — a
        // left-semi join of the child frame against the matched
        // parent ids (no fan-out, no cartesian), then doc_count +
        // metric sub-aggs over the child rows.
        val ch = spec.get("children")
        val tpe = Option(ch.get("type")).map(_.asText)
          .getOrElse(bad("children agg needs \"type\""))
        val (childDf, fk) = ctx.childRelation(tpe)
        val pids = df.select(col(SidCol).cast("string").as("__pid"))
          .distinct()
        val kids = childDf.join(pids,
          col(fk).cast("string") === col("__pid"), "left_semi")
        kids.agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)

      case "parent" =>
        // ES parent agg: the reverse switch — the PARENT documents of
        // the query's matching children (distinct: many children, one
        // parent), doc_count + metrics over the parent rows.
        val pa = spec.get("parent")
        val tpe = Option(pa.get("type")).map(_.asText)
          .getOrElse(bad("parent agg needs \"type\""))
        val (parentDf, fkSelf) = ctx.parentRelation(tpe)
        val cids = df.select(col(fkSelf).cast("string").as("__cid"))
          .distinct()
        val pid = col(parentDf.columns.head)
        val parents = parentDf.join(cids,
          pid.cast("string") === col("__cid"), "left_semi")
        parents.agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)

      case "sampler" | "diversified_sampler" =>
        // ES sampler: restrict sub-aggregation processing to the
        // TOP-SCORING shard_size docs of the match set. ONE logical
        // shard here, so the sample is the global top shard_size by
        // (_score desc, id asc) — a single TakeOrdered, DETERMINISTIC
        // where ES's per-shard cut depends on shard topology (the id
        // tiebreak is this engine's usual pagination guarantee). The
        // score is the TOP-LEVEL query's score expression, resolvable
        // here because the score-join frames ride `base` — no new
        // scoring registration happens inside the agg.
        // diversified_sampler first caps docs per distinct `field`
        // value (max_docs_per_value, default 1) with one ranked
        // window — ES's de-biasing knob.
        val sp = spec.get(kind)
        val shardSize = Option(sp.get("shard_size")).map { n =>
          if (!n.isIntegralNumber) bad("shard_size must be an integer")
          n.asInt
        }.getOrElse(100)
        if (shardSize < 1 || shardSize > MaxResultWindow)
          bad(s"shard_size must be 1..$MaxResultWindow")
        val ord = Seq(score.desc, col(SidCol).asc)
        val pool =
          if (kind == "sampler") df
          else {
            val f = Option(sp.get("field")).map(_.asText)
              .getOrElse(bad("diversified_sampler needs \"field\""))
            if (!df.columns.contains(f))
              bad(s"unknown diversified_sampler field '$f'")
            val maxPer = Option(sp.get("max_docs_per_value")).map { n =>
              if (!n.isIntegralNumber)
                bad("max_docs_per_value must be an integer")
              n.asInt
            }.getOrElse(1)
            if (maxPer < 1 || maxPer > 100)
              bad("max_docs_per_value must be 1..100")
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(col(f)).orderBy(ord: _*)
            df.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") <= maxPer).drop("__rn")
          }
        val sample = pool.orderBy(ord: _*).limit(shardSize)
        // sub-aggregations: ONE child bucket agg recurses with
        // base = the ORIGINAL frame flagged by sample membership (a
        // shard_size-bounded broadcast semi-join) and pred = the
        // flag. Plain bucket kinds see base.filter(pred) == the
        // sample; significance kinds keep the WHOLE index as their
        // background corpus against the sample foreground — ES's
        // sampler>significant_terms semantics (recursing over the
        // bare sample frame made fg == bg, so every JLH score was 0
        // and the flagship sampler pairing silently returned empty).
        // Metric-only children ride one .agg over the sample frame
        // alongside its doc_count; whole-frame single aggs (boxplot,
        // matrix_stats, ...) compose as the single bucket child but
        // cannot MIX with metric children — that combination rejects
        // by name instead of surfacing a misleading metric error.
        val childAggs = Option(spec.get("aggs"))
          .orElse(Option(spec.get("aggregations")))
        childAggs.filter(a => keysOf(a).size > 1).foreach { a =>
          keysOf(a).map(n => kindOf(a.get(n)))
            .filterNot(MetricKinds).foreach(k =>
              bad(s"$k must be the sampler's only child aggregation"))
        }
        val bucketChild = childAggs
          .filter(a => keysOf(a).size == 1 &&
            !MetricKinds(kindOf(a.get(keysOf(a).head))))
          .map(a => keysOf(a).head -> a.get(keysOf(a).head))
        bucketChild match {
          case Some((n0, cspec)) =>
            // unique flag name so sampler-in-sampler nesting cannot
            // collide on the membership column
            val fl = s"__smp_${SamplerDepth.getAndIncrement()}"
            val flagged = base.join(
              broadcast(sample.select(col(SidCol))
                .withColumn(fl, lit(true))),
              Seq(SidCol), "left")
            aggregationsOne(flagged,
              coalesce(col(fl), lit(false)), score, n0, cspec, ctx)
          case None =>
            sample.agg(count(lit(1)).as("doc_count"),
              metricSubs(spec): _*)
        }

      case "geo_distance" =>
        // ES geo_distance AGG: enumerated range buckets over the
        // haversine distance from a fixed origin — the `range` agg's
        // single-pass conditional shape with the distance expression
        // as the bucketed value (computed once per row, zero joins).
        // `unit` scales the REQUEST's bounds (data stays in meters);
        // distance_type accepts only the default arc, like the query.
        val h = spec.get("geo_distance")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("geo_distance agg needs \"field\""))
        val (oLat, oLon) = geoPoint(Option(h.get("origin"))
          .getOrElse(bad("geo_distance agg needs \"origin\"")),
          "geo_distance")
        Option(h.get("distance_type")).map(_.asText).foreach {
          case "arc" => ()
          case other => bad(s"unsupported distance_type '$other' " +
            "(only the default 'arc')")
        }
        val unitM = Option(h.get("unit")).map(_.asText).map {
          case "m" => 1.0
          case "km" => 1000.0
          case "mi" => 1609.344
          case other => bad(s"unsupported geo_distance unit '$other' " +
            "(m/km/mi)")
        }.getOrElse(1.0)
        val ranges = numericRanges(h, "geo_distance")
        val dist = haversineMeters(col(s"$f.lat"), col(s"$f.lon"),
          oLat, oLon) / lit(unitM)
        enumeratedBuckets(ranges.map(_._1), boundConds(dist, ranges),
          spec)

      case "geotile_grid" =>
        // ES geotile_grid: web-mercator map tiles, bucket key "z/x/y"
        // at zoom `precision` — the slippy-map formulas as pure
        // column arithmetic (ONE hash agg, no geo library), lat
        // clamped to the mercator domain exactly like ES.
        val h = spec.get("geotile_grid")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("geotile_grid agg needs \"field\""))
        val z = Option(h.get("precision")).map { n =>
          if (!n.isIntegralNumber) bad("precision must be an integer")
          n.asInt
        }.getOrElse(7)
        if (z < 0 || z > 29) bad("geotile_grid precision must be 0..29")
        val size1 = Option(h.get("size")).map { n =>
          if (!n.isIntegralNumber) bad("size must be an integer")
          n.asInt
        }.getOrElse(10000)
        if (size1 < 1 || size1 > 100000)
          bad("geotile_grid size must be 1..100000")
        val n = math.pow(2, z) // exact: 2^z <= 2^29 in a double
        val MaxLat = 85.0511287798066 // atan(sinh(π)) — mercator edge
        val lon = col(s"$f.lon")
        val lat = greatest(least(col(s"$f.lat"), lit(MaxLat)),
          lit(-MaxLat))
        val xt = least(floor(lon.plus(lit(180.0)).divide(lit(360.0))
          .multiply(lit(n))), lit(n - 1)).cast("long")
        val latR = radians(lat)
        val yt = least(floor(
          lit(1.0).minus(log(tan(latR).plus(lit(1.0).divide(cos(latR))))
            .divide(lit(math.Pi)))
            .divide(lit(2.0)).multiply(lit(n))), lit(n - 1))
          .cast("long")
        val key = concat_ws("/", lit(z.toString), xt, yt)
        df.filter(lon.isNotNull && col(s"$f.lat").isNotNull)
          .groupBy(key.as("key"))
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size1)

      case "geohash_grid" =>
        // ES geohash_grid: base32 geohash cells at `precision` 1..12.
        // The hash is computed FROM SCRATCH as column bit arithmetic —
        // quantize lon/lat to ceil(5p/2)/floor(5p/2) bits, interleave
        // (even bits longitude, Niemeyer's layout), then map 5-bit
        // groups onto the base32 alphabet. 5p <= 60 bits rides one
        // long; the whole key is codegen'd scalar arithmetic, one
        // hash agg.
        val h = spec.get("geohash_grid")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("geohash_grid agg needs \"field\""))
        val p = Option(h.get("precision")).map { n =>
          if (!n.isIntegralNumber) bad("precision must be an integer")
          n.asInt
        }.getOrElse(5)
        if (p < 1 || p > 12) bad("geohash_grid precision must be 1..12")
        val size1 = Option(h.get("size")).map { n =>
          if (!n.isIntegralNumber) bad("size must be an integer")
          n.asInt
        }.getOrElse(10000)
        if (size1 < 1 || size1 > 100000)
          bad("geohash_grid size must be 1..100000")
        val key = geohashColumn(col(s"$f.lat"), col(s"$f.lon"), p)
        df.filter(col(s"$f.lat").isNotNull && col(s"$f.lon").isNotNull)
          .groupBy(key.as("key"))
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
          .orderBy(col("doc_count").desc, col("key").asc)
          .limit(size1)

      case "ip_range" =>
        // ES ip_range: enumerated buckets over IPv4 addresses compared
        // NUMERICALLY — from inclusive, to exclusive, plus the CIDR
        // "mask" form. Dotted quads become one long via split + octet
        // arithmetic (codegen'd, null on malformed rows — an
        // unparseable address matches no bucket); the range agg's
        // single conditional pass serves every bucket.
        val h = spec.get("ip_range")
        val f = Option(h.get("field")).map(_.asText)
          .getOrElse(bad("ip_range agg needs \"field\""))
        val rangesNode = Option(h.get("ranges")).filter(_.isArray)
          .filter(_.size > 0)
          .getOrElse(bad("ip_range agg needs a non-empty \"ranges\" " +
            "array"))
        val ranges = (0 until rangesNode.size).map { i =>
          val r = rangesNode.get(i)
          val unknown = keysOf(r).filterNot(Set("from", "to", "key",
            "mask"))
          if (unknown.nonEmpty)
            bad(s"unsupported ip_range range key" +
              s"${if (unknown.size == 1) "" else "s"}: " +
              unknown.mkString(", "))
          Option(r.get("mask")).map(_.asText) match {
            case Some(mask) =>
              if (r.hasNonNull("from") || r.hasNonNull("to"))
                bad("an ip_range range takes \"mask\" or " +
                  "\"from\"/\"to\", not both")
              val (net, bits) = mask.split("/", 2) match {
                case Array(ip, b) =>
                  (ipv4Long(ip).getOrElse(
                    bad(s"malformed ip in mask '$mask'")),
                    try b.toInt catch { case _: NumberFormatException =>
                      bad(s"malformed prefix in mask '$mask'") })
                case _ => bad(s"malformed mask '$mask' (ip/prefix)")
              }
              if (bits < 0 || bits > 32)
                bad(s"mask prefix must be 0..32 in '$mask'")
              val span = 1L << (32 - bits)
              val lo = net - (net % span) // align to the block
              val key = Option(r.get("key")).map(_.asText)
                .getOrElse(mask)
              (key, Some(lo), Some(lo + span))
            case None =>
              val from = Option(r.get("from")).map(_.asText)
                .map(ip => ipv4Long(ip).getOrElse(
                  bad(s"malformed ip '$ip'")))
              val to = Option(r.get("to")).map(_.asText)
                .map(ip => ipv4Long(ip).getOrElse(
                  bad(s"malformed ip '$ip'")))
              if (from.isEmpty && to.isEmpty)
                bad("each ip_range range needs \"from\", \"to\", or " +
                  "\"mask\"")
              val key = Option(r.get("key")).map(_.asText).getOrElse(
                s"${Option(r.get("from")).map(_.asText).getOrElse("*")}-" +
                  s"${Option(r.get("to")).map(_.asText).getOrElse("*")}")
              (key, from, to)
          }
        }
        val ipc = ipv4LongColumn(col(f))
        // u32 values sit far below 2^53 — the shared double-bound
        // conds are exact
        enumeratedBuckets(ranges.map(_._1),
          boundConds(ipc, ranges.map { case (k, from, to) =>
            (k, from.map(_.toDouble), to.map(_.toDouble)) }), spec)

      case "rare_terms" =>
        // ES rare_terms: the LONG TAIL — buckets whose doc_count is at
        // most max_doc_count, ordered count-ascending then key (ES's
        // rare-first order). ES bounds the set with an approximate
        // CuckooFilter; one exact hash aggregation + a post-filter is
        // both exact and scale-safe (the agg is dictionary-sized, the
        // filter prunes before any ordering).
        val rt = spec.get("rare_terms")
        val f = Option(rt.get("field")).map(_.asText)
          .getOrElse(bad("rare_terms agg needs \"field\""))
        val maxDc = Option(rt.get("max_doc_count")).map(_.asInt)
          .getOrElse(1)
        // ES bounds max_doc_count at 100
        if (maxDc < 1 || maxDc > 100)
          bad("rare_terms max_doc_count must be 1..100")
        df.filter(col(f).isNotNull)
          .groupBy(col(f))
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
          .filter(col("doc_count") <= maxDc)
          .orderBy(col("doc_count").asc, col(f).asc)

      case "auto_date_histogram" =>
        // ES auto_date_histogram: the engine, not the caller, picks
        // the interval — the smallest rounding from a fixed ladder
        // that fits the data's span into the `buckets` target. The
        // span probe is ONE single-row min/max aggregate (bounded
        // driver state, the broadcast-single-row precedent); bucketing
        // is then the ordinary fixed-interval date_histogram shape.
        // This engine's ladder is the FIXED-interval prefix of ES's
        // rounding table (1s..7d); a span that overflows even 7-day
        // buckets rejects by name (use date_histogram with
        // calendar_interval) rather than silently re-bucketing by
        // months, whose calendar keys a fixed ladder cannot mimic.
        val ah = spec.get("auto_date_histogram")
        val f = Option(ah.get("field")).map(_.asText)
          .getOrElse(bad("auto_date_histogram agg needs \"field\""))
        val target = Option(ah.get("buckets")).map(_.asInt).getOrElse(10)
        if (target < 1 || target > 65536)
          bad("auto_date_histogram buckets must be 1..65536")
        val ladder = Seq(
          1000L -> "1s", 5000L -> "5s", 10000L -> "10s", 30000L -> "30s",
          60000L -> "1m", 300000L -> "5m", 600000L -> "10m",
          1800000L -> "30m", 3600000L -> "1h", 10800000L -> "3h",
          43200000L -> "12h", 86400000L -> "1d", 604800000L -> "7d")
        val msE = s"unix_millis(cast(`$f` as timestamp))"
        val ems = expr(msE)
        val mm = df.filter(col(f).isNotNull)
          .agg(min(ems).as("lo"), max(ems).as("hi")).collect().head
        val (iv, label) =
          if (mm.isNullAt(0)) ladder.head
          else {
            val (lo, hi) = (mm.getLong(0), mm.getLong(1))
            ladder.find { case (iv, _) =>
              Math.floorDiv(hi, iv) - Math.floorDiv(lo, iv) + 1 <= target
            }.getOrElse(bad("auto_date_histogram span exceeds the " +
              "7-day fixed-interval ladder at this buckets target — " +
              "use date_histogram with a calendar_interval"))
          }
        df.filter(col(f).isNotNull)
          // exact integer bucketing, the fixed date_histogram shape
          .groupBy(expr(s"$msE - pmod($msE, ${iv}L)").as("key"))
          .agg(count(lit(1)).as("doc_count"), metricSubs(spec): _*)
          .withColumn("interval", lit(label))
          .orderBy(col("key").asc)

      case "boxplot" =>
        // ES boxplot: min/max/q1/q2/q3 plus the IQR whiskers (nearest
        // data points inside q1−1.5·IQR .. q3+1.5·IQR). EXACT
        // interpolated quartiles by default (ES's TDigest is
        // approximate); a `tdigest` object opts the QUARTILES into
        // the mergeable quantile sketch like the percentiles metric
        // (min/max stay exact — they are in ES too), and the whisker
        // pass then bounds on the approximate quartiles, exactly how
        // ES derives whiskers from its sketch. Two scans, both simple
        // aggregations; every post-aggregation value is a fixed IEEE
        // op DAG (mirrored by the oracle on the exact tier).
        val bx = spec.get("boxplot")
        val f = Option(bx.get("field")).map(_.asText)
          .getOrElse(bad("boxplot agg needs \"field\""))
        val c = col(f)
        def quart(p: Double): Column = tdigestAccuracy(bx) match {
          case None => expr(s"percentile(`$f`, ${p}d)")
          case Some(acc) => expr(
            s"approx_percentile(CAST(`$f` AS DOUBLE), ${p}d, ${acc}L)")
            .cast("double")
        }
        val q = df.agg(
          min(c).as("_min"), max(c).as("_max"),
          quart(0.25).as("_q1"),
          quart(0.5).as("_q2"),
          quart(0.75).as("_q3"))
        val loB = col("_q1") - lit(1.5) * (col("_q3") - col("_q1"))
        val hiB = col("_q3") + lit(1.5) * (col("_q3") - col("_q1"))
        df.crossJoin(broadcast(q)).agg(
          min(col("_min")).as(s"${name}_min"),
          max(col("_max")).as(s"${name}_max"),
          min(col("_q1")).as(s"${name}_q1"),
          min(col("_q2")).as(s"${name}_q2"),
          min(col("_q3")).as(s"${name}_q3"),
          min(when(c >= loB, c)).as(s"${name}_lower"),
          max(when(c <= hiB, c)).as(s"${name}_upper"))

      case "t_test" =>
        // ES t_test: Student's t statistic between populations `a`
        // and `b`. `paired` works over per-document differences
        // (both fields on one row; ES rejects filters there, so does
        // this); `homoscedastic` pools the two sample variances;
        // `heteroscedastic` (ES's default) is Welch's unpooled form.
        // All three derive from power sums in ONE aggregation —
        // integral columns ride decimal(19) exact sums (the
        // matrix_stats discipline, mirrored by the oracle's HUGEINT),
        // floating columns keep double sums — with a fixed
        // post-aggregation IEEE op DAG.
        val tt = spec.get("t_test")
        def ttSide(k: String): (String, Option[Column]) = {
          val nd = Option(tt.get(k))
            .getOrElse(bad(s"t_test needs \"$k\""))
          val unknown = keysOf(nd).filterNot(Set("field", "filter"))
          if (unknown.nonEmpty)
            bad(s"unsupported t_test $k key" +
              s"${if (unknown.size == 1) "" else "s"}: " +
              unknown.mkString(", "))
          val f = Option(nd.get("field")).map(_.asText)
            .getOrElse(bad(s"t_test $k needs \"field\""))
          if (!df.columns.contains(f))
            bad(s"unknown t_test field '$f'")
          (f, Option(nd.get("filter")).map(fn =>
            coalesce(ctx.inFilter { clause(fn, ctx) }.pred,
              lit(false))))
        }
        val (fa, filtA) = ttSide("a")
        val (fb, filtB) = ttSide("b")
        val tpe = Option(tt.get("type")).map(_.asText)
          .getOrElse("heteroscedastic")
        import org.apache.spark.sql.types.{ByteType, IntegerType,
          LongType, ShortType}
        def integral(f: String): Boolean =
          df.schema(df.schema.fieldIndex(f)).dataType match {
            case LongType | IntegerType | ShortType | ByteType => true
            case _ => false
          }
        def d19(f: String) = col(f).cast("decimal(19,0)")
        tpe match {
          case "paired" =>
            if (filtA.nonEmpty || filtB.nonEmpty)
              bad("paired t_test cannot take filters (ES contract: " +
                "both fields come from the same documents)")
            val both = col(fa).isNotNull && col(fb).isNotNull
            // |a − b| < 1e19 for any pair of longs — the narrowing
            // cast cannot lose digits, and keeps d·d inside
            // decimal(38)
            val dEx: Column =
              if (integral(fa) && integral(fb))
                (d19(fa) - d19(fb)).cast("decimal(19,0)")
              else col(fa).cast("double") - col(fb).cast("double")
            val agged = df.agg(
              count(when(both, lit(1))).as("_n"),
              sum(when(both, dEx)).cast("double").as("_s"),
              sum(when(both, dEx * dEx)).cast("double").as("_q"))
            val nD = col("_n").cast("double")
            val m = col("_s") / nD
            val v = (col("_q") - col("_s") * m) / (nD - lit(1.0))
            agged.select((m / sqrt(v / nD)).as(name))
          case "homoscedastic" | "heteroscedastic" =>
            def sums(f: String, filt: Option[Column], tag: String) = {
              val in = filt.map(_ && col(f).isNotNull)
                .getOrElse(col(f).isNotNull)
              val x: Column =
                if (integral(f)) d19(f) else col(f).cast("double")
              Seq(count(when(in, lit(1))).as(s"_n$tag"),
                sum(when(in, x)).cast("double").as(s"_s$tag"),
                sum(when(in, x * x)).cast("double").as(s"_q$tag"))
            }
            val cols = sums(fa, filtA, "a") ++ sums(fb, filtB, "b")
            val agged = df.agg(cols.head, cols.tail: _*)
            def stats(tag: String) = {
              val nD = col(s"_n$tag").cast("double")
              val m = col(s"_s$tag") / nD
              val v = (col(s"_q$tag") - col(s"_s$tag") * m) /
                (nD - lit(1.0))
              (nD, m, v)
            }
            val (na, ma, va) = stats("a")
            val (nb, mb, vb) = stats("b")
            val t =
              if (tpe == "heteroscedastic")
                (ma - mb) / sqrt(va / na + vb / nb)
              else {
                val sp2 = ((na - lit(1.0)) * va + (nb - lit(1.0)) * vb) /
                  (na + nb - lit(2.0))
                (ma - mb) / sqrt(sp2 * (lit(1.0) / na + lit(1.0) / nb))
              }
            agged.select(t.as(name))
          case other =>
            bad(s"unsupported t_test type '$other' " +
              "(paired/homoscedastic/heteroscedastic)")
        }

      case "median_absolute_deviation" =>
        // ES MAD (approximate there, EXACT here): median of absolute
        // deviations from the median. The inner median broadcasts as
        // one single-row frame; `compression` (the TDigest knob) is
        // subsumed by exactness.
        val md = spec.get("median_absolute_deviation")
        val f = Option(md.get("field")).map(_.asText)
          .getOrElse(bad("median_absolute_deviation agg needs \"field\""))
        val med = df.agg(expr(s"percentile(`$f`, 0.5d)").as("_med"))
        df.crossJoin(broadcast(med))
          .agg(expr(s"percentile(abs(`$f` - _med), 0.5d)").as(name))

      case "string_stats" =>
        // ES string_stats: count / min..avg length in one pass;
        // Shannon entropy over the corpus-wide CHARACTER distribution
        // in a second (explode → char counts → −Σ p·log2 p). The
        // entropy sum is rounded to 1e-4 (round4): a free-order sum of
        // non-integral doubles is the one value a cross-engine oracle
        // cannot pin bit-exactly, and ES itself reports entropy as an
        // estimate.
        val ss = spec.get("string_stats")
        val f = Option(ss.get("field")).map(_.asText)
          .getOrElse(bad("string_stats agg needs \"field\""))
        val c = col(f)
        val lens = df.agg(
          count(c).as(s"${name}_count"),
          min(length(c)).as(s"${name}_min_length"),
          max(length(c)).as(s"${name}_max_length"),
          avg(length(c)).as(s"${name}_avg_length"))
        val chars = df.filter(c.isNotNull)
          .select(explode(split(c, "")).as("_ch"))
          .filter(length(col("_ch")) > 0)
          .groupBy(col("_ch")).agg(count(lit(1)).as("_n"))
        val total = sum(col("_n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())
        val p = col("_n").cast("double") / total.cast("double")
        val ent = chars.select(p.as("_p"))
          .agg(Search.round4(-sum(col("_p") * log2(col("_p"))))
            .as(s"${name}_entropy"))
        lens.crossJoin(broadcast(ent))

      case "matrix_stats" =>
        // ES matrix_stats over exactly the complete observations (rows
        // missing ANY field drop, like ES): per-field count/mean/
        // variance plus per-pair covariance/correlation, all derived
        // from integer-exact power sums in ONE aggregation with a
        // fixed post-aggregation op DAG (sample n−1 normalization,
        // ES's estimator). Higher moments (skewness/kurtosis) are not
        // carried by the flat projection — their 4th-power sums
        // overflow exact arithmetic on real columns, and a
        // non-reproducible column is worse than an absent one.
        val mx = spec.get("matrix_stats")
        val fieldsNode = Option(mx.get("fields")).filter(_.isArray)
          .filter(_.size > 1)
          .getOrElse(bad("matrix_stats needs a \"fields\" array of " +
            "at least two fields"))
        val fs = (0 until fieldsNode.size).map(fieldsNode.get(_).asText)
        if (fs.distinct.size != fs.size)
          bad("matrix_stats fields must be distinct")
        // name unknown fields HERE — analysis would otherwise surface
        // the caller's typo as a plan-time exception (a 500)
        fs.filterNot(df.columns.contains).foreach(f =>
          bad(s"unknown matrix_stats field '$f'"))
        val complete = fs.map(col(_).isNotNull).reduce(_ && _)
        val g = df.filter(complete)
        val n = count(lit(1))
        val nD = n.cast("double")
        // power sums: INTEGRAL columns ride DECIMAL(38) — 64-bit long
        // products/sums of squared key columns wrap silently at real
        // scale (o_orderkey² summed over 10⁶ rows exceeds Long
        // range); decimal(19) operands make the product decimal(38)
        // and the sum 128-bit exact, the same arithmetic the oracle's
        // HUGEINT uses. FLOATING columns keep plain double sums (a
        // decimal cast would truncate fractions); ES computes in
        // double there too.
        import org.apache.spark.sql.types.{ByteType, IntegerType,
          LongType, ShortType}
        // fields were validated against df.columns above, so the
        // schema lookup cannot miss
        def integral(f: String): Boolean =
          df.schema(df.schema.fieldIndex(f)).dataType match {
            case LongType | IntegerType | ShortType | ByteType => true
            case _ => false
          }
        def d19(f: String) = col(f).cast("decimal(19,0)")
        def s1(f: String) =
          if (integral(f)) sum(d19(f)).cast("double")
          else sum(col(f).cast("double"))
        def s2of(a: String, b: String) =
          if (integral(a) && integral(b))
            sum(d19(a) * d19(b)).cast("double")
          else sum(col(a).cast("double") * col(b).cast("double"))
        def meanOf(f: String) = s1(f) / nD
        val perField = fs.flatMap { f =>
          val m = meanOf(f)
          Seq(n.as(s"${name}_${f}_count"), m.as(s"${name}_${f}_mean"),
            ((s2of(f, f) - s1(f) * m) / (nD - 1))
              .as(s"${name}_${f}_variance"))
        }
        val pairs = for {
          i <- fs.indices; j <- fs.indices if i < j
        } yield (fs(i), fs(j))
        val perPair = pairs.flatMap { case (a, b) =>
          val cov = (s2of(a, b) - s1(a) * meanOf(b)) / (nD - 1)
          val va = (s2of(a, a) - s1(a) * meanOf(a)) / (nD - 1)
          val vb = (s2of(b, b) - s1(b) * meanOf(b)) / (nD - 1)
          Seq(cov.as(s"${name}_${a}_${b}_covariance"),
            (cov / (sqrt(va) * sqrt(vb)))
              .as(s"${name}_${a}_${b}_correlation"))
        }
        val cols = perField ++ perPair
        g.agg(cols.head, cols.tail: _*)

      case mKind =>
        val cols = metricCols(mKind, spec.get(mKind), name)
        df.agg(cols.head, cols.tail: _*)
    }
  }

  private def sub(b: JsonNode, key: String): Seq[JsonNode] =
    Option(b.get(key)).toSeq.flatMap { n =>
      if (n.isArray) (0 until n.size).map(n.get) else Seq(n)
    }

  /** Shared match/multi_match translation. The MATCH SET is computed
    * per-row: token-exact per-term counts per field (Levenshtein-
    * widened under fuzziness), operator and/or or an explicit k-of-n
    * predicate — the same set semantics as the /search scorers. The
    * SCORE is real BM25 through [[Ctx.bm25Score]] (most_fields sum /
    * best_fields max, `field^boost` multipliers), except under
    * fuzziness, where the score stays the fuzzy-occurrence count (BM25
    * statistics are not defined over fuzzy-expanded terms in this
    * engine — the documented fuzzy family). */
  /** The (prefix_length, max_expansions) pair of a match-family body —
    * ES's fuzzy-rewrite knobs, honored only when `fuzziness` is set
    * (ES ignores them on exact matches too). */
  /** The `analyzer` knob: "standard"/"default" IS the engine's one
    * analysis chain — validated and accepted; any other name (a
    * language analyzer, custom chains) rejects by name, because
    * silently standard-analyzing a French request would answer a
    * different question. */
  /** The `analyzer` knob on the match family (match / multi_match):
    * "standard"/"default" is the engine's base chain; "english"
    * selects the english chain (possessive strip → stop filter →
    * Porter stem — the ES `english` analyzer) for the QUERY text
    * only. ES query-time-analyzer semantics against the reference's
    * standard-analyzed mappings: the query's stems are searched as
    * literal terms against the standard document tokens and standard
    * BM25 statistics — a query for "running" matches only documents
    * holding the literal token "run". On `match_phrase` the english
    * chain additionally keeps POSITION GAPS where stopwords stood
    * (Lucene's position increments) and the gapped stems match exact
    * offsets in the standard token stream
    * ([[graft.serving.Positional.phrase]] at slop 0); english + slop
    * spends ONE shared slop budget across the phrase — the adjusted
    * positions `p_k - offset_k` may span at most `slop`, Lucene's
    * sloppy matchLength with transposed alignments
    * ([[graft.serving.Positional.phrase]]). "whitespace" and
    * "keyword" are query-side term-list rewrites too (see
    * [[queryTerms]]). Returns the selected analyzer name. Other
    * clause kinds keep the standard-only [[analyzerKnob]]; the full
    * accept/reject inventory is pinned in EsDslSpec. */
  /** ES `zero_terms_query` — what a clause whose analysis removes
    * EVERY token does: "none" (the default; no hits) or "all" (the
    * clause acts as match_all, constant 1.0 before boost). Any other
    * value rejects by name. Meaningful exactly where a removing
    * analyzer (the english/french/german/stop chains' stop filters,
    * blank whitespace/keyword input) can empty the term list. */
  private def zeroTermsAll(spec: JsonNode): Boolean =
    Option(spec.get("zero_terms_query")).map(_.asText) match {
      case None | Some("none") => false
      case Some("all")         => true
      case Some(other) =>
        bad(s"unsupported zero_terms_query '$other' (none, all)")
    }

  private def matchAnalyzer(spec: JsonNode): String =
    Option(spec.get("analyzer")).map(_.asText) match {
      case None | Some("standard") | Some("default") => "standard"
      case Some(a @ ("english" | "french" | "german" | "spanish" |
                     "simple" | "stop" | "whitespace" | "keyword")) => a
      case Some(other) => bad(s"unsupported analyzer '$other' " +
        "(supported here: standard, english, french, german, " +
        "spanish, simple, stop, whitespace, keyword)")
    }

  /** The analyzed QUERY term list of a match-family clause — the one
    * place a query-time analyzer acts. `standard` is the engine's
    * base chain; `english` stems (possessive strip → stop filter →
    * Porter); `whitespace` splits on whitespace only, CASE KEPT (ES's
    * whitespace analyzer does not lowercase); `keyword` emits the
    * whole input as one term. The documents and statistics stay
    * standard-analyzed, so a produced term can only ever match if it
    * IS a standard token of itself (lowercase, the index's token
    * alphabet) — any other term is mapped to a per-position sentinel
    * that matches nothing, exactly ES's behavior for a term absent
    * from the index (it still counts toward operator=and /
    * minimum_should_match totals), and immune to the normalized-
    * substring counters bridging token boundaries on a keyword term
    * with internal spaces. */
  private[graft] def queryTerms(text: String,
                                analyzer: String): Seq[String] =
    graft.functions.TextFunctions.languagePositions(analyzer, text)
      .map(_.map(_._1).distinct).getOrElse(analyzer match {
      case "simple" =>
        // ES's simple analyzer: lowercase LETTER runs — every token
        // is trivially a standard token of itself, no sentinel needed
        graft.functions.TextFunctions.simpleTokens(text).distinct
      case "stop" =>
        // ES's stop analyzer: simple + the classic english stop set
        graft.functions.TextFunctions.simpleTokens(text)
          .filterNot(graft.functions.EnglishAnalysis.isStop).distinct
      case "whitespace" =>
        literalTerms(text.split("\\s+").toSeq.filter(_.nonEmpty))
      case "keyword" =>
        literalTerms(Seq(text).filter(_.nonEmpty))
      case _ =>
        graft.functions.TextFunctions.analyzeText(text).distinct.toSeq
    })

  /** Gate literal (whitespace/keyword) query terms against the
    * standard token alphabet: a term that does not standard-analyze
    * to itself cannot exist in the index — it becomes a unique
    * sentinel (df 0, tf 0 everywhere) so term COUNTS stay ES-exact
    * while nothing can spuriously match. Dedup first: ES counts each
    * distinct analyzed term once. */
  private def literalTerms(raw: Seq[String]): Seq[String] =
    raw.distinct.zipWithIndex.map { case (t, i) =>
      if (graft.functions.TextFunctions.analyzeText(t).toSeq == Seq(t)) t
      else "\ue000" + i
    }

  private def analyzerKnob(spec: JsonNode): Unit =
    if (spec != null && spec.isObject)
      Option(spec.get("analyzer")).map(_.asText).foreach {
        case "standard" | "default" => ()
        case other => bad(s"unsupported analyzer '$other' (the " +
          "engine's one chain is the standard analyzer)")
      }

  private def fuzzyKnobs(spec: Option[JsonNode])
      : (Int, Option[Int], Boolean) = {
    val pl = spec.flatMap(intOpt(_, "prefix_length")).getOrElse(0)
    if (pl < 0) bad("prefix_length must be >= 0")
    val me = spec.flatMap(intOpt(_, "max_expansions"))
    me.foreach(n => if (n <= 0 || n > Search.MaxExpansionsCeiling)
      bad(s"max_expansions must be 1..${Search.MaxExpansionsCeiling}"))
    // ES defaults transpositions to TRUE (Damerau — an adjacent swap
    // is one edit); explicit false selects plain Levenshtein. The
    // knob is spelled `transpositions` on the term-level fuzzy query
    // and `fuzzy_transpositions` on the match family — each clause's
    // key allowlist admits only its own spelling, so reading either
    // here cannot cross-accept. A non-boolean node would silently
    // coerce — reject by type.
    val tr = spec.flatMap(s =>
      Option(s.get("transpositions"))
        .orElse(Option(s.get("fuzzy_transpositions")))).map { n =>
      if (!n.isBoolean) bad("transpositions must be a boolean")
      n.asBoolean
    }.getOrElse(true)
    (pl, me, tr)
  }

  /** The match_phrase matcher + phrase-BM25 score for ONE field —
    * shared by `match_phrase` and `multi_match type=phrase` (ES's
    * phrase type = a per-field phrase query with a best-field
    * combine). Matching: token ADJACENCY on the normalized token
    * string (slop 0; gapless english stems ride the same form),
    * sloppy proximity (Search.slopPhrase's),
    * EXACT-OFFSET matching when a query-time english analysis left
    * stop gaps (the stop filter consumes positions — Lucene's
    * position increments — so "sorted the windows" needs the literal
    * token "sort" and, two positions later, "window"), or the gapped
    * SLOPPY walk when both (one SHARED slop budget: the stems'
    * adjusted positions span <= slop, transposed alignments included —
    * Positional.phrase). The SCORE is
    * phrase-frequency BM25, ES's PhraseQuery model: idf sums the
    * phrase terms' idfs over the STANDARD statistics (english stems
    * are literal standard terms), tf is the phrase count. None = an
    * english analysis yielded zero terms (all stopwords). */
  private def phraseLeg(ctx: Ctx, f: String, text: String, slop: Int,
                        analyzer: String): Option[(Column, Column)] = {
    if (slop < 0) bad("slop must be >= 0")
    // the language chains' stop filters consume positions, so their
    // stems carry stop gaps
    val posTerms: Seq[(String, Int)] = graft.functions.TextFunctions
      .languagePositions(analyzer, text).getOrElse(analyzer match {
      case "simple" =>
        // dense letter-run positions (the simple tokenizer has no
        // removing filter)
        graft.functions.TextFunctions.simpleTokens(text).zipWithIndex
      case "stop" =>
        // the stop filter consumes positions — phrases carry gaps
        // where stopwords stood, like the language chains
        graft.functions.TextFunctions.rebase(
          graft.functions.TextFunctions.simpleTokens(text).zipWithIndex
            .filterNot { case (t, _) =>
              graft.functions.EnglishAnalysis.isStop(t) })
      case "whitespace" | "keyword" =>
        // positional duplicates must stay (a phrase can repeat a
        // term), so gate each POSITION against the standard token
        // alphabet rather than deduping through queryTerms
        val raw =
          if (analyzer == "keyword") Seq(text).filter(_.nonEmpty)
          else text.split("\\s+").toSeq.filter(_.nonEmpty)
        raw.zipWithIndex.map { case (t, i) =>
          (if (graft.functions.TextFunctions.analyzeText(t)
            .toSeq == Seq(t)) t else "\ue000" + i, i)
        }
      case _ => graft.functions.TextFunctions.analyzeText(text)
        .zipWithIndex.toSeq
    })
    if (posTerms.isEmpty && analyzer != "standard") return None
    if (posTerms.isEmpty) bad("empty phrase query")
    val terms = posTerms.map(_._1)
    val gapless = posTerms.zipWithIndex.forall {
      case ((_, d), i) => d == i }
    val cnt =
      if (slop == 0 && gapless) Search.substrCount(Search.tokenNorm(col(f)),
        terms.mkString(" ", "  ", " "))
      else Positional.termPhrase(col(f), posTerms, slop)
    Some((cnt, ctx.phraseBm25Score(f, terms, cnt)))
  }

  private def matchClause(ctx: Ctx, text: String,
                          fields: Seq[(String, Double)],
                          operator: String, minMatch: Option[String],
                          bestFields: Boolean,
                          fuzziness: Option[String],
                          knobs: (Int, Option[Int], Boolean) =
                            (0, None, true),
                          rawTerm: Boolean = false,
                          analyzer: String = "standard",
                          zeroTermsAll: Boolean = false): Clause = {
    import Search.{editDistance, fuzzyEdits, substrCount, tokenNorm}
    val (prefixLength, maxExpansions, transpositions) = knobs
    // fuzzy rewriting runs over the standard vocabulary — a
    // case-keeping (whitespace) or whole-value (keyword) term has no
    // meaningful expansion set there, so the combination rejects by
    // name rather than answering a different question
    if (fuzziness.isDefined &&
        (analyzer == "whitespace" || analyzer == "keyword"))
      bad(s"fuzziness with the $analyzer analyzer is not supported " +
        "(fuzzy expansion runs on the standard/english chains)")
    // rawTerm = the term-level `fuzzy` clause: Lucene's FuzzyQuery
    // term is NOT analyzed (only lowercased here, the engine's token
    // case) — analyzing would split a punctuated value like
    // "foo-bar" into OR'd per-word fuzzy matches ES never runs
    val terms =
      if (rawTerm) Seq(text.trim.toLowerCase).filter(_.nonEmpty)
      else queryTerms(text, analyzer)
    // a query that analyzes to ZERO terms (all stopwords under a
    // removing chain, empty whitespace/keyword input) — ES's
    // zero_terms_query: "none" (default) matches nothing, scores
    // nothing, not an error; "all" acts as match_all (constant 1.0,
    // the caller's boost multiplies)
    if (terms.isEmpty && analyzer != "standard")
      return if (zeroTermsAll) Clause(lit(true), lit(1.0))
        else Clause(lit(false), lit(0.0))
    if (terms.isEmpty)
      bad(if (rawTerm) "empty fuzzy value" else "empty match query")
    // capped expansion sets (ES max_expansions), one per query term,
    // derived from this request's target frame — bounded driver work
    lazy val expSets: Map[String, Seq[String]] = fuzziness match {
      case Some(fz) if maxExpansions.isDefined =>
        val edits = terms.map(t => fuzzyEdits(t, fz)
          .getOrElse(bad(s"invalid fuzziness '$fz'")))
        ctx.expansions(fields.map(_._1), terms, edits, prefixLength,
          maxExpansions.get, transpositions)
      case _ => Map.empty
    }
    // terms (stems included — under a query-time english analyzer
    // they are literal query-side rewrites) count against the
    // STANDARD token stream: fuzziness expands each analyzed term
    // over the standard vocabulary, exactly ES's match-with-fuzziness
    // order (analyze first, fuzzy-rewrite the analyzed terms second)
    def cnt(f: String, t: String): Column = fuzziness match {
      case None => substrCount(tokenNorm(col(f)), s" $t ")
      case Some(fz) =>
        val e = fuzzyEdits(t, fz).getOrElse(bad(s"invalid fuzziness '$fz'"))
        val toks = graft.functions.TextFunctions.analyzerTokens(col(f))
        if (maxExpansions.isDefined) {
          val set = expSets(t)
          if (set.isEmpty) lit(0)
          else size(filter(toks, x => x.isInCollection(set)))
        } else {
          val p = t.take(prefixLength)
          if (p.isEmpty)
            size(filter(toks, x => editDistance(x, t, transpositions) <= e))
          else size(filter(toks, x =>
            x.startsWith(p) && editDistance(x, t, transpositions) <= e))
        }
    }
    def termCount(t: String): Column =
      fields.map { case (f, _) => cnt(f, t) }.reduce(_ + _)
    val matchedTerms = terms.map(t =>
      when(termCount(t) > 0, 1).otherwise(0)).reduce(_ + _)
    val need = minMatch match {
      case Some(spec) => MinShouldMatch.resolve(spec, terms.size)
        .getOrElse(bad(s"malformed minimum_should_match '$spec'"))
      case None => if (operator == "and") terms.size else 1
    }
    val pred = matchedTerms >= math.max(1, math.min(need, terms.size))
    val score = fuzziness match {
      case Some(_) =>
        def fieldScore(f: String, boost: Double): Column = {
          val raw = terms.map(t => cnt(f, t)).reduce(_ + _).cast("double")
          if (boost == 1.0) raw else raw * boost
        }
        val parts = fields.map { case (f, b) => fieldScore(f, b) }
        if (parts.size == 1) parts.head
        else if (bestFields) greatest(parts: _*)
        else parts.reduce(_ + _)
      case None => ctx.bm25Score(text, fields, bestFields, analyzer)
    }
    Clause(pred, score)
  }
}
