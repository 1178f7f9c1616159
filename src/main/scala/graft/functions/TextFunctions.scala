package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline layer —
  * the capabilities a 100 TB document-corpus engine needs beyond the
  * reference's ETL surface (reference has none of these; its only text
  * handling is ES full-text search delegation, src/search_api.py:16-36).
  *
  * Everything here is pure `Column` composition over built-in functions —
  * whole-stage-codegen friendly, no UDFs, no driver-side work — so these
  * run at scan speed and stay inside one WholeStageCodegen span per
  * projection. Each function is mirrored by ANSI SQL in the DuckDB oracle
  * (ParityQueries.oracleSql) to pin semantics.
  */
object TextFunctions {

  /** Rebase an analyzed (term, position) list to a ZERO head offset —
    * the shared prelude of every gapped phrase walk (english/french
    * stop gaps are relative; the matchers require the head at 0). */
  def rebase(pt: Seq[(String, Int)]): Seq[(String, Int)] =
    pt.map { case (t, p) => (t, p - pt.headOption.fold(0)(_._2)) }

  /** The (stem, position) terms of a LANGUAGE chain ("english",
    * "french", "german", "spanish") — the stop filter consumes
    * positions, so phrases carry stop gaps — [[rebase]]d; None for
    * any other analyzer name. */
  def languagePositions(analyzer: String,
                        text: String): Option[Seq[(String, Int)]] =
    (analyzer match {
      case "english" => Some(EnglishAnalysis.analyzeWithPositions(text))
      case "french"  => Some(FrenchAnalysis.analyzeWithPositions(text))
      case "german"  => Some(GermanAnalysis.analyzeWithPositions(text))
      case "spanish" => Some(SpanishAnalysis.analyzeWithPositions(text))
      case _         => None
    }).map(rebase)

  /** Whitespace tokenization, empty tokens dropped (split on ^\s or a
    * leading separator produces "") — the PIPELINE layer's tokenizer
    * (shingles, token budgeting, dedup units), where whitespace words
    * are the deliberate unit. The SEARCH surfaces analyze with
    * [[analyzerTokens]] instead. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** ES `standard`-analyzer tokenization (the analyzer every `text`
    * mapping in the reference's ES stack uses — src/ticket_sync.py:36-42
    * maps `text` fields, ES 8.11 analyzes them standard): lowercase +
    * UAX#29-style word segmentation. Tokens are runs of Unicode
    * letters/digits/underscore, optionally joined by word-INTERNAL
    * apostrophes or dots (UAX#29 MidNumLet/Single_Quote: `don't`,
    * `u.s.a`, `3.14` stay whole; punctuation between words splits:
    * `hello, world!` → `hello`, `world`). Lookahead-free so Java regex
    * (Spark) and RE2 (DuckDB oracle) tokenize identically — verified
    * over punctuation/apostrophe/number/Unicode samples. Documented
    * deviations from full UAX#29: `,` never joins digits (`1,000` →
    * two tokens) and no script-specific rules (Katakana, Hebrew
    * gershayim). */
  val AnalyzerPattern = "[\\p{L}\\p{N}_]+(?:['.][\\p{L}\\p{N}_]+)*"

  /** [[AnalyzerPattern]] spelled for embedding in a single-quoted
    * DuckDB SQL string literal (the apostrophe doubled). */
  val AnalyzerPatternSql: String = AnalyzerPattern.replace("'", "''")

  /** The DuckDB replay of [[analyzerTokens]] over a SQL expression —
    * oracle fragments build on this so both engines share ONE token
    * grammar. */
  def analyzerTokensSql(expr: String): String =
    s"regexp_extract_all(lower(coalesce($expr, '')), " +
      s"'$AnalyzerPatternSql')"

  /** Standard-analyzer tokens of a column: one generated char scan
    * ([[org.apache.spark.sql.graft.AnalyzerTokens]]) — bit-identical
    * to `regexp_extract_all(lower(text), AnalyzerPattern)` (the
    * DuckDB oracles replay THAT spelling; ExpressionPropertiesSpec
    * fuzz-pins the equivalence) but ~2× faster per row than the
    * regex engine on the match-family hot path. */
  def analyzerTokens(text: Column): Column =
    ArrayExpressions.analyzerTokens(coalesce(text, lit("")))

  /** The regex spelling of [[analyzerTokens]] — the oracle-shared
    * definition the scanner is pinned against. */
  def analyzerTokensRegex(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))),
      lit(AnalyzerPattern), lit(0))

  /** Analyzed-token count — BM25's document length under the standard
    * analyzer; counts without materializing the token array. */
  def analyzerTokenCount(text: Column): Column =
    ArrayExpressions.analyzerTokenCount(coalesce(text, lit("")))

  private lazy val analyzerRegex =
    java.util.regex.Pattern.compile(AnalyzerPattern)

  /** Driver-side twin of [[analyzerTokens]] — query-string analysis
    * (ES analyzes the QUERY text with the field's analyzer too). */
  def analyzeText(s: String): Seq[String] = {
    val m = analyzerRegex.matcher(s.toLowerCase)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  private val letterRunRegex = java.util.regex.Pattern.compile("\\p{L}+")

  /** ES `simple` analyzer tokenization (Lucene's LowerCaseTokenizer):
    * maximal Unicode-LETTER runs, lowercased — digits, underscores
    * and punctuation all split, unlike the standard chain
    * ("window7batch" → [window, batch] where standard keeps one
    * token). The `stop` analyzer = this + the classic english stop
    * set ([[EnglishAnalysis.isStop]]), positions consumed. */
  def simpleTokens(s: String): Seq[String] = {
    val m = letterRunRegex.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group().toLowerCase
    out.toSeq
  }

  /** BPE-ish subword token count: a GPT-2-style pre-tokenizer regex
    * (letter runs / digit runs / punctuation runs, each with optional
    * leading space) — the cheap LLM-token estimator a training-data
    * pipeline budgets with. Lookahead-free so Java regex and RE2 (DuckDB
    * oracle) agree; fully codegen'd (regexp_extract_all is native). */
  val BpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Word n-gram shingles, the unit of near-dup detection. Docs shorter
    * than n words contribute their whole text as one shingle so they can
    * still exact-match. */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= n,
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", ts)))
  }

  /** `array_distinct(shingles(text, n))` as one custom codegen expression
    * ([[org.apache.spark.sql.graft.DistinctShingles]]) — the HOF chain
    * above is interpreted per element and dominates every dedup plan. */
  def distinctShingles(text: Column, n: Int): Column =
    ArrayExpressions.distinctShingles(text, n)

  /** Small fixed stopword lexicons per language; the unit for both the
    * stopword-ratio quality signal and the n-gram/lexicon language-ID
    * heuristic. Deliberately tiny + hard-coded: at 100 TB the lexicon is a
    * broadcast variable, never a shuffle. */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it",
    "that", "for")
  val StopwordsEs = Seq("el", "la", "de", "que", "y", "en", "un", "es",
    "se", "no")
  val StopwordsDe = Seq("der", "die", "und", "das", "ist", "ich", "nicht",
    "mit", "ein", "zu")
  val StopwordsFr = Seq("le", "la", "et", "les", "des", "est", "une", "du",
    "que", "pas")

  private def lexiconHits(ts: Column, lexicon: Seq[String]): Column =
    size(filter(ts, t => array_contains(
      array(lexicon.map(lit): _*), t)))

  /** Fraction of tokens that are (English) stopwords — the classic
    * fluency/quality signal. */
  def stopwordRatio(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      round(lexiconHits(ts, StopwordsEn).cast("double") / size(ts), 4))
      .otherwise(lit(0.0))
  }

  /** Ratio of non-alphanumeric, non-space characters to total length. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      round(length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
        .cast("double") / length(text), 4))
      .otherwise(lit(0.0))

  def avgWordLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      round(aggregate(ts, lit(0L), (acc, t) => acc + length(t))
        .cast("double") / size(ts), 4))
      .otherwise(lit(0.0))
  }

  /** Composite document-quality score in [0,1]: token-count saturation,
    * stopword fluency, and a word-length prior centered on ~4.5 chars.
    * The exact formula is arbitrary but pinned by the DuckDB oracle.
    * Rounded via floor(x*1e4 + 0.5)/1e4 rather than round(): the score
    * can land exactly on a half-way point (e.g. 0.37625) where Spark's
    * decimal HALF_UP and DuckDB's binary rounding disagree; the floor
    * form is plain IEEE double arithmetic and engine-independent. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val raw =
      least(nTok, lit(100.0)) / 100.0 * 0.5 +
        stopwordRatio(text) * 0.3 +
        greatest(lit(0.0),
          lit(1.0) - abs(avgWordLen(text) - 4.5) / 10.0) * 0.2
    floor(raw * 10000.0 + 0.5).cast("double") / 10000.0
  }

  /** Lexicon-hit language ID with a fixed priority order (en, es, de, fr)
    * for ties; 'und' when nothing matches. A real engine swaps in a
    * character-n-gram model; the *shape* (pure per-row projection, no
    * shuffle, broadcastable model) is what matters at scale. */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    val en = lexiconHits(ts, StopwordsEn)
    val es = lexiconHits(ts, StopwordsEs)
    val de = lexiconHits(ts, StopwordsDe)
    val fr = lexiconHits(ts, StopwordsFr)
    when(en >= greatest(es, de, fr) && en > 0, "en")
      .when(es >= greatest(de, fr) && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set. Two docs with the same vocabulary collide — a cheap
    * near-dup prefilter upstream of shingle-based methods. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), "|"))

  /** Word bigrams in document order (repetition unit; NOT deduplicated —
    * multiplicity is the signal). Docs under 2 tokens have none. */
  def bigrams(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) >= 2,
      zip_with(slice(ts, lit(1), size(ts) - 1),
        slice(ts, lit(2), size(ts) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
  }

  /** Fraction of tokens that repeat an earlier token — 1 − |vocab|/|doc|.
    * The cheap within-document repetition signal (Gopher-style quality
    * filters gate on it). floor-form rounding for oracle parity. */
  def dupTokenFrac(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      floor((lit(1.0) - size(array_distinct(ts)).cast("double") / size(ts))
        * 10000.0 + 0.5).cast("double") / 10000.0)
      .otherwise(lit(0.0))
  }

  /** Fraction of tokens covered by the single most frequent bigram —
    * 2·max_count/n_tokens (the Gopher "top-2-gram fraction" filter;
    * boilerplate and degenerate repetition push it toward 1). Computed
    * per row with zero shuffle: sort the bigram array, then the longest
    * equal run IS the max multiplicity (one linear `aggregate` pass). */
  def topBigramFrac(text: Column): Column = {
    val sorted = array_sort(bigrams(text))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"))
    val maxCount = aggregate(sorted, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val n = tokenCount(text)
    when(n >= 2,
      floor(lit(2.0) * maxCount / n * 10000.0 + 0.5).cast("double")
        / 10000.0)
      .otherwise(lit(0.0))
  }

  /** 64-bit SimHash over distinct whitespace tokens — the custom codegen
    * [[graft.functions.SimHash64]] expression (per-bit vote loop as a
    * tight generated Java loop; the higher-order-function formulation is
    * interpreted per token×bit and was the benchmark's second-worst
    * query). */
  def simhash64(text: Column): Column =
    ArrayExpressions.simhash(array_distinct(tokens(text)))
}
