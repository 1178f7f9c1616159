package graft.serving

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ONE ranked scorer behind every BM25 / tf·idf entry point — the
  * corpus-scan path ([[Search.bm25]], [[Search.bm25Fields]],
  * [[Search.acrossIndexesRanked]], [[Search.rankedAllMulti]]) and the
  * write-time postings path ([[graft.sinks.SearchIndex.ranked]],
  * [[graft.sinks.SearchIndex.rankedAcrossIndexes]]) alike. ES serves
  * `multi_match` with Lucene BM25 (reference: src/search_api.py:16-36);
  * this object is where that scorer is written down, once.
  *
  * Three parts:
  *  - '''Formulas''': [[bm25Idf]], [[bm25Saturation]] and [[tfidfIdf]].
  *    Every BM25 site calls them, phrase-frequency and cross_fields
  *    scorers included.
  *  - '''One input contract, two producers''': tf rows
  *    `(table, id, fid, dl, term, tf)` — one row per (document, field,
  *    term) — and a stats frame `(table, fid, term, n, avgdl, df_t)`.
  *    [[scan]] fills them by tokenizing a frame per request;
  *    `SearchIndex`'s probe fills them from materialized postings and
  *    statistics. Both are entity-tagged: a plain frame or a single
  *    index is a one-entity wildcard, whose constant tag is left out
  *    ([[tagged]]).
  *  - '''One combiner''' ([[combine]]): per clause, each entity's
  *    fixed-order (field, term) conditional sums, boosts, best/most
  *    fields, then [[Search.round4]] once, grouped by `(table, id)`.
  *
  * Numerics: every (table, id, fid, term) contribution is a single tf
  * row, so a conditional sum selects exactly one double (or none →
  * 0.0); terms and fields add in the fixed order the oracle spells
  * (float + is not associative); n, sumdl and df are exact integers on
  * both paths, and avgdl is one long-over-long division. The two
  * producers therefore feed the combiner identical values and every
  * scorer shares one DuckDB oracle.
  */
object Ranking {

  /** Lucene's BM25 idf: ln(1 + (N − df + 0.5)/(df + 0.5)). The ln is
    * oracle-safe because both engines take it of the identical double
    * and the final score is rounded to the 1e-4 grid. */
  def bm25Idf(n: Column, df: Column): Column =
    log(lit(1.0) + (n - df + 0.5) / (df + 0.5))

  /** BM25 term-frequency saturation with document-length
    * normalization: tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), k1 = 1.2,
    * b = 0.75 (Lucene defaults) as plan literals — 1−b and k1+1
    * pre-reduced to exact decimal-parse doubles so the oracle spells
    * the identical constants. */
  def bm25Saturation(tf: Column, dl: Column, avgdl: Column): Column =
    (tf * 2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))

  /** The rational tf·idf weight (N+1)/(df+1) — not its log, which is
    * not IEEE-pinned across libm implementations (see [[Search.tfidf]]). */
  def tfidfIdf(n: Column, df: Column): Column = (n + 1.0) / (df + 1.0)

  /** One entity's part of a clause: its analyzed query terms (each
    * index analyzes with its own chain) and its fields as
    * (fid, boost), combined in this order. */
  final case class Leg(table: String, terms: Seq[String],
                       fields: Seq[(Int, Double)])

  /** One score column: `name`, one leg per entity, and the
    * best_fields (max) or most_fields (sum) combine. */
  final case class Clause(name: String, legs: Seq[Leg],
                          bestFields: Boolean)

  /** A one-entity clause — a plain frame or a single index. */
  def single(name: String, terms: Seq[String], fields: Seq[(Int, Double)],
             bestFields: Boolean): Clause =
    Clause(name, Seq(Leg("", terms, fields)), bestFields)

  /** [[scan]] + [[combine]] over a plain frame of [[single]] clauses:
    * `fields` are (key, expression), and the result is (idCol, one
    * column per clause). */
  def rankFrame(df: DataFrame, idCol: String,
                fields: Seq[(String, Column)], clauses: Seq[Clause],
                bm25: Boolean): DataFrame =
    combine(scan(df, lit(""), col(idCol),
        fields.map { case (k, e) => ScanField("", k, e) }, clauses, bm25),
      bm25, clauses)
      .select(col("id").as(idCol) +: clauses.map(c => col(c.name)): _*)

  /** A scan producer field: the entity whose rows it scores, a `key`
    * naming it for the prefilter (entities may share a column), and
    * the text expression. Its fid is its position. */
  final case class ScanField(table: String, key: String, expr: Column)

  /** The input contract: tf rows and the stats frame they join. */
  final case class Inputs(tf: DataFrame, stats: DataFrame)

  /** Whether `clauses` span several entities. Only then do the inputs
    * carry the `table` column: one entity's tag would be a constant
    * that costs planning time and shuffle width for nothing. */
  def tagged(clauses: Seq[Clause]): Boolean =
    clauses.flatMap(_.legs.map(_.table)).distinct.size > 1

  /** The SCAN producer: one pass tokenizes `df`'s rows and one
    * aggregate computes the statistics, both entity-gated — a field
    * contributes only on rows whose `table` is its entity (one entity,
    * such as a plain frame, needs no gate and no `table`).
    *
    *  - A codegen'd contains-any prefilter — every clause's (field,
    *    term) probes, first use wins — skips tokenize+explode for rows
    *    holding no query term as a substring. Substring false positives
    *    die at the token filter; a NULL field never passes.
    *  - Every field's (dl, tokens) stacks into ONE explode tagged
    *    `fid`, so the corpus is scanned once for tf whatever the field
    *    count. dl is functionally dependent on (table, id, fid): riding
    *    the tf group key costs width, not a pass.
    *  - The statistics aggregate reads [[graft.functions.ArrayExpressions.tokenDlHits]]
    *    — dl and the distinct matched term indices from one tokenizer
    *    pass, evaluated once per row in a projection below the
    *    aggregate — so each entity's n, each field's sumdl and every
    *    (field, term) df are exact integer sums with no window (a
    *    `count OVER (PARTITION BY term)` puts a hot term's every match
    *    in one partition). The single stats row reshapes to
    *    ≤ |fields| × |terms| rows for the broadcast. */
  def scan(df: DataFrame, table: Column, id: Column,
           fields: Seq[ScanField], clauses: Seq[Clause],
           bm25: Boolean): Inputs = {
    import graft.functions.TextFunctions.{analyzerTokenCount, analyzerTokens}
    require(fields.nonEmpty, "at least one field to rank")
    val terms = clauses.flatMap(_.legs.flatMap(_.terms)).distinct
    val seen = scala.collection.mutable.Set[(String, String)]()
    val probes = for {
      c <- clauses; leg <- c.legs; (i, _) <- leg.fields; t <- leg.terms
      if seen.add((fields(i).key, t))
    } yield lower(fields(i).expr).contains(lit(t))
    val multi = tagged(clauses)
    val tagIn = if (multi) Seq(table.as("table")) else Nil
    val tag = if (multi) Seq(col("table")) else Nil
    def gated(f: ScanField, c: Column): Column =
      if (multi) when(table === f.table, c) else c
    val tf = df.filter(probes.reduceOption(_ || _).getOrElse(lit(false)))
      .select(tagIn ++ Seq(id.as("id"),
        explode(array(fields.zipWithIndex.map { case (f, i) =>
          struct(lit(i).as("fid"),
            gated(f, if (bm25) analyzerTokenCount(f.expr) else lit(0))
              .as("dl"),
            gated(f, analyzerTokens(f.expr)).as("toks"))
        }: _*)).as("fs")): _*)
      .select(tag ++ Seq(col("id"), col("fs.fid").as("fid"),
        col("fs.dl").as("dl"), explode(col("fs.toks")).as("term")): _*)
      .filter(col("term").isin(terms: _*))
      .groupBy(tag ++ Seq(col("id"), col("fid"), col("dl"), col("term")): _*)
      .agg(count(lit(1)).as("tf"))
    val stats =
      if (terms.isEmpty)
        // no analyzed terms: tf is empty (isin over nothing), and a
        // zero-element explode would not resolve
        tf.select(tag ++ Seq(col("fid"), col("term"), lit(0L).as("n"),
          lit(0.0).as("avgdl"), lit(0L).as("df_t")): _*)
      else {
        val ts = fields.indices.map(i => col(s"__ts_$i"))
        val pre = df.select(tagIn ++
          fields.zipWithIndex.map { case (f, i) =>
            gated(f, graft.functions.ArrayExpressions
              .tokenDlHits(f.expr, terms)).as(s"__ts_$i") }: _*)
        // a foreign row's gated struct is null: sum skips it, and
        // array_contains(null, j) is null, which the count skips
        val entities = fields.map(_.table).distinct
        val aggs = entities.indices.map(e =>
            (if (multi) sum(when(col("table") === entities(e), 1L))
             else count(lit(1))).as(s"n_$e")) ++
          (if (bm25) fields.indices.map(i =>
            sum(ts(i).getField("dl")).as(s"sumdl_$i")) else Nil) ++
          (for (i <- fields.indices; j <- terms.indices) yield
            sum(when(array_contains(ts(i).getField("hits"), j), 1L))
              .as(s"df_${i}_$j"))
        pre.agg(aggs.head, aggs.tail: _*)
          .select(explode(array((for {
              (f, i) <- fields.zipWithIndex; (t, j) <- terms.zipWithIndex
            } yield {
              val n = col(s"n_${entities.indexOf(f.table)}")
              struct((if (multi) Seq(lit(f.table).as("table")) else Nil) ++
                Seq(lit(i).as("fid"), lit(t).as("term"), n.as("n"),
                  (if (bm25) col(s"sumdl_$i").cast("double") / n
                   else lit(0.0)).as("avgdl"),
                  col(s"df_${i}_$j").as("df_t")): _*)
            }): _*)).as("s"))
          .select(col("s.*"))
      }
    Inputs(tf, stats)
  }

  /** The COMBINER: join the (tiny) stats broadcast, then ONE per-doc
    * aggregation keyed (table, id) — id alone for one entity, so a
    * downstream join on the id keeps its partitioning — computes
    * every clause. A leg's per-field score is the fixed-order term
    * sum of its single-row conditionals, boosted; fields combine by max (best_fields) or a
    * fixed-order sum (most_fields); the clause's entity leg is
    * selected by the constant `table` group key and rounded once.
    * Returns (table, id, one column per clause). */
  def combine(in: Inputs, bm25: Boolean,
              clauses: Seq[Clause]): DataFrame = {
    require(clauses.nonEmpty, "at least one clause to rank")
    val multi = tagged(clauses)
    val tag = if (multi) Seq("table") else Nil
    val idf =
      if (bm25) bm25Idf(col("n"), col("df_t"))
      else tfidfIdf(col("n"), col("df_t"))
    val perTerm =
      if (bm25)
        col("idf") * bm25Saturation(col("tf"), col("dl"), col("avgdl"))
      else col("tf") * col("idf")
    def legScore(leg: Leg, bestFields: Boolean): Column = {
      val parts = leg.fields.map { case (i, boost) =>
        val raw = leg.terms.map { t =>
            val hit = col("term") === t && col("fid") === i
            coalesce(sum(when(if (multi) col("table") === leg.table && hit
              else hit, perTerm)), lit(0.0))
          }.reduceOption(_ + _).getOrElse(lit(0.0))
        if (boost == 1.0) raw else raw * boost
      }
      if (parts.isEmpty) lit(0.0)
      else if (parts.size == 1) parts.head
      else if (bestFields) greatest(parts: _*)
      else parts.reduce(_ + _)
    }
    val scores = clauses.map { c =>
      val score = c.legs match {
        case Seq(leg) => Search.round4(legScore(leg, c.bestFields))
        case legs => legs.foldLeft(lit(0.0)) { (acc, leg) =>
          when(col("table") === leg.table,
            Search.round4(legScore(leg, c.bestFields))).otherwise(acc)
        }
      }
      score.as(c.name)
    }
    val stats = in.stats.select((tag ++ Seq("fid", "term")).map(col) ++
      Seq(idf.as("idf"), col("avgdl")): _*)
    val scored = in.tf.join(broadcast(stats), tag ++ Seq("fid", "term"))
      .groupBy((tag :+ "id").map(col): _*)
      .agg(scores.head, scores.tail: _*)
    if (multi) scored
    else scored.select(lit(clauses.head.legs.head.table).as("table"),
      col("*"))
  }
}
