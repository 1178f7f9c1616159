package graft.serving

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The ONE positional matcher behind every phrase, span and intervals
  * count — the corpus-scan path ([[Search.slopPhrase]], the DSL's
  * `match_phrase`/`match_phrase_prefix`/span/intervals clauses) and the
  * write-time postings path ([[graft.sinks.SearchIndex.phrase]],
  * [[graft.sinks.SearchIndex.phraseRanked]],
  * [[graft.sinks.SearchIndex.spanRanked]]) alike. Lucene implements
  * each positional query once over its postings; this object is where
  * that matching is written down, once, next to [[Ranking]]'s scorer.
  *
  * Two parts:
  *  - '''Producers''' turn one query slot into the sorted array of the
  *    document positions it matches: [[positions]] from a token array
  *    and a slot matcher (the scan side), [[postings]] from the
  *    positional postings' `term → positions` map and the slot's
  *    terms (the postings side). A position holds ONE token, so both
  *    yield the same set for the same field.
  *  - '''Walkers''' run over per-slot position arrays and return the
  *    array of counted positions: [[phrase]] (sloppy phrase: a shared
  *    slop budget over offsets), [[near]] and [[containing]] (ordered
  *    span near, optionally related to a width-1 little span),
  *    [[pair]] (unordered two-slot proximity), plus the greedy
  *    non-overlap stride [[nonOverlapping]].
  *
  * Everything is array HOFs over occurrence-sized position lists — no
  * explode, no shuffle, no UDF — so a count rides the projection that
  * asks for it on either path, and both paths count the same integers.
  */
object Positional {

  /** Slop, clamped BEFORE any `position + slop` Int arithmetic: a
    * saturated caller value (simple_query_string lexes absurd ~N
    * suffixes to Int.MaxValue) would wrap negative and silently match
    * nothing; 2^24 positions exceed any tokenizable document. */
  private def clamp(slop: Int): Int = math.min(slop, 1 << 24)

  /** SCAN producer: the (ascending) positions of `toks` whose token
    * satisfies the slot matcher `m`. */
  def positions(toks: Column, m: Column => Column): Column =
    filter(transform(toks, (x, i) =>
      when(m(x), i).otherwise(lit(-1))), p => p >= lit(0))

  /** POSTINGS producer: the sorted distinct union of `terms`' position
    * lists in the `term → positions` map `tp` (absent terms are
    * empty). One term's list is already sorted and distinct. */
  def postings(tp: Column, terms: Seq[String]): Column = {
    val lists = terms.map(t =>
      coalesce(element_at(tp, lit(t)), array().cast("array<int>")))
    if (lists.size == 1) lists.head
    else array_sort(array_distinct(flatten(array(lists: _*))))
  }

  /** A walker's match count (the positions it kept). */
  def count(matched: Column): Column = size(matched).cast("int")

  /** [[phrase]]'s distinctness for a term phrase: only slots of the
    * SAME term can collide (one token per position). */
  def sameTerm(terms: Seq[String]): (Int, Int) => Boolean =
    (j, k) => terms(j) == terms(k)

  /** A term phrase's count in a text column — the scan side of
    * [[phrase]]: one slot per analyzed term at its relative offset
    * (english stop gaps survive as offset gaps), same-term slots
    * distinct. */
  def termPhrase(field: Column, posTerms: Seq[(String, Int)],
                 slop: Int): Column = {
    val toks = graft.functions.TextFunctions.analyzerTokens(field)
    val terms = posTerms.map(_._1)
    count(phrase(terms.map(t => positions(toks, _ === lit(t))),
      posTerms.map(_._2), slop, sameTerm(terms)))
  }

  /** SLOPPY PHRASE: the head positions `p_0` of `slots(0)` admitting
    * an assignment of every slot `k` to a position `p_k` of `slots(k)`
    * whose ADJUSTED positions `p_k - offsets(k)` span at most `slop` —
    * Lucene's sloppy-phrase `matchLength` (SloppyPhraseMatcher: each
    * PhrasePositions carries `position - offset`), i.e. ONE shared slop
    * budget across the phrase. The assignment is not order-constrained:
    * transposed alignments match when their span fits (an out-of-order
    * pair alone costs `>= 2`, so slop 0/1 walks stay in order, like
    * Lucene). Two slots `j`, `k` with `clash(j, k)` must take distinct
    * positions (Lucene never lets two phrase positions share a document
    * position): same-term slots for a term phrase, all pairs once a
    * slot matches a token SET (a prefix slot can land on an exact
    * slot's token). At `slop = 0` every adjusted position coincides,
    * which is the shifted-membership test `p_0 + offsets(k) ∈ slots(k)`.
    * Offsets are relative (`offsets(0) == 0`). */
  def phrase(slots: Seq[Column], offsets: Seq[Int], slop: Int,
             clash: (Int, Int) => Boolean): Column = {
    require(slots.nonEmpty && offsets.size == slots.size &&
      offsets.head == 0, "offsets are relative, one per slot")
    val s = clamp(slop)
    if (slots.size == 1) slots.head
    else if (s == 0) filter(slots.head, p0 => slots.indices.tail.map(k =>
      array_contains(slots(k), p0 + lit(offsets(k)))).reduce(_ && _))
    // state: the positions taken so far (slot index, position) and the
    // running [lo, hi] adjusted-position envelope
    else filter(slots.head, p0 =>
      walk[(List[(Int, Column)], Column, Column)](slots,
        (List((0, p0)), p0, p0), { case (k, p, (taken, lo, hi)) =>
          val adj = p - lit(offsets(k))
          val fresh = taken.collect { case (j, q) if clash(j, k) =>
            p =!= q }.foldLeft(adj >= hi - lit(s) && adj <= lo + lit(s))(
            _ && _)
          (fresh, ((k, p) :: taken, least(lo, adj), greatest(hi, adj)))
        }, _ => lit(true)))
  }

  /** ORDERED NEAR (Lucene `span_near` `in_order:true`, intervals
    * `ordered:true`): the head positions `p1` of `slots(0)` from which
    * every later slot `k` can be placed at some `p_k > p_(k-1)` with
    * total interleave `p_n - p1 - (n-1) <= slop`. */
  def near(slots: Seq[Column], slop: Int): Column =
    filter(slots.head, p1 => nearFrom(slots, slop, p1, None))

  /** Lucene `span_containing` / `span_within`: spans `[p1, pn]` of
    * the ordered near over `slots` (a width-1 leaf when one slot)
    * related to the positions `q` of the width-1 `little` span —
    * `[p1, pn]` contains `q` iff `p1 <= q <= pn`. `within = false`
    * keeps the big head positions that contain SOME little position
    * (span_containing's big-span frequency); `within = true` keeps the
    * little positions covered by SOME big span (span_within's). */
  def containing(slots: Seq[Column], slop: Int, little: Column,
                 within: Boolean): Column =
    if (within) filter(little, q => exists(slots.head, p1 =>
      p1 <= q && nearFrom(slots, slop, p1, Some(q))))
    else filter(slots.head, p1 => exists(little, q =>
      q >= p1 && nearFrom(slots, slop, p1, Some(q))))

  /** Whether slots 1.. can be placed in order after the head `p1`
    * inside the slop window; with an `end`, the LAST placed slot (the
    * span end) must also reach it. */
  private def nearFrom(slots: Seq[Column], slop: Int, p1: Column,
                       end: Option[Column]): Column = {
    val s = clamp(slop)
    walk[Column](slots, p1,
      (k, p, prev) => (p > prev && p <= p1 + lit(k + s), p),
      prev => end.map(prev >= _).getOrElse(lit(true)))
  }

  /** UNORDERED PAIR (Lucene `span_near` `in_order:false`, intervals
    * `ordered:false` with `max_gaps`): the positions `p` of `a` for
    * which some position `q != p` of `b` sits within the window
    * (`|p − q| − 1 <= slop` interleaved tokens). Counting `a`'s
    * positions is this engine's documented span-frequency convention
    * (Lucene's non-overlapping enumeration differs only on
    * pathological self-overlap). */
  def pair(a: Column, b: Column, slop: Int): Column = {
    val s = clamp(slop)
    filter(a, p => exists(b, q =>
      q =!= p && greatest(p, q) - least(p, q) - 1 <= lit(s)))
  }

  /** The GREEDY non-overlapping count of ascending match starts for a
    * phrase `width` positions wide: a start counts when it is at or
    * past the end of the last counted match — the left-to-right
    * semantics of the scan path's normalized-substring `replace`
    * count ([[Search.substrCount]]) on self-overlapping phrases. */
  def nonOverlapping(starts: Column, width: Int): Column =
    aggregate(starts, struct(lit(0).as("c"), lit(-1).as("free")),
      (acc, s) => when(s >= acc.getField("free"),
          struct((acc.getField("c") + lit(1)).as("c"),
            (s + lit(width)).as("free")))
        .otherwise(acc),
      acc => acc.getField("c"))

  /** The ONE recursive placement both walkers share, from the head's
    * `state`: each later slot `k` takes some position `p` of
    * `slots(k)` that `step` admits given the state so far (`step`
    * returns the admission predicate and the next state), and once
    * every slot is placed, `done` judges the final state. */
  private def walk[S](slots: Seq[Column], state: S,
                      step: (Int, Column, S) => (Column, S),
                      done: S => Column): Column = {
    def rest(k: Int, state: S): Column =
      if (k == slots.size) done(state)
      else exists(slots(k), p => {
        val (ok, next) = step(k, p, state)
        ok && rest(k + 1, next)
      })
    rest(1, state)
  }
}
