package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Byte-pair-encoding merge training over the corpus — the tokenizer-
  * construction stage of an LLM data pipeline (Sennrich et al. 2016).
  * No reference analogue; first-class training-data operator.
  *
  * Classic BPE trains on the WORD-TYPE table, not the token stream:
  * (distinct word, occurrence count), each word as a symbol sequence
  * (characters + an end-of-word marker). Each round finds the most
  * frequent adjacent symbol pair (weighted by word count) and merges it
  * everywhere. That structure maps cleanly onto Spark:
  *
  *  - The word-type table is the ONLY distributed state: one row per
  *    distinct word — orders of magnitude smaller than the corpus, but
  *    still sharded (a 100 TB multilingual corpus has billions of types;
  *    nothing here assumes it fits anywhere).
  *  - The PAIR-COUNT table is maintained incrementally next to it: per
  *    round a top-1 TakeOrdered over the cached pair table, a delta
  *    explode over only the words that contain the merged pair, and a
  *    conditional-merge projection of the word table (see
  *    [[trainMerges]]). Driver state per round = ONE (left, right,
  *    freq) row, the same bounded-metadata contract as the IVF
  *    codebook.
  *  - Rounds persist/unpersist the word table like
  *    [[Dedup.components]] — lineage stays flat, k rounds = k jobs.
  *
  * Determinism: ties on pair frequency break by (left, right) string
  * order, so training is reproducible run to run and engine to engine —
  * which is what lets the plain-Scala golden model
  * ([[graft.oracle.GoldenModels.bpeMerges]]) pin the output exactly.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Word-type table: (word, wc) over whitespace tokens. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial symbol sequence: one symbol per character, then the
    * end-of-word marker (so merges can learn suffixes). */
  private def initSymbols(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))),
      array(lit(EndOfWord)))

  /** Adjacent symbol pairs, every occurrence (overlaps included —
    * [a,a,a] contributes (a,a) twice, the classic counting). */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** One merge round applied as a single-pass leftmost-nonoverlapping
    * scan: carry (out, prev); a (prev=l, s=r) hit emits the merged
    * symbol and clears prev, so the merged token never re-pairs with
    * the next symbol within the same round. */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val zero = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    val step = (acc: Column, s: Column) => {
      val out = acc.getField("out")
      val prev = acc.getField("prev")
      when(prev.isNull, struct(out.as("out"), s.as("prev")))
        .when(prev === l && s === r,
          struct(concat(out, array(lit(l + r))).as("out"),
            lit(null).cast("string").as("prev")))
        .otherwise(
          struct(concat(out, array(prev)).as("out"), s.as("prev")))
    }
    val fin = (acc: Column) =>
      when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(acc.getField("prev"))))
    aggregate(syms, zero, step, fin)
  }

  /** Lineage cut between iterative rounds: a RELIABLE `checkpoint()`
    * when the session has a configured checkpoint dir (the multi-day
    * production-vocabulary story — recovery from executor/node loss
    * replays from HDFS/S3 files, not from the lost executors' block
    * store), else the fast `localCheckpoint(eager = false)` that trades
    * recoverability for speed at sandbox scale. Lazy in both modes so
    * each round still runs ONE driver action; the reliable mode pays
    * one extra computation of each table per round (the checkpoint
    * write job re-runs the unpersisted plan) — the durability tax.
    * Checkpoint FILES are deleted when the round rotates out
    * ([[org.apache.spark.sql.graft.DatasetUtils.unpersistPlanRdd]]) —
    * Spark's cleaner does not do that by default, and a 32k-merge run
    * must not leave 32k table snapshots on disk. */
  private[graft] def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(false)

  /** Train `numMerges` merges; returns (step, left, right, freq) rows.
    * Stops early if no adjacent pair remains (fully merged corpus).
    *
    * INCREMENTAL pair-count maintenance (the fastBPE/HuggingFace-trainer
    * technique, distributed): the pair-count table is persistent state
    * alongside the word table, and each round UPDATES it from the merge's
    * delta instead of recounting every pair of every word —
    *
    *  - top-1: one TakeOrdered over the cached pair table (pair-type
    *    rows, orders of magnitude smaller than the word table);
    *  - delta: only words CONTAINING the merged pair are exploded —
    *    old pairs weighted −wc, post-merge pairs +wc, one hash agg; by
    *    mid-training that is a vanishing fraction of the corpus, which
    *    is what makes per-merge cost sub-linear in the word table
    *    (the recount form re-aggregates every pair every round);
    *  - pair table ← full-outer join with the (tiny) delta, zero counts
    *    dropped; word table ← one conditional-merge projection.
    *
    * Still one action per round (the top-k materializes the previous
    * round's lazy state), and each round's word/pair tables are cut to
    * a flat lineage ([[cut]]: reliable `checkpoint()` under a
    * configured checkpoint dir, else `localCheckpoint(eager=false)`) —
    * without the cut, round k's plan nests k joins/projections and
    * Catalyst re-analysis makes late rounds quadratically slow (a
    * 64-round nested plan overflows the tree-string stack outright).
    *
    * BATCHED ROUNDS: each round takes the top-`batchCap` pairs and
    * applies the longest PREFIX of them that provably matches what
    * sequential greedy BPE would pick — a candidate joins the batch
    * only when (a) its own count cannot have been changed by the
    * earlier batch members (no shared symbols, including the created
    * `l+r` strings), and (b) no pair created by an earlier member can
    * out-rank it: a created pair `(x, l·r)` needs a pre-merge
    * `(x, l)` occurrence at the same position, so its count is bounded
    * by an EXISTING pair count adjacent to the merge — and every pair
    * with count ≥ the candidate's is in the fetched top-k, where the
    * adjacency is checked directly. One projection applies the whole
    * batch (flat generated loop, [[org.apache.spark.sql.graft.BpeApplySyms]]),
    * so a 32k-merge vocabulary needs ~batch-size-fewer driver rounds
    * while producing BIT-IDENTICAL merges (BpeSpec pins 256 merges
    * against the golden sequential trainer).
    *
    * [[trainMergesRecount]] keeps the recount-every-round reference
    * form; BpeSpec pins both to the golden trainer at 64 merges. */
  def trainMerges(docs: DataFrame, textCol: String,
                  numMerges: Int): Seq[(Int, String, String, Long)] =
    trainMergesBatched(docs, textCol, numMerges)._1

  /** [[trainMerges]] exposing the round count: (merges, driver rounds).
    * `batchCap` bounds merges per round; 1 = the sequential form. The
    * default is effectively "as long as the provably-safe prefix runs":
    * the binding constraint becomes the data (interaction/aliasing
    * stops), not an arbitrary cap — on a Zipf word table the tail
    * rounds accept hundreds of well-separated merges each, which is
    * where a 32k-vocab run spends nearly all its budget. */
  def trainMergesBatched(docs: DataFrame, textCol: String, numMerges: Int,
                         batchCap: Int = 1024)
      : (Seq[(Int, String, String, Long)], Int) = {
    import org.apache.spark.sql.graft.DatasetUtils.unpersistPlanRdd
    require(batchCap >= 1, "batchCap must be at least 1")
    var words = cut(wordCounts(docs, textCol)
      .select(col("wc"), initSymbols(col("word")).as("syms")))
    var pairs = cut(words
      .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("freq")))
    // two-round history: words_{i-1} is still the physical parent of
    // words_i's (lazy) checkpoint until round i+1's action materializes
    // it, so storage is released with a one-round lag
    val live = scala.collection.mutable.Queue.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    // every symbol string MERGES have ever created — with the initial
    // symbols (single code points + the end-of-word marker) this fully
    // characterizes the live symbol universe driver-side, which is what
    // lets selectBatch refuse to batch through created-symbol ALIASING
    val priorMades = scala.collection.mutable.Set.empty[String]
    // the words frame whose first execution rides the NEXT round's
    // collect — materialized (lineage-truncated) right after it; the
    // initial word table executes during round 1's collect (the initial
    // pair table derives from it)
    var prevWords: DataFrame = words
    var rounds = 0
    try {
      var exhausted = false
      while (merges.length < numMerges && !exhausted) {
        val want = math.min(batchCap, numMerges - merges.length)
        // OVER-fetch beyond the accept window: a candidate whose count
        // equals the last fetched frequency is rejected as uncertain
        // (an unfetched pair could tie it), so fetching exactly `want`
        // seals well-separated prefixes at the boundary. Half again
        // plus a constant keeps the boundary clear; rows are two short
        // strings + a count, and the hazard scan is bounded to the
        // ≥-frequency tie prefix, so a 4096-row fetch stays trivial
        // driver-side.
        val fetch =
          if (batchCap == 1) 1
          else math.min(4096, want + want / 2 + 32)
        val top = pairs.orderBy(col("freq").desc, col("l"), col("r"))
          .limit(fetch).collect()
          .map { case Row(l: String, r: String, f: Long) => (l, r, f) }
        rounds += 1
        // Truncate the word table that the collect above just computed.
        // runJob's own doCheckpoint only materializes the NEAREST mark
        // on the action path (the pairs cut); every words cut is an
        // ANCESTOR of it, so without this explicit materialization the
        // words lineage chains marked-but-untruncated RDDs two deep per
        // round — task serialization overflows the stack near round 250
        // (word blocks were cached all along; only the dependency
        // truncation was missing, so this is a free metadata job in
        // local mode and the documented write tax in reliable mode).
        // The words frame ENTERING round k executes during round k+1's
        // collect (its plan rides that round's delta), hence the
        // one-round lag.
        if (prevWords != null) {
          org.apache.spark.sql.graft.DatasetUtils
            .materializeCheckpoint(prevWords)
          prevWords = null
        }
        while (live.size > 4) unpersistPlanRdd(live.dequeue())
        if (top.isEmpty) exhausted = true
        else {
          // the safe prefix of a valid batch is itself valid, so
          // truncating the over-fetched selection to the accept window
          // preserves sequential equivalence
          val batch = selectBatch(top, fetchedAll = top.length < fetch,
            priorMades).take(want)
          batch.foreach { case (l, r, _) => priorMades += (l + r) }
          batch.foreach { case (l, r, f) =>
            merges += ((merges.length + 1, l, r, f))
          }
          val bp = batch.map { case (l, r, _) => (l, r) }
          val applied = org.apache.spark.sql.graft.BpeExpressions
            .bpeApplySyms(col("syms"), bp)
          // "did any batch pair fire?" IS "did the apply change the
          // array" — one flat-loop evaluation, no per-pair predicate.
          // (The earlier per-pair exists(...) OR-reduce serialized an
          // expression tree as deep as the batch: fine at a 64 cap,
          // a task-deserialization StackOverflowError at adaptive
          // batch sizes.)
          val hasAny = not(applied <=> col("syms"))
          val oldPairs = transform(adjacentPairs(col("syms")),
            p => struct(p.getField("l").as("l"), p.getField("r").as("r"),
              lit(-1L).as("sgn")))
          val newPairs = transform(adjacentPairs(applied),
            p => struct(p.getField("l").as("l"), p.getField("r").as("r"),
              lit(1L).as("sgn")))
          val delta = words.filter(hasAny)
            .select(col("wc"), explode(concat(oldPairs, newPairs)).as("d"))
            .groupBy(col("d.l").as("l"), col("d.r").as("r"))
            .agg(sum(col("wc") * col("d.sgn")).as("dfreq"))
            .filter(col("dfreq") =!= 0L)
          live.enqueue(pairs)
          pairs = cut(pairs.join(delta, Seq("l", "r"), "full_outer")
            .select(col("l"), col("r"),
              (coalesce(col("freq"), lit(0L)) +
                coalesce(col("dfreq"), lit(0L))).as("freq"))
            .filter(col("freq") > 0L))
          live.enqueue(words)
          prevWords = words // executes (and is then truncated) next round
          words = cut(words.select(col("wc"),
            applied.as("syms"))) // == syms wherever no pair fired
        }
      }
      (merges.toSeq, rounds)
    } finally {
      live.foreach(unpersistPlanRdd)
      unpersistPlanRdd(words)
      unpersistPlanRdd(pairs)
    }
  }

  /** The longest sequential-equivalent prefix of the fetched top pairs
    * (sorted by freq desc, l, r — the sequential pick order).
    *
    * Invariants making the batch EXACTLY greedy BPE:
    *  - prefix-only: the first rejected candidate stops the batch (a
    *    rejected pair's count may change, so later picks could differ);
    *  - symbol-disjoint: a candidate's l, r, and created l+r must not
    *    collide with any accepted member's l, r, or created string —
    *    so applying earlier members cannot change the candidate's
    *    count, and no created pair can EQUAL a batch member;
    *  - created-pair dominance: a pair created by accepted (bl, br) at
    *    some position needs a pre-merge (x, bl) or (br, y) occurrence
    *    there, so its count ≤ that existing pair's count. Every
    *    existing pair with count ≥ the candidate's freq is in the
    *    fetched list (it is sorted, and `cutoff` guards the boundary),
    *    and every such pair with count STRICTLY above the candidate is
    *    already accepted (prefix) — hence symbol-disjoint and
    *    non-adjacent. The only remaining risk is an equal-count fetched
    *    tie adjacent to an accepted member: the created pair it bounds
    *    could TIE the candidate — hazardous only if that created pair
    *    would also WIN the (l, r) string tie-break;
    *  - no created-symbol ALIASING: the single-pair bound above
    *    attributes every occurrence of a created pair to ONE pre-merge
    *    pair, which holds only while each accepted merge's `l+r`
    *    string is a genuinely NEW symbol. If it collided with an
    *    existing symbol (a prior round's made string, the end-of-word
    *    marker, a single code point) or with another batch member's
    *    made string, counts from the two origins would AGGREGATE (e.g.
    *    ('a','bc') and ('ab','c') both minting "abc") and a created
    *    pair could out-rank a later candidate without any single
    *    fetched pair revealing it. The symbol universe is fully known
    *    driver-side (initial symbols are single code points + the
    *    marker; everything else came from recorded merges), so the
    *    batch simply refuses to extend past an aliasing member. */
  private[graft] def selectBatch(top: Array[(String, String, Long)],
                                 fetchedAll: Boolean,
                                 priorMades: scala.collection.Set[String])
      : Seq[(String, String, Long)] = {
    val cutoff = if (fetchedAll) Long.MinValue else top.last._3
    val accepted = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    val batchMades = scala.collection.mutable.Set.empty[String]
    // made collides with a symbol that can already exist
    def aliases(made: String): Boolean =
      priorMades.contains(made) || batchMades.contains(made) ||
        made == EndOfWord ||
        made.codePointCount(0, made.length) == 1
    // (pl, pr) strictly before (cl, cr) in the sequential tie-break
    def pairLt(pl: String, pr: String, cl: String, cr: String): Boolean =
      pl < cl || (pl == cl && pr < cr)
    // Does applying accepted (bl, br) change count(cl, cr)? An
    // occurrence of (cl, cr) is destroyed only when one of its two
    // positions is consumed by a fired (bl, br) merge — which forces
    // cr == bl (candidate ends where a merge starts) or cl == br
    // (candidate starts where one ends); sharing only a LEFT symbol
    // ((e,r) then (e,s)) or only a RIGHT one cannot overlap. Created
    // occurrences involve the new bl+br symbol, so cl/cr equal to it
    // also interact. (b = (a,a) self-pairs are fully covered: any
    // candidate touching `a` hits the first two cases.)
    def interacts(cl: String, cr: String,
                  bl: String, br: String): Boolean = {
      val made = bl + br
      cr == bl || cl == br || cl == made || cr == made
    }
    var stop = false
    for ((l, r, f) <- top if !stop) {
      val first = accepted.isEmpty
      val certain = fetchedAll || f > cutoff
      val clean = !aliases(l + r)
      val disjoint = !accepted.exists { case (bl, br, _) =>
        interacts(l, r, bl, br) }
      // every non-accepted fetched pair has freq ≤ f (the prefix above
      // this candidate is fully accepted), so a created pair can reach
      // AT MOST f — it pre-empts the candidate only by tying at f AND
      // winning the string tie-break. q supplies the bound: a created
      // (x, b.l+b.r) needs a pre-merge (q.l, b.l) occurrence, a
      // created (b.l+b.r, y) a pre-merge (b.r, q.r) one. The created
      // pair's OUTER endpoint is q's outer symbol — unless that symbol
      // was itself consumed by another accepted merge, in which case it
      // is that merge's made string (one level only: a merge whose
      // symbol IS another's made string would have been rejected as
      // interacting) — so the tie-break test ranges over both.
      // `top` is sorted by freq desc, so the qf ≥ f constraint bounds
      // the scan to the leading tie prefix — with well-separated
      // frequencies (the long-batch case) this is a handful of rows
      // even when thousands were fetched
      lazy val hazard = top.iterator.takeWhile(_._3 >= f)
          .exists { case (ql, qr, qf) =>
        qf >= f && accepted.exists { case (bl, br, _) =>
          val made = bl + br
          (qr == bl && {
            val outerLefts = ql +: accepted.collect {
              case (xl, xr, _) if xr == ql => xl + xr }.toSeq
            outerLefts.exists(pl => pairLt(pl, made, l, r))
          }) || (ql == br && {
            val outerRights = qr +: accepted.collect {
              case (xl, xr, _) if xl == qr => xl + xr }.toSeq
            outerRights.exists(pr => pairLt(made, pr, l, r))
          })
        }
      }
      if (first || (certain && clean && disjoint && !hazard)) {
        accepted += ((l, r, f))
        batchMades += (l + r)
        // an aliasing member is legal on its own (sequential handles
        // aliasing fine) but invalidates the single-origin bound for
        // everything after it — seal the batch here
        if (!clean) stop = true
      } else stop = true
    }
    accepted.toSeq
  }

  /** The recount-every-round reference trainer (the pre-incremental
    * form): per round one FULL pair explode + agg over the whole word
    * table — the property that distinguishes it from [[trainMerges]].
    * Kept as the independent cross-check the incremental form is pinned
    * against (BpeSpec) and as the simplest statement of the semantics.
    * Rounds use the same flat `localCheckpoint` lineage cut (nested
    * per-round persist chains make Spark 4's AQE re-stringify a plan
    * that embeds every earlier round's cached plan — quadratic strings,
    * stack overflow by round ~30). */
  def trainMergesRecount(docs: DataFrame, textCol: String,
                         numMerges: Int): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.sql.graft.DatasetUtils.unpersistPlanRdd
    var words = cut(wordCounts(docs, textCol)
      .select(col("wc"), initSymbols(col("word")).as("syms")))
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    try {
      var step = 1
      var exhausted = false
      while (step <= numMerges && !exhausted) {
        val top = words
          .select(col("wc"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wc")).as("freq"))
          .orderBy(col("freq").desc, col("l"), col("r"))
          .limit(1).collect()
        prev.foreach(unpersistPlanRdd) // `words` materialized just above
        prev = Some(words)
        if (top.isEmpty) exhausted = true
        else {
          val Row(l: String, r: String, freq: Long) = top(0)
          merges += ((step, l, r, freq))
          words = cut(words
            .select(col("wc"), applyMerge(col("syms"), l, r).as("syms")))
          step += 1
        }
      }
      merges.toSeq
    } finally {
      prev.foreach(unpersistPlanRdd)
      unpersistPlanRdd(words)
    }
  }

  /** [[trainMerges]] as a DataFrame (step, left, right, freq) — the
    * merge table IS the trained artifact (k rows, bounded metadata). */
  def trainMergesDf(spark: SparkSession, docs: DataFrame, textCol: String,
                    numMerges: Int): DataFrame = {
    import spark.implicits._
    trainMerges(docs, textCol, numMerges)
      .toDF("step", "left", "right", "freq")
  }

  /** Trained VOCABULARY: corpus-weighted symbol frequencies after
    * applying `merges` — the artifact a tokenizer ships next to its
    * merge table. Same vocab-level economics as [[encodeTokenCounts]]:
    * the merge chain runs over distinct words, frequencies come from
    * one weighted explode + hash agg. */
  def vocab(docs: DataFrame, textCol: String,
            merges: Seq[(String, String)]): DataFrame =
    wordCounts(docs, textCol)
      .select(col("wc"), explode(encodedSymbols(col("word"), merges))
        .as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("wc")).as("freq"))

  /** Symbols of a word column under a trained merge list — ONE flat
    * generated loop over the broadcast-style merge table
    * ([[org.apache.spark.sql.graft.BpeEncodeWord]]) instead of folding
    * k nested `aggregate()` HOFs (whose expression-tree depth and
    * interpreted per-element dispatch make 10k+ merge tables unusable).
    * Pinned bit-identical to the HOF fold in BpeSpec. */
  def encodedSymbols(word: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.BpeExpressions
      .bpeEncodeWord(word, merges, EndOfWord)

  /** The k-nested-HOF encode (fold of [[applyMerge]]) — the reference
    * form [[encodedSymbols]] is pinned against; fine for small k. */
  private[graft] def encodedSymbolsHof(word: Column,
                                       merges: Seq[(String, String)]): Column =
    merges.foldLeft(initSymbols(word)) {
      case (s, (l, r)) => applyMerge(s, l, r)
    }

  /** ENCODE under a trained merge list: per-document whitespace-word and
    * BPE-subword counts — the token-budget number that [[Pack]] and a
    * trainer actually consume. Merge application contract: one
    * leftmost-nonoverlapping pass per merge, in training order (the
    * same pass [[trainMerges]] applies per round).
    *
    * Cost scales with |vocabulary|, not corpus: each distinct word type
    * is encoded ONCE (the merge chain is a pure projection over the
    * distinct-word table) and the per-word subword count joins back
    * onto the token stream — at 100 TB that join is (word, small-int)
    * against an explode, both shuffled on the word key, while the
    * k-deep merge projection runs over the comparatively tiny vocab.
    *
    * The returned plan reads a persisted token stage
    * ([[graft.StageCache.stage]]) that stays cached after the caller's
    * action. `Bench`, `BenchSome`, `Verify`, `ExplainDump` and
    * `HttpApi` release it at their query boundary; any other caller
    * must call [[graft.StageCache.releaseAll]] once its action is done,
    * or run the call and the action inside [[graft.StageCache.scoped]]. */
  def encodeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val encoded = encodedSymbols(col("word"), merges)
    // r19: ONE corpus tokenization — the (id, word) token stream is
    // staged and feeds BOTH the distinct-vocab derivation and the
    // join-back (before, the corpus was scanned + tokenized twice,
    // once per consumer). Released at the query boundary by the
    // harness owning the action (StageCache contract).
    val toks = graft.StageCache.stage(docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol)))
        .as("word")))
    val vocab = toks.select(col("word"))
      .distinct()
      .select(col("word"), size(encoded).as("n_sub"))
    toks
      .join(vocab, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_bpe_tokens"))
  }
}
