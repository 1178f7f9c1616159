package graft

import org.apache.spark.sql.DataFrame

import graft.serving.Search
import graft.sinks.{DocumentSink, SearchIndex}

/** The write-time search index must be INDISTINGUISHABLE from the
  * scan-path scorers in results (same expression tree over the same
  * integers ⇒ same doubles), radically different in plan (postings
  * probe, no corpus scan), and exactly maintainable under upserts
  * (integer-delta statistics == full rebuild). */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs = Seq(
    (1L, "the window is a window", "src_a"),
    (2L, "no match here", "src_b"),
    (3L, "window", "window_src3"),
    (4L, null, "also window src3"),
    (5L, "the the the of of window batch", "src3"),
    (6L, "of a window to the batch run", null)
  ).toDF("doc_id", "text", "source")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Current generation's table dir (the meta pointer names it). */
  private def tdir(path: String): String =
    s"$path/g${SearchIndex.readMeta(path).gen}"

  test("indexed bm25/tfidf == scan-path scorers, bit for bit, across " +
    "single-field, most_fields, best_fields, boosts and cursors") {
    val path = tmp("graft-idx-eq-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    val cases: Seq[(DataFrame, DataFrame)] = Seq(
      // single field, bm25
      Search.bm25(docs, "window the of", "text", "doc_id") ->
        SearchIndex.ranked(spark, path, "window the of", Seq("text")),
      // single field, tfidf
      Search.tfidf(docs, "window the of", "text", "doc_id") ->
        SearchIndex.ranked(spark, path, "window the of", Seq("text"),
          bm25 = false),
      // most_fields sum across both fields
      Search.bm25Fields(docs, "window src3", Seq("text", "source"),
        "doc_id") ->
        SearchIndex.ranked(spark, path, "window src3",
          Seq("text", "source")),
      // best_fields max
      Search.bm25Fields(docs, "window src3", Seq("text", "source"),
        "doc_id", bestFields = true) ->
        SearchIndex.ranked(spark, path, "window src3",
          Seq("text", "source"), bestFields = true),
      // field^boost
      Search.bm25Fields(docs, "window src3", Seq("text", "source"),
        "doc_id", boosts = Map("source" -> 3.0)) ->
        SearchIndex.ranked(spark, path, "window src3",
          Seq("text", "source"), boosts = Map("source" -> 3.0)),
      // pagination cursor (strictly-after semantics)
      Search.bm25Fields(docs, "window src3", Seq("text", "source"),
        "doc_id", after = Some((2.0, 1L))) ->
        SearchIndex.ranked(spark, path, "window src3",
          Seq("text", "source"), after = Some((2.0, 1L))))
    cases.zipWithIndex.foreach { case ((scan, probe), i) =>
      val s = scan.collect().map(_.toString).toSeq
      val p = probe.collect().map(_.toString).toSeq
      assert(p == s, s"case $i: indexed != scan\nscan:  $s\nprobe: $p")
      assert(s.nonEmpty, s"case $i: degenerate (empty) comparison")
    }
    // inputs that score nothing — a query analyzing to zero terms and
    // a term absent from the corpus: both paths answer empty, alike
    val empty: Seq[(DataFrame, DataFrame)] = for {
      q <- Seq("!!! ...", "zebra")
      bm25 <- Seq(true, false)
      fields <- Seq(Seq("text"), Seq("text", "source"))
    } yield (if (bm25) Search.bm25Fields(docs, q, fields, "doc_id")
             else Search.tfidfFields(docs, q, fields, "doc_id")) ->
      SearchIndex.ranked(spark, path, q, fields, bm25 = bm25)
    empty.zipWithIndex.foreach { case ((scan, probe), i) =>
      val s = scan.collect().map(_.toString).toSeq
      val p = probe.collect().map(_.toString).toSeq
      assert(p == s, s"empty case $i: indexed != scan\nscan:  $s\nprobe: $p")
      assert(s.isEmpty, s"empty case $i: scored $s")
    }
  }

  test("probe plan reads ONLY the index (term filter pushed to the " +
    "postings scan) — no corpus scan, no corpus-wide aggregate") {
    val src = tmp("graft-idx-src-")
    docs.write.mode("overwrite").parquet(s"$src/docs.parquet")
    val onDisk = spark.read.parquet(s"$src/docs.parquet")
    val path = tmp("graft-idx-plan-")
    SearchIndex.build(onDisk, Seq("text", "source"), "doc_id", path)
    val probe = SearchIndex.ranked(spark, path, "window src3",
      Seq("text", "source"))
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "10000")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains(src),
        s"probe plan scans the corpus:\n$plan")
      assert(plan.contains("In(term"),
        s"term filter not pushed to the postings scan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian in the probe plan:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k is not a TakeOrdered:\n$plan")
    } finally spark.conf.set(key, saved)
  }

  test("completionRanked == the scan-path completion suggester bit " +
    "for bit (case fold, rank, skip_duplicates), with the prefix " +
    "predicate PUSHED to the sorted inputs dictionary — no corpus " +
    "scan; upsert maintains the dictionary like a rebuild") {
    import org.apache.spark.sql.functions.col
    val cdocs = Seq(
      (1L, "Window functions", "alpha"),
      (2L, "window functions", "Windy day"), // duplicate value, cased
      (3L, "windmill", null),
      (7L, "windmill", "windy night"),
      (5L, "batch jobs", "beta"))
      .toDF("doc_id", "text", "source")
    val src = tmp("graft-idx-comp-src-")
    cdocs.write.mode("overwrite").parquet(s"$src/docs.parquet")
    val onDisk = spark.read.parquet(s"$src/docs.parquet")
    val path = tmp("graft-idx-comp-")
    SearchIndex.build(onDisk, Seq("text", "source"), "doc_id", path)
    assert(SearchIndex.hasInputs(path))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def scan(prefix: String, field: String, skip: Boolean) =
      graft.serving.EsDsl.completionSuggest(onDisk, om.readTree(
        s"""{"ac": {"prefix": "$prefix", "completion": {"field":
          "$field", "size": 10, "skip_duplicates": $skip}}}"""))
    for ((p, f, sk) <- Seq(("Wind", "text", false),
        ("wind", "text", true), ("windy", "source", false),
        ("WINDY", "source", true), ("zzz", "text", false))) {
      val a = sortedRows(scan(p, f, sk))
      val b = sortedRows(SearchIndex.completionRanked(spark, path,
        p, f, size = 10, skipDuplicates = sk))
      assert(a == b, s"completion '$p' on $f (skip=$sk) diverged\n" +
        s"$a\nvs\n$b")
    }
    // CATEGORY-context parity: the probe gates prefix hits by a
    // semi-join against the context field's own dictionary rows
    val aCtx = sortedRows(graft.serving.EsDsl.completionSuggest(
      onDisk, om.readTree(
        """{"ac": {"prefix": "wind", "completion": {"field": "text",
          "size": 10, "contexts": {"source":
          ["alpha", "Windy day"]}}}}""")))
    val bCtx = sortedRows(SearchIndex.completionRanked(spark, path,
      "wind", "text", size = 10,
      contexts = Seq("source" ->
        Seq("alpha" -> 1.0, "Windy day" -> 1.0))))
    assert(aCtx == bCtx && aCtx.size == 2,
      s"context completion diverged\n$aCtx\nvs\n$bCtx")
    // BOOSTED contexts (round 16): the matched entry's boost rides
    // the option score on both routes — 'alpha' options outrank the
    // 'Windy day' one; skip_duplicates keeps the best-scoring dup
    val aB = sortedRows(graft.serving.EsDsl.completionSuggest(
      onDisk, om.readTree(
        """{"ac": {"prefix": "wind", "completion": {"field": "text",
          "size": 10, "contexts": {"source":
          [{"context": "alpha", "boost": 3}, "Windy day"]}}}}""")))
    val bB = sortedRows(SearchIndex.completionRanked(spark, path,
      "wind", "text", size = 10,
      contexts = Seq("source" ->
        Seq("alpha" -> 3.0, "Windy day" -> 1.0))))
    assert(aB == bB, s"boosted context diverged\n$aB\nvs\n$bB")
    assert(aB.exists(_.contains("3.0")), s"boost not applied: $aB")
    // FUZZY parity: misspelled prefix, interior transposition with
    // the Damerau/Levenshtein switch — scan twin and probe identical
    def scanF(prefix: String, f: Int, tr: Boolean) =
      graft.serving.EsDsl.completionSuggest(onDisk, om.readTree(
        s"""{"ac": {"prefix": "$prefix", "completion": {"field":
          "text", "size": 10, "fuzzy": {"fuzziness": "$f",
          "min_length": 0, "transpositions": $tr}}}}"""))
    for ((p, f, tr) <- Seq(("Wimd", 1, true), ("wnidmill", 1, true),
        ("wnidmill", 1, false), ("widnow", 2, false))) {
      val a = sortedRows(scanF(p, f, tr))
      val b = sortedRows(SearchIndex.completionRanked(spark, path,
        p, "text", size = 10, edits = f, transpositions = tr))
      assert(a == b,
        s"fuzzy completion '$p' (f=$f, tr=$tr) diverged\n$a\nvs\n$b")
      if (p == "wnidmill" && tr) assert(a.nonEmpty)
    }
    // REGEX parity (round 16): the pattern anchors at the input's
    // start with an open end, on both routes — scan twin and probe
    // identical; contexts still gate
    for (re <- Seq("windm.l+", "window (f|a)", "w[io]nd", "zzz")) {
      val a = sortedRows(graft.serving.EsDsl.completionSuggest(
        onDisk, om.readTree(s"""{"ac": {"regex": "$re", "completion":
          {"field": "text", "size": 10}}}""")))
      val b = sortedRows(SearchIndex.completionRanked(spark, path,
        "", "text", size = 10, regex = Some(re)))
      assert(a == b, s"regex completion '$re' diverged\n$a\nvs\n$b")
    }
    assert(sortedRows(SearchIndex.completionRanked(spark, path,
        "", "text", size = 10, regex = Some("wind.*"),
        contexts = Seq("source" -> Seq("alpha" -> 1.0)))) ==
      sortedRows(graft.serving.EsDsl.completionSuggest(onDisk,
        om.readTree("""{"ac": {"regex": "wind.*", "completion":
          {"field": "text", "size": 10, "contexts":
          {"source": ["alpha"]}}}}"""))))
    // plan: the probe reads ONLY the inputs dictionary, with the
    // case-folded prefix pushed as StartsWith — the FST-walk analog
    val probe = SearchIndex.completionRanked(spark, path, "Wind",
      "text", size = 10)
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "10000")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains(src),
        s"completion probe scans the corpus:\n$plan")
      assert(plan.contains("StartsWith(input_lc,wind"),
        s"prefix not pushed to the inputs scan:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k is not a TakeOrdered:\n$plan")
    } finally spark.conf.set(key, saved)
    // upsert: replaced and inserted values move through the same
    // delta; dictionary == a full rebuild's
    val v2 = Seq((3L, "wind turbine", "gamma"),
      (9L, "windowsill", null)).toDF("doc_id", "text", "source")
    SearchIndex.upsert(v2, path)
    val reb = tmp("graft-idx-comp-reb-")
    SearchIndex.build(
      onDisk.filter(col("doc_id") =!= 3L).unionByName(v2),
      Seq("text", "source"), "doc_id", reb)
    val a = sortedRows(spark.read.parquet(s"${tdir(path)}/inputs"))
    val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/inputs"))
    assert(a == b, s"inputs diverged after upsert\n$a\nvs\n$b")
    assert(sortedRows(SearchIndex.completionRanked(spark, path,
        "wind", "text", size = 10)) ==
      sortedRows(SearchIndex.completionRanked(spark, reb,
        "wind", "text", size = 10)))
  }

  test("MLT statistics probe: integer-identical to the scan-path " +
    "docFreqs, and both probe frames read ONLY index tables") {
    val src = tmp("graft-idx-mltsrc-")
    docs.write.mode("overwrite").parquet(s"$src/docs.parquet")
    val onDisk = spark.read.parquet(s"$src/docs.parquet")
    val path = tmp("graft-idx-mlt-")
    SearchIndex.build(onDisk, Seq("text", "source"), "doc_id", path)
    val terms = Seq("window", "batch", "qqq")
    // scan-path numbers, spelled the way Ctx.docFreqs aggregates them
    import org.apache.spark.sql.functions._
    val scanN = onDisk.count()
    val scanDfs = onDisk.select(explode(array_distinct(
        graft.functions.TextFunctions.tokens(
          lower(coalesce(col("text").cast("string"), lit("")))))).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy("t").agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n, dfs) = SearchIndex.docFreqs(spark, path, "text", terms)
    assert(n == scanN)
    assert(dfs == scanDfs, s"index dfs $dfs != scan dfs $scanDfs")
    assert(dfs.contains("window") && !dfs.contains("qqq"))
    // IO pin: every file scan in both probe plans lives under the index
    val (nDf, dfDf) = SearchIndex.docFreqFrames(spark, path, "text", terms)
    Seq(nDf, dfDf).foreach { fr =>
      fr.collect()
      val scans = fr.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.nonEmpty)
      scans.foreach { sc =>
        val locs = sc.relation.location.rootPaths.map(_.toString)
        assert(locs.forall(_.contains(path)),
          s"MLT stats probe read outside the index: $locs")
      }
    }
  }

  test("upsert == full rebuild: postings, doclens, termstats, " +
    "fieldstats and query results all identical after replace+insert") {
    val v2new = Seq(
      (3L, "batch of batch window", "src9"), // replaces doc 3
      (7L, "a brand new window doc", null))  // inserted
      .toDF("doc_id", "text", "source")
    val merged = docs.filter($"doc_id" =!= 3L).unionByName(v2new)
    val inc = tmp("graft-idx-inc-")
    val reb = tmp("graft-idx-reb-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", inc)
    SearchIndex.upsert(v2new, inc)
    SearchIndex.build(merged, Seq("text", "source"), "doc_id", reb)
    for (t <- Seq("postings", "doclens", "inputs", "termstats", "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(inc)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"$t diverged after upsert\nupserted: $a\nrebuilt:  $b")
    }
    val qi = SearchIndex.ranked(spark, inc, "window batch of",
      Seq("text", "source")).collect().map(_.toString).toSeq
    val qr = SearchIndex.ranked(spark, reb, "window batch of",
      Seq("text", "source")).collect().map(_.toString).toSeq
    val qs = Search.bm25Fields(merged, "window batch of",
      Seq("text", "source"), "doc_id").collect().map(_.toString).toSeq
    assert(qi == qr, "upserted index ranks differently from rebuild")
    assert(qi == qs, "upserted index ranks differently from scan path")
  }

  test("index-time english analyzer: write-time stems at stop-consumed " +
    "positions with stop-filtered dl; queries analyze with the FIELD's " +
    "chain; upsert == rebuild; the testdata vocabulary's stem classes " +
    "equal the oracle's literal map") {
    import org.apache.spark.sql.functions.col
    // pin the oracle-side literal stem map (ParityQueries.enToksSql)
    // against the engine's stemmer over the FULL testdata vocabulary —
    // if either drifts, this fails before the driver gate does
    val vocabulary = Seq("a", "agg", "batch", "big", "column",
      "customer", "data", "dup", "fast", "filter", "group", "hash",
      "join", "key", "line", "merge", "order", "part", "query", "row",
      "scan", "slow", "small", "sort", "spark", "stream", "table",
      "the", "value", "vector", "window")
    val mapped = Map("merge" -> "merg", "query" -> "queri",
      "table" -> "tabl", "value" -> "valu", "customer" -> "custom",
      "key" -> "kei")
    val stops = Set("a", "the")
    vocabulary.filterNot(stops).foreach { w =>
      assert(graft.functions.EnglishAnalysis.analyze(w) ==
        Seq(mapped.getOrElse(w, w)), s"stem drift on '$w'")
    }
    stops.foreach(w =>
      assert(graft.functions.EnglishAnalysis.analyze(w).isEmpty))

    // two docs whose DIFFERENT surface forms stem to the same postings
    val edocs = Seq(
      (1L, "sort the window merge"),       // sort@0 window@2 merg@3
      (2L, "sorting the windows merges"),  // identical stems+positions
      (3L, "sort window now"),             // adjacent: window@1
      (4L, "the a the"))                   // all stopwords: dl 0
      .toDF("doc_id", "text")
    val eng = tmp("graft-idx-eng-map-")
    SearchIndex.build(edocs, Seq("text"), "doc_id", eng,
      analyzer = "english")
    assert(SearchIndex.readMeta(eng).analyzer == "english")
    val post = spark.read.parquet(s"${tdir(eng)}/postings")
    // write-time stems at ORIGINAL token indices, stop positions
    // consumed; dl counts emitted stems only
    val d1 = post.filter(col("doc_id") === 1L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"), r.getAs[Int]("dl"))).toSet
    assert(d1 == Set(("sort", Seq(0), 3), ("window", Seq(2), 3),
      ("merg", Seq(3), 3)), d1.toString)
    val d2 = post.filter(col("doc_id") === 2L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"))).toSet
    assert(d2 == Set(("sort", Seq(0)), ("window", Seq(2)),
      ("merg", Seq(3))), "inflections must stem to doc 1's postings")
    assert(post.filter(col("doc_id") === 4L).count() == 0)
    // the query analyzes with the field's chain: "merging" stems to
    // 'merg' and matches docs holding "merge"/"merges" — impossible
    // against a standard index of the same corpus
    val std = tmp("graft-idx-eng-std-")
    SearchIndex.build(edocs, Seq("text"), "doc_id", std)
    assert(SearchIndex.ranked(spark, eng, "merging", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(SearchIndex.ranked(spark, std, "merging", Seq("text"))
      .count() == 0)
    // phrases: BOTH sides gapped — "sorted the windows" (sort@0,
    // window@2) finds the stop-gap docs, not the adjacent one; the
    // dense "sorted windows" (sort@0, window@1) finds only doc 3
    def phr(q: String): Set[Long] =
      SearchIndex.phraseRanked(spark, eng, q, Seq("text"))
        .collect().map(_.getLong(0)).toSet
    assert(phr("sorted the windows") == Set(1L, 2L))
    assert(phr("sorted windows") == Set(3L))
    // all-stopword phrase: zero hits, no error, on both phrase probes
    assert(phr("the a") == Set.empty)
    assert(SearchIndex.phrase(spark, eng, "the a", Seq("text"))
      .count() == 0)
    // docs 1 and 2 carry identical postings and dl -> identical score
    val sc = SearchIndex.ranked(spark, eng, "merging the sort",
      Seq("text")).collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(sc(1L) == sc(2L), sc.toString)
    // upsert re-tokenizes with the INDEX's analyzer: tables and
    // probes equal a full english rebuild
    val v2 = Seq((3L, "merged value keys"),
      (9L, "the sorted customer queries"))
      .toDF("doc_id", "text")
    val mergedDocs = edocs.filter(col("doc_id") =!= 3L)
      .unionByName(v2)
    SearchIndex.upsert(v2, eng)
    val reb = tmp("graft-idx-eng-reb-")
    SearchIndex.build(mergedDocs, Seq("text"), "doc_id", reb,
      analyzer = "english")
    for (t <- Seq("postings", "doclens", "inputs", "termstats", "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(eng)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"english $t diverged after upsert\n$a\nvs\n$b")
    }
    assert(SearchIndex.ranked(spark, eng, "querying customers",
        Seq("text")).collect().map(_.getLong(0)).toSet == Set(9L))
  }

  test("index-time french analyzer: write-time light_french stems with " +
    "elision and stop-consumed positions; queries analyze with the " +
    "field's chain; upsert == rebuild") {
    import org.apache.spark.sql.functions.col
    val fdocs = Seq(
      (1L, "la continuation de la table"), // continu@1, tabl@4
      (2L, "continuer les tables"),        // continu@0, tabl@2
      (3L, "l'analogie du filtre"),        // analog@0(elided), filtr@2
      (4L, "le la les"))                   // all stopwords: dl 0
      .toDF("doc_id", "text")
    val fr = tmp("graft-idx-fr-")
    SearchIndex.build(fdocs, Seq("text"), "doc_id", fr,
      analyzer = "french")
    assert(SearchIndex.readMeta(fr).analyzer == "french")
    val post = spark.read.parquet(s"${tdir(fr)}/postings")
    // write-time stems at ORIGINAL token indices, stop positions
    // consumed; elision strips l'; dl counts emitted stems only
    val d1 = post.filter(col("doc_id") === 1L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"), r.getAs[Int]("dl"))).toSet
    assert(d1 == Set(("continu", Seq(1), 2), ("tabl", Seq(4), 2)),
      d1.toString)
    val d3 = post.filter(col("doc_id") === 3L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"))).toSet
    assert(d3 == Set(("analog", Seq(0)), ("filtr", Seq(2))),
      d3.toString)
    assert(post.filter(col("doc_id") === 4L).count() == 0)
    // the query analyzes with the field's chain: "continuations"
    // light-stems to 'continu' and matches docs 1 and 2 — impossible
    // against a standard index of the same corpus
    val std = tmp("graft-idx-fr-std-")
    SearchIndex.build(fdocs, Seq("text"), "doc_id", std)
    assert(SearchIndex.ranked(spark, fr, "continuations", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(SearchIndex.ranked(spark, std, "continuations", Seq("text"))
      .count() == 0)
    // phrases: BOTH sides gapped — "la continuation de la table"
    // analyzes to (continu@0, tabl@3), matching doc 1's stop-gap
    // layout, not doc 2's (continu@0, tabl@2)
    def phr(q: String): Set[Long] =
      SearchIndex.phraseRanked(spark, fr, q, Seq("text"))
        .collect().map(_.getLong(0)).toSet
    assert(phr("la continuation de la table") == Set(1L))
    assert(phr("continuer les tables") == Set(2L))
    // all-stopword phrase: zero hits, not an error
    assert(phr("le la les de") == Set.empty)
    // upsert re-tokenizes with the INDEX's analyzer == full rebuild
    val v2 = Seq((2L, "les analogies continuaient"),
      (9L, "la valeur des filtres"))
      .toDF("doc_id", "text")
    SearchIndex.upsert(v2, fr)
    val reb = tmp("graft-idx-fr-reb-")
    SearchIndex.build(fdocs.filter(col("doc_id") =!= 2L).unionByName(v2),
      Seq("text"), "doc_id", reb, analyzer = "french")
    for (t <- Seq("postings", "doclens", "inputs", "termstats",
        "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(fr)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"french $t diverged after upsert\n$a\nvs\n$b")
    }
    assert(SearchIndex.ranked(spark, fr, "analogie", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("index-time whitespace analyzer: case and punctuation KEPT at " +
    "write time, queries analyze with the field's chain, phrases ride " +
    "whitespace positions; upsert == rebuild") {
    import org.apache.spark.sql.functions.col
    val wdocs = Seq(
      (1L, "Spark SQL window"),   // case kept: 'Spark' != 'spark'
      (2L, "spark sql  Window,"), // run of spaces; trailing comma KEPT
      (3L, "spark window"),
      (4L, null.asInstanceOf[String])) // null: no postings, null dl
      .toDF("doc_id", "text")
    val ws = tmp("graft-idx-ws-")
    SearchIndex.build(wdocs, Seq("text"), "doc_id", ws,
      analyzer = "whitespace")
    assert(SearchIndex.readMeta(ws).analyzer == "whitespace")
    val post = spark.read.parquet(s"${tdir(ws)}/postings")
    // doc 2: whitespace runs collapse, the comma stays on the token
    val d2 = post.filter(col("doc_id") === 2L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"), r.getAs[Int]("dl"))).toSet
    assert(d2 == Set(("spark", Seq(0), 3), ("sql", Seq(1), 3),
      ("Window,", Seq(2), 3)), d2.toString)
    assert(post.filter(col("doc_id") === 4L).count() == 0)
    // the query keeps case too (ES whitespace analyzer does not
    // lowercase): 'Spark' hits doc 1 only; 'spark' docs 2 and 3; the
    // standard index of the same corpus folds them together
    def ids(q: String): Set[Long] =
      SearchIndex.ranked(spark, ws, q, Seq("text"))
        .collect().map(_.getLong(0)).toSet
    assert(ids("Spark") == Set(1L))
    assert(ids("spark") == Set(2L, 3L))
    assert(ids("Window,") == Set(2L))
    val std = tmp("graft-idx-ws-std-")
    SearchIndex.build(wdocs, Seq("text"), "doc_id", std)
    assert(SearchIndex.ranked(spark, std, "Spark", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // phrases position-join the whitespace stream, case-exact
    def phr(q: String): Set[Long] =
      SearchIndex.phraseRanked(spark, ws, q, Seq("text"))
        .collect().map(_.getLong(0)).toSet
    assert(phr("Spark SQL") == Set(1L))
    assert(phr("spark sql") == Set(2L))
    assert(phr("spark window") == Set(3L))
    // blank query: zero terms -> zero hits, not an error
    assert(SearchIndex.phraseRanked(spark, ws, "  ", Seq("text"))
      .count() == 0)
    // upsert re-tokenizes with the index's chain == full rebuild
    val v2 = Seq((3L, "SPARK Window"), (9L, "new Spark doc"))
      .toDF("doc_id", "text")
    SearchIndex.upsert(v2, ws)
    val reb = tmp("graft-idx-ws-reb-")
    SearchIndex.build(wdocs.filter(col("doc_id") =!= 3L).unionByName(v2),
      Seq("text"), "doc_id", reb, analyzer = "whitespace")
    for (t <- Seq("postings", "doclens", "inputs", "termstats",
        "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(ws)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"whitespace $t diverged after upsert\n$a\nvs\n$b")
    }
    assert(ids("SPARK") == Set(3L))
  }

  test("index-time keyword analyzer: the whole field value is ONE " +
    "term (case and spaces kept, dl 1), match needs the exact value; " +
    "upsert == rebuild") {
    import org.apache.spark.sql.functions.col
    val kdocs = Seq(
      (1L, "src3"),
      (2L, "src3 extra"),  // spaces kept: a DIFFERENT single term
      (3L, "SRC3"),        // case kept
      (4L, null.asInstanceOf[String]),
      (5L, ""))            // empty value: NO term (query side can
                           // never ask for ""), dl 0
      .toDF("doc_id", "source")
    val kw = tmp("graft-idx-kw-")
    SearchIndex.build(kdocs, Seq("source"), "doc_id", kw,
      analyzer = "keyword")
    assert(SearchIndex.readMeta(kw).analyzer == "keyword")
    val post = spark.read.parquet(s"${tdir(kw)}/postings")
    val d2 = post.filter(col("doc_id") === 2L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"), r.getAs[Int]("dl"))).toSet
    assert(d2 == Set(("src3 extra", Seq(0), 1)), d2.toString)
    assert(post.filter(col("doc_id") === 4L).count() == 0)
    assert(post.filter(col("doc_id") === 5L).count() == 0,
      "an empty keyword value must emit no term")
    val dl5 = spark.read.parquet(s"${tdir(kw)}/doclens")
      .filter(col("doc_id") === 5L).collect()
    assert(dl5.length == 1 && dl5.head.getAs[Any]("dl") == 0,
      s"empty value dl must be 0: ${dl5.mkString}")
    // the query is ONE whole-value term under the field's chain
    def ids(q: String): Set[Long] =
      SearchIndex.ranked(spark, kw, q, Seq("source"))
        .collect().map(_.getLong(0)).toSet
    assert(ids("src3") == Set(1L))
    assert(ids("src3 extra") == Set(2L))
    assert(ids("SRC3") == Set(3L))
    assert(ids("src") == Set.empty)
    // upsert re-tokenizes with the index's chain == full rebuild
    val v2 = Seq((1L, "src9"), (9L, "multi word value"))
      .toDF("doc_id", "source")
    SearchIndex.upsert(v2, kw)
    val reb = tmp("graft-idx-kw-reb-")
    SearchIndex.build(kdocs.filter(col("doc_id") =!= 1L).unionByName(v2),
      Seq("source"), "doc_id", reb, analyzer = "keyword")
    for (t <- Seq("postings", "doclens", "inputs", "termstats",
        "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(kw)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"keyword $t diverged after upsert\n$a\nvs\n$b")
    }
    assert(ids("multi word value") == Set(9L))
    assert(ids("src9") == Set(1L))
  }

  test("index-time CUSTOM chain (round 18): a settings-defined " +
    "tokenizer+filter chain tokenizes at write time, queries analyze " +
    "with the same chain, the meta persists the canonical spec, " +
    "upsert == rebuild; invalid combinations reject by name") {
    import org.apache.spark.sql.functions.col
    // whitespace tokenizer + lowercase + a one-word stop list +
    // light_german WITHOUT german_normalization — a chain no
    // prebuilt name covers
    val chain = """{"tokenizer": "whitespace", "filter": ["lowercase",
      |{"type": "stop", "stopwords": ["the"]},
      |{"type": "stemmer", "language": "light_german"}]}"""
      .stripMargin
    val cdocs = Seq(
      (1L, "the Merges the tables"), // merg@1, tabl@3 (the@0/@2 stop)
      (2L, "value of merges"),       // valu@0, of@1, merg@2
      (3L, "the the the"))           // all stopped: no postings
      .toDF("doc_id", "text")
    val cu = tmp("graft-idx-custom-")
    SearchIndex.build(cdocs, Seq("text"), "doc_id", cu,
      analyzer = "custom", customChain = Some(chain))
    val meta = SearchIndex.readMeta(cu)
    assert(meta.analyzer == "custom" && meta.custom.isDefined)
    // the persisted spec round-trips through the parser (canonical)
    assert(graft.functions.CustomChain.parseJson(meta.custom.get)
      .tokenizer == "whitespace")
    val post = spark.read.parquet(s"${tdir(cu)}/postings")
    val d1 = post.filter(col("doc_id") === 1L)
      .collect().map(r => (r.getAs[String]("term"),
        r.getAs[Seq[Int]]("pos"), r.getAs[Int]("dl"))).toSet
    assert(d1 == Set(("merg", Seq(1), 2), ("tabl", Seq(3), 2)),
      d1.toString)
    assert(post.filter(col("doc_id") === 3L).count() == 0)
    // the query analyzes with the FIELD's chain: "merge" stems to
    // 'merg' and reaches the docs holding 'merges' — impossible
    // against a standard index of the same corpus
    val std = tmp("graft-idx-custom-std-")
    SearchIndex.build(cdocs, Seq("text"), "doc_id", std)
    assert(SearchIndex.ranked(spark, cu, "merge", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(SearchIndex.ranked(spark, std, "merge", Seq("text"))
      .count() == 0)
    // phrases: both sides carry the chain's stop gaps — "the merges
    // the tables" analyzes to (merg@1, tabl@3), doc 1's layout
    assert(SearchIndex.phraseRanked(spark, cu,
        "the merges the tables", Seq("text"))
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // upsert re-tokenizes with the PERSISTED chain == full rebuild
    val v2 = Seq((2L, "the values the merges"), (9L, "tables"))
      .toDF("doc_id", "text")
    SearchIndex.upsert(v2, cu)
    val reb = tmp("graft-idx-custom-reb-")
    SearchIndex.build(cdocs.filter(col("doc_id") =!= 2L).unionByName(v2),
      Seq("text"), "doc_id", reb,
      analyzer = "custom", customChain = Some(chain))
    for (t <- Seq("postings", "doclens", "inputs", "termstats",
        "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(cu)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"custom $t diverged after upsert\n$a\nvs\n$b")
    }
    // rejections: custom without a chain, a chain on a named
    // analyzer, malformed chains by name
    intercept[IllegalArgumentException] {
      SearchIndex.build(cdocs, Seq("text"), "doc_id",
        tmp("graft-idx-bad-"), analyzer = "custom")
    }
    intercept[IllegalArgumentException] {
      SearchIndex.build(cdocs, Seq("text"), "doc_id",
        tmp("graft-idx-bad-"), analyzer = "english",
        customChain = Some(chain))
    }
    val e = intercept[IllegalArgumentException] {
      SearchIndex.build(cdocs, Seq("text"), "doc_id",
        tmp("graft-idx-bad-"), analyzer = "custom",
        customChain = Some("""{"tokenizer": "icu"}"""))
    }
    assert(e.getMessage.contains("icu"), e.getMessage)
  }

  test("search_analyzer (round 18): the mapping analyzes QUERIES " +
    "with a different chain than the index — edge_ngram index + " +
    "standard search, ES's search-as-you-type pairing") {
    val chain = """{"tokenizer": "standard", "filter": ["lowercase",
      |{"type": "edge_ngram", "min_gram": 1, "max_gram": 6}]}"""
      .stripMargin
    val edocs = Seq(
      (1L, "window batch"),
      (2L, "windmill"),
      (3L, "other words"))
      .toDF("doc_id", "text")
    val eg = tmp("graft-idx-eg-")
    SearchIndex.build(edocs, Seq("text"), "doc_id", eg,
      analyzer = "custom", customChain = Some(chain),
      searchAnalyzer = Some("standard"))
    assert(SearchIndex.readMeta(eg).searchAnalyzer ==
      Some("standard"))
    // the query side is STANDARD (no gramming): "wind" probes the
    // gram postings and reaches every token prefixed by it
    def ids(q: String): Set[Long] =
      SearchIndex.ranked(spark, eg, q, Seq("text"))
        .collect().map(_.getLong(0)).toSet
    assert(ids("wind") == Set(1L, 2L))
    assert(ids("windm") == Set(2L))
    assert(ids("batch") == Set(1L))
    assert(ids("missing") == Set.empty)
    // an unsupported search_analyzer name rejects by name
    val e = intercept[IllegalArgumentException] {
      SearchIndex.build(edocs, Seq("text"), "doc_id",
        tmp("graft-idx-eg-bad-"), analyzer = "custom",
        customChain = Some(chain), searchAnalyzer = Some("custom"))
    }
    assert(e.getMessage.contains("custom"), e.getMessage)
  }

  test("upsert with deletes: dropped docs leave through the same " +
    "integer-delta machinery — tables and probes equal a rebuild") {
    val v2new = Seq((3L, "batch of batch window", "src9"))
      .toDF("doc_id", "text", "source")
    val merged = docs.filter($"doc_id" =!= 3L && $"doc_id" =!= 5L)
      .unionByName(v2new)
    val inc = tmp("graft-idx-del-")
    val reb = tmp("graft-idx-del-reb-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", inc)
    SearchIndex.upsert(v2new, Some(Seq(5L).toDF("id")), inc)
    SearchIndex.build(merged, Seq("text", "source"), "doc_id", reb)
    for (t <- Seq("postings", "doclens", "inputs", "termstats", "fieldstats")) {
      val a = sortedRows(spark.read.parquet(s"${tdir(inc)}/$t"))
      val b = sortedRows(spark.read.parquet(s"${tdir(reb)}/$t"))
      assert(a == b, s"$t diverged after delete-upsert")
    }
    val qi = SearchIndex.ranked(spark, inc, "window batch of",
      Seq("text", "source")).collect().map(_.toString).toSeq
    val qs = Search.bm25Fields(merged, "window batch of",
      Seq("text", "source"), "doc_id").collect().map(_.toString).toSeq
    assert(qi == qs, "delete-upserted index ranks differently from " +
      "the post-delete scan path")
    // an id in BOTH batch and deletes is DELETED (deterministic rule
    // for uncompacted changelogs) — doc 1 must vanish despite the
    // batch row carrying new content for it
    val both = tmp("graft-idx-both-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", both)
    SearchIndex.upsert(
      Seq((1L, "resurrected window", "src_z"))
        .toDF("doc_id", "text", "source"),
      Some(Seq(1L).toDF("id")), both)
    val afterIds = SearchIndex.ranked(spark, both, "window",
      Seq("text", "source")).select("doc_id").as[Long].collect().toSet
    assert(!afterIds.contains(1L),
      "deleted-and-upserted id survived; deletes must win")
  }

  test("DocumentSink.upsert maintains an adjacent search index " +
    "incrementally (the R1/R2 re-sync path)") {
    val path = tmp("graft-idx-sink-")
    val v1 = docs.withColumn("document_id",
      org.apache.spark.sql.functions.col("doc_id").cast("string"))
    DocumentSink.save(v1, path)
    SearchIndex.build(v1, Seq("text", "source"), "document_id",
      s"$path/_search_index")
    val batch = Seq((2L, "window window window", "src3", "2"))
      .toDF("doc_id", "text", "source", "document_id")
    DocumentSink.upsert(batch, path)
    // the maintained index must equal one rebuilt from the merged docs
    val mergedDocs = DocumentSink.read(spark, path)
    val reb = tmp("graft-idx-sink-reb-")
    SearchIndex.build(mergedDocs, Seq("text", "source"), "document_id", reb)
    val a = SearchIndex.ranked(spark, s"$path/_search_index",
      "window src3", Seq("text", "source")).collect().map(_.toString).toSeq
    val b = SearchIndex.ranked(spark, reb,
      "window src3", Seq("text", "source")).collect().map(_.toString).toSeq
    assert(a == b, s"sink-maintained index != rebuild\nmaint: $a\nreb:   $b")
    assert(a.exists(_.contains("[2,")), "upserted doc missing from ranking")
  }

  test("indexed phrase / operator=and / min_should == scan-path " +
    "scorers, including a self-overlapping phrase and a dead term") {
    val path = tmp("graft-idx-pos-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    def idScore(df: DataFrame): Seq[String] =
      df.select("doc_id", "score").collect().map(_.toString).toSeq
    val full = docs.select("doc_id", "text", "source")
    val phraseCases = Seq(
      ("the window", Seq("text")),          // ordinary adjacency
      ("window", Seq("text", "source")),    // single-term degenerates to tf
      ("of a window", Seq("text")),         // 3-term chain
      ("the the", Seq("text")),             // self-overlap: greedy count
      ("window zzz", Seq("text")))          // dead term: both sides empty
    phraseCases.foreach { case (q, fs) =>
      val scan = idScore(Search.phrase(full, q, fs))
      val probe = idScore(SearchIndex.phrase(spark, path, q, fs))
      assert(probe == scan, s"phrase '$q' diverged\n$scan\nvs\n$probe")
    }
    assert(idScore(SearchIndex.phrase(spark, path, "the window",
      Seq("text"))).nonEmpty, "degenerate phrase comparison")
    // "the the" on doc 5 ("the the the ...") must count GREEDILY: one
    // non-overlapping occurrence, not two positional matches
    val overlap = SearchIndex.phrase(spark, path, "the the", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(overlap(5L) == 1, s"greedy non-overlap violated: $overlap")
    // operator=and and minimum_should_match
    val scanAnd = idScore(Search.multiFieldAnd(full, "window src3",
      Seq("text", "source")))
    val probeAnd = idScore(SearchIndex.minShould(spark, path,
      "window src3", Seq("text", "source")))
    assert(probeAnd == scanAnd, s"AND diverged\n$scanAnd\nvs\n$probeAnd")
    assert(probeAnd.nonEmpty)
    val scanMm = idScore(Search.multiFieldMinShould(full,
      "window batch src3", Seq("text", "source"), minMatch = 2))
    val probeMm = idScore(SearchIndex.minShould(spark, path,
      "window batch src3", Seq("text", "source"), minMatch = 2))
    assert(probeMm == scanMm, s"minmatch diverged\n$scanMm\nvs\n$probeMm")
    assert(probeMm.size > probeAnd.size,
      "2-of-3 should be strictly wider than AND on this corpus")
    // boosts weight the score only, for both modes
    val scanB = idScore(Search.phrase(full, "the window", Seq("text"),
      boosts = Map("text" -> 2.0)))
    val probeB = idScore(SearchIndex.phrase(spark, path, "the window",
      Seq("text"), boosts = Map("text" -> 2.0)))
    assert(probeB == scanB, s"boosted phrase diverged\n$scanB\nvs\n$probeB")
    // sloppy phrase: the positional probe's windowed-existence check
    // must equal the scan path's slopCount for every slop tier, and
    // slop must widen the match set monotonically
    Seq(1, 2, 3).foreach { slop =>
      val scanS = idScore(Search.slopPhrase(full, "the window",
        Seq("text"), slop))
      val probeS = idScore(SearchIndex.phrase(spark, path, "the window",
        Seq("text"), slop = slop))
      assert(probeS == scanS, s"slop=$slop diverged\n$scanS\nvs\n$probeS")
    }
    val n0 = SearchIndex.phrase(spark, path, "the window", Seq("text"))
      .count()
    val n2 = SearchIndex.phrase(spark, path, "the window", Seq("text"),
      slop = 2).count()
    assert(n2 >= n0, "slop narrowed the match set")
  }

  test("phraseRanked analyzer=english == the DSL scan path: exact " +
    "stop-gap offsets at slop 0, the shared-budget walk at slop > 0, " +
    "DISTINCT-HEAD counting for overlapping gapped matches, and an " +
    "all-stopword phrase returning empty like zero_terms_query") {
    import org.apache.spark.sql.functions.col
    val pdocs = Seq(
      (1L, "sort sort window window"), // overlapping gapped matches:
                                       // heads 0 AND 1 both fit
                                       // (sort@0,window@2) — pf 2
      (2L, "sort the window"),         // exact stop-gap offset
      (3L, "sort window"),             // window one EARLY (slop 1)
      (4L, "sort x y window"),         // window one LATE (slop 1)
      (5L, "run test x x batch"),      // 3 stems: 1 early + 1 late —
                                       // shared budget 2, NOT slop 1
      (6L, "run a a test batch"),      // tail drifts together: span 1
      (7L, "run the test batch"),      // exact 3-stem offsets
      (8L, "no match here"),
      (9L, "window sort")              // TRANSPOSED stems: adj span 3
    ).toDF("doc_id", "text")
    val path = tmp("graft-idx-eng-")
    SearchIndex.build(pdocs, Seq("text"), "doc_id", path)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def scan(q: String, slop: Int): Seq[String] =
      graft.serving.EsDsl.search(pdocs, om.readTree(
        s"""{"query": {"match_phrase": {"text": {"query": "$q",
          "analyzer": "english", "slop": $slop}}}, "size": 100}"""))
        .select(col("doc_id"), col("_score"))
        .collect().map(_.toString).sorted.toSeq
    def probe(q: String, slop: Int): Seq[String] =
      SearchIndex.phraseRanked(spark, path, q, Seq("text"),
        slop = slop, analyzer = "english")
        .select(col("doc_id"), col("score"))
        .collect().map(_.toString).sorted.toSeq
    // bit-identical hits AND scores across slop tiers and stem
    // counts. The overlapping doc 1 is the counting-model pin: the
    // scan twin (Positional.phrase) counts DISTINCT
    // HEADS, so pf = 2 there — a greedy non-overlap fold on the index
    // side would score it differently and fail this parity.
    for (slop <- Seq(0, 1, 2, 3);
         q <- Seq("sorted the windows", "running the tests batched")) {
      val (sc, pr) = (scan(q, slop), probe(q, slop))
      assert(pr == sc, s"'$q' slop=$slop diverged\n$sc\nvs\n$pr")
    }
    // the overlapping doc matches at slop 0 on both routes
    assert(probe("sorted the windows", 0)
      .exists(_.startsWith("[1,")), "overlapping doc missing")
    // shared budget: doc 5 (span 2) appears at slop 2, not slop 1;
    // doc 6 (span 1) already at slop 1
    def ids(rows: Seq[String]): Set[Long] =
      rows.map(_.drop(1).takeWhile(_ != ',').toLong).toSet
    val q3 = "running the tests batched"
    assert(!ids(probe(q3, 1)).contains(5L) &&
      ids(probe(q3, 2)).contains(5L), "shared budget violated")
    assert(ids(probe(q3, 1)).contains(6L))
    // transposed stems (round 16): doc 9 reverses (sort@0, window@2)
    // — its adjusted span is 3 (window@0 adj -2, sort@1 adj 1), so
    // slop 3 admits it on BOTH routes and slop 2 does not
    val q2 = "sorted the windows"
    assert(!ids(probe(q2, 2)).contains(9L) &&
      ids(probe(q2, 3)).contains(9L), "transposed alignment missing")
    // an all-stopword english phrase is zero hits, not an error —
    // mirroring the scan path's zero_terms_query "none"
    assert(SearchIndex.phraseRanked(spark, path, "the it was",
      Seq("text"), analyzer = "english").count() == 0)
  }

  test("indexed fuzzy (vocabulary expansion) == scan-path Levenshtein " +
    "HOF across fuzziness specs, including AUTO's length ladder") {
    val path = tmp("graft-idx-fz-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    def idScore(df: DataFrame): Seq[String] =
      df.select("doc_id", "score").collect().map(_.toString).toSeq
    val full = docs.select("doc_id", "text", "source")
    val cases = Seq(
      ("window batch", "1", Seq("text")),          // 1-edit typo query
      ("window", "0", Seq("text", "source")),      // 0 = token-exact
      ("windows the", "AUTO", Seq("text")),        // AUTO: 1 edit @ 7, 0 @ 3
      ("zzzz", "2", Seq("text")))                  // nothing within 2
    cases.foreach { case (q, fz, fs) =>
      val scan = idScore(Search.multiFieldFuzzy(full, q, fs, fz))
      val probe = idScore(SearchIndex.fuzzy(spark, path, q, fs, fz))
      assert(probe == scan, s"fuzzy '$q'/$fz diverged\n$scan\nvs\n$probe")
    }
    // a typo'd term must actually rescue matches exact search loses
    assert(idScore(SearchIndex.fuzzy(spark, path, "windoq", Seq("text"),
      "1")).nonEmpty, "degenerate fuzzy comparison")
    assert(idScore(SearchIndex.fuzzy(spark, path, "windoq", Seq("text"),
      "0")).isEmpty, "'windoq' must not token-match at 0 edits")
    intercept[IllegalArgumentException] {
      SearchIndex.fuzzy(spark, path, "window", Seq("text"), "9")
    }
    // fuzzy-rewrite knobs: probe and scan must agree for every
    // (prefix_length, max_expansions) combination
    for (pl <- Seq(0, 1, 3); me <- Seq(None, Some(1), Some(2))) {
      val scanK = idScore(Search.multiFieldFuzzy(full, "windoq the",
        Seq("text"), "2", prefixLength = pl, maxExpansions = me))
      val probeK = idScore(SearchIndex.fuzzy(spark, path, "windoq the",
        Seq("text"), "2", prefixLength = pl, maxExpansions = me))
      assert(probeK == scanK,
        s"knobs pl=$pl me=$me diverged\n$scanK\nvs\n$probeK")
    }
  }

  test("phrase upsert == rebuild: positions are maintained " +
    "incrementally with the postings rows") {
    val v2new = Seq(
      (1L, "window the window the window", "src_a"), // replaces doc 1
      (8L, "the window the window", null))           // inserted
      .toDF("doc_id", "text", "source")
    val merged = docs.filter($"doc_id" =!= 1L).unionByName(v2new)
    val inc = tmp("graft-idx-posinc-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", inc)
    SearchIndex.upsert(v2new, inc)
    val probe = SearchIndex.phrase(spark, inc, "the window", Seq("text"))
      .collect().map(_.toString).toSeq
    val scan = Search.phrase(merged.select("doc_id", "text", "source"),
        "the window", Seq("text"))
      .select("doc_id", "score").collect().map(_.toString).toSeq
    assert(probe == scan,
      s"upserted positions diverged from corpus\n$scan\nvs\n$probe")
    assert(probe.exists(_.startsWith("[8,")), "inserted doc not phrased")
  }

  test("indexed spanRanked == scan-path span matchers: ordered slot " +
    "sets, unordered pairs; validation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.TextFunctions
    import graft.serving.Positional
    val path = tmp("graft-idx-span-")
    SearchIndex.build(docs, Seq("text"), "doc_id", path)
    // ordered: the -> (window|batch), slop 1 — scan-path counts via
    // Positional.near over the same corpus
    val slots: Seq[Column => Column] = Seq(
      (x: Column) => x === lit("the"),
      (x: Column) => x.isInCollection(Seq("window", "batch")))
    val scan = docs
      .select(col("doc_id"),
        Positional.count(Positional.near(slots.map(Positional.positions(
          TextFunctions.analyzerTokens(col("text")), _)), 1)).as("c"))
      .filter(col("c") > 0)
      .select(col("doc_id"), col("c").cast("double").as("score"))
    val probe = SearchIndex.spanRanked(spark, path,
      Seq(Seq("the"), Seq("window", "batch")), 1, inOrder = true,
      Seq("text"))
    assert(sortedRows(scan) == sortedRows(probe))
    // unordered pair: window/batch adjacency either order
    val scanU = docs
      .select(col("doc_id"),
        Positional.count(Positional.pair(
          Positional.positions(TextFunctions.analyzerTokens(col("text")),
            (x: Column) => x === lit("window")),
          Positional.positions(TextFunctions.analyzerTokens(col("text")),
            (x: Column) => x === lit("batch")), 0)).as("c"))
      .filter(col("c") > 0)
      .select(col("doc_id"), col("c").cast("double").as("score"))
    val probeU = SearchIndex.spanRanked(spark, path,
      Seq(Seq("window"), Seq("batch")), 0, inOrder = false,
      Seq("text"))
    assert(sortedRows(scanU) == sortedRows(probeU))
    // unordered 3 slots and unknown fields are the caller's error
    intercept[IllegalArgumentException] {
      SearchIndex.spanRanked(spark, path,
        Seq(Seq("a"), Seq("b"), Seq("c")), 1, inOrder = false)
    }
    intercept[IllegalArgumentException] {
      SearchIndex.spanRanked(spark, path, Seq(Seq("a")), 0,
        inOrder = true, Seq("nope"))
    }
  }

  test("generation pointer is atomic: a half-staged generation is " +
    "invisible, upsert flips the pointer and collects the old one") {
    val path = tmp("graft-idx-gen-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    assert(SearchIndex.readMeta(path).gen == 0)
    val q = () => sortedRows(SearchIndex.ranked(spark, path,
      "window src3", Seq("text", "source")))
    val before = q()
    // simulate a crashed writer: a partial next-generation directory on
    // disk (garbage where postings would land). The pointer still names
    // g0, so probes must be untouched — the "either old or new, never
    // mixed" contract the per-table rename swap could not give.
    new java.io.File(s"$path/g1/postings").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/g1/postings/_garbage"),
      "not parquet".getBytes)
    assert(q() == before, "probe read a half-staged generation")
    // a real upsert stages g1 fully (Overwrite clears the orphan),
    // flips the pointer in one atomic meta rename — and KEEPS g0 for
    // one grace cycle: a concurrent probe that resolved the old
    // pointer may not have listed its parquet files yet (Spark lists
    // lazily at action time), so synchronous deletion would fail it
    // mid-request
    val batch = Seq((2L, "now with window", "src3"))
      .toDF("doc_id", "text", "source")
    SearchIndex.upsert(batch, path)
    assert(SearchIndex.readMeta(path).gen == 1)
    assert(new java.io.File(s"$path/g0").exists,
      "just-replaced generation must survive one grace cycle")
    val after = q()
    assert(after != before, "upsert had no effect on ranking")
    assert(after.exists(_.startsWith("[2,")), "upserted doc not ranked")
    // the NEXT cycle collects it: after the second upsert only g2 and
    // its grace predecessor g1 remain
    SearchIndex.upsert(Seq((3L, "third window", "src1"))
      .toDF("doc_id", "text", "source"), path)
    assert(SearchIndex.readMeta(path).gen == 2)
    assert(!new java.io.File(s"$path/g0").exists,
      "two-generations-old directory not collected")
    assert(new java.io.File(s"$path/g1").exists,
      "grace predecessor must remain")
  }

  test("termstats derivation has no distinct-agg Expand (df is a " +
    "plain count over unique postings)") {
    val path = tmp("graft-idx-ts-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    val plan = SearchIndex.termstatsOf(
        spark.read.parquet(s"${tdir(path)}/postings"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"termstats build expands for a distinct aggregate:\n$plan")
  }

  test("wildcard phrase and AND probes == the composed scan path over " +
    "every entity's pipeline documents") {
    import graft.catalog.EntityCatalog
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.StringType
    val dir = "/root/testdata/sf0.001"
    val runTs = queries.ParityQueries.RunTs
    val root = tmp("graft-idx-union-pm-")
    Search.buildEntityIndexes(spark, dir, root, runTs)
    // scan-path twin assembled branch by branch: Search.phrase /
    // multiFieldMinShould over each entity's documents, global top-k
    def scanTwin(mk: (DataFrame, Seq[String]) => DataFrame): Seq[String] =
      EntityCatalog.entities.values.toSeq.sortBy(_.name).map { spec =>
        val docs = EntityCatalog.pipeline(
          graft.sources.Tables(spark, dir, spec.name), spec, runTs)
        val fields = docs.schema.fields.filter(_.dataType == StringType)
          .map(_.name).filterNot(Set("table", "document_id")).toSeq
        mk(docs.select(col("document_id") +:
            fields.map(col): _*), fields)
          .select(lit(spec.name).as("table"), col("document_id"),
            col("score"))
      }.reduce(_.unionByName(_))
        .orderBy(col("score").desc, col("document_id"), col("table"))
        .limit(100).collect().map(_.toString).toSeq
    val phraseScan = scanTwin((d, fs) => Search.phrase(d, "blue rod", fs))
    val phraseProbe = Search.acrossIndexesPhraseIndexed(spark, root,
      "blue rod").collect().map(_.toString).toSeq
    assert(phraseProbe == phraseScan,
      s"wildcard phrase diverged\n$phraseScan\nvs\n$phraseProbe")
    assert(phraseScan.nonEmpty, "degenerate wildcard phrase comparison")
    val andScan = scanTwin((d, fs) =>
      Search.multiFieldAnd(d, "blue rod", fs))
    val andProbe = Search.acrossIndexesMinShouldIndexed(spark, root,
      "blue rod").collect().map(_.toString).toSeq
    assert(andProbe == andScan,
      s"wildcard AND diverged\n${andScan.take(5)}\nvs\n${andProbe.take(5)}")
    assert(andProbe.size >= phraseProbe.size,
      "AND must be at least as wide as the phrase on the same terms")
    val fzScan = scanTwin((d, fs) =>
      Search.multiFieldFuzzy(d, "blue rodz", fs, "1"))
    val fzProbe = Search.acrossIndexesFuzzyIndexed(spark, root,
      "blue rodz", "1").collect().map(_.toString).toSeq
    assert(fzProbe == fzScan,
      s"wildcard fuzzy diverged\n${fzScan.take(5)}\nvs\n${fzProbe.take(5)}")
    assert(fzProbe.nonEmpty, "degenerate wildcard fuzzy comparison")
  }

  test("indexed data_lake_* wildcard == scan-path wildcard, with and " +
    "without a 3-key cursor") {
    val dir = "/root/testdata/sf0.001"
    val runTs = queries.ParityQueries.RunTs
    val root = tmp("graft-idx-union-")
    Search.buildEntityIndexes(spark, dir, root, runTs)
    val scan = Search.acrossIndexesRanked(spark, dir, runTs,
      "small error household").collect().map(_.toString).toSeq
    val probe = Search.acrossIndexesRankedIndexed(spark, root,
      "small error household").collect().map(_.toString).toSeq
    assert(probe == scan, s"wildcard indexed != scan\n${
      scan.take(5)}\nvs\n${probe.take(5)}")
    assert(scan.nonEmpty)
    // resume from hit #7's (score, document_id, table) — both paths
    // must produce the identical continuation
    val anchor = Search.acrossIndexesRanked(spark, dir, runTs,
      "small error household").collect()(6)
    val cur = Some((anchor.getDouble(2), anchor.getString(1),
      anchor.getString(0)))
    val scanPage = Search.acrossIndexesRanked(spark, dir, runTs,
      "small error household", limit = 10, after = cur)
      .collect().map(_.toString).toSeq
    val probePage = Search.acrossIndexesRankedIndexed(spark, root,
      "small error household", limit = 10, after = cur)
      .collect().map(_.toString).toSeq
    assert(probePage == scanPage,
      s"cursor continuation diverged\n$scanPage\nvs\n$probePage")
    assert(scanPage.size == 10)
    // tf·idf, best_fields and an entity subset: the same per-entity
    // legs on both paths
    for ((bm25, best, only) <- Seq((false, false, Nil),
        (true, true, Nil), (true, false, Seq("customer", "part")))) {
      val s = Search.acrossIndexesRanked(spark, dir, runTs,
        "small error household", bestFields = best, bm25 = bm25,
        only = only).collect().map(_.toString).toSeq
      val p = Search.acrossIndexesRankedIndexed(spark, root,
        "small error household", bestFields = best, bm25 = bm25,
        only = only).collect().map(_.toString).toSeq
      assert(p == s, s"bm25=$bm25 best=$best only=$only: indexed != " +
        s"scan\n${s.take(5)}\nvs\n${p.take(5)}")
      assert(s.nonEmpty)
    }
  }

  test("a rebuild at a deleted index's path probes the NEW documents, " +
    "not the memoized listing of the deleted generation") {
    val path = tmp("graft-idx-rebuild-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    assert(sortedRows(SearchIndex.ranked(spark, path, "window",
      Seq("text"))).nonEmpty)
    // deleted out of band: the rebuild restarts at g0, the same
    // generation directory the first index's probe memoized
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
    SearchIndex.build(Seq((7L, "window window", "src7"),
        (8L, "another window", "src8")).toDF("doc_id", "text", "source"),
      Seq("text", "source"), "doc_id", path)
    assert(SearchIndex.readMeta(path).gen == 0)
    val ids = SearchIndex.ranked(spark, path, "window", Seq("text"))
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(7L, 8L))
  }

  test("the table memo holds only generations still on disk") {
    val path = tmp("graft-idx-memo-")
    SearchIndex.build(docs, Seq("text", "source"), "doc_id", path)
    def probe(): Unit = {
      SearchIndex.ranked(spark, path, "window", Seq("text")).collect(); ()
    }
    for (i <- 1 to 4) {
      probe()
      SearchIndex.upsert(Seq((100L + i, s"window $i", "src"))
        .toDF("doc_id", "text", "source"), path)
    }
    probe()
    val onDisk = new java.io.File(path).listFiles.map(_.getName)
      .collect { case g if g.matches("g\\d+") => g.drop(1).toInt }.toSet
    val memo = SearchIndex.memoizedGenerations(path)
    assert(memo.nonEmpty && memo.subsetOf(onDisk),
      s"memoized generations $memo, on disk $onDisk")
  }

  test("token-grammar versioning: a v3 french meta is RETIRED " +
    "(exists false, staleVersion true — its postings hold Snowball " +
    "stems), v3 non-french stays current, new builds write v4") {
    def fakeMeta(dir: String, version: Int, analyzer: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/_index_meta.json"),
        (s"""{"id_col": "doc_id", "fields": ["text"], "gen": 1, """ +
         s""""analyzer": "$analyzer", "version": $version}""")
          .getBytes("UTF-8"))
      ()
    }
    val frV3 = tmp("graft-idx-v3fr-")
    fakeMeta(frV3, 3, "french")
    assert(!SearchIndex.exists(frV3), "v3 french must read as absent")
    assert(SearchIndex.staleVersion(frV3),
      "v3 french must be rebuildable-stale")
    val enV3 = tmp("graft-idx-v3en-")
    fakeMeta(enV3, 3, "english")
    assert(SearchIndex.exists(enV3), "v3 english grammar is unchanged")
    assert(!SearchIndex.staleVersion(enV3))
    val v2 = tmp("graft-idx-v2-")
    fakeMeta(v2, 2, "standard")
    assert(!SearchIndex.exists(v2) && SearchIndex.staleVersion(v2))
    // a fresh build writes the current version and exists
    val fresh = tmp("graft-idx-v4-")
    SearchIndex.build(docs, Seq("text"), "doc_id", fresh,
      analyzer = "french")
    assert(SearchIndex.exists(fresh) && !SearchIndex.staleVersion(fresh))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fresh/_index_meta.json")))
    assert(meta.contains("\"version\": 4"), meta)
  }
}
