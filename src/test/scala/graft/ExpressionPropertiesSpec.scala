package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{ArrayExpressions, JsonFunctions, TextFunctions}

/** Property tests pinning each custom codegen expression to its
  * compositional (built-in HOF) definition on generated inputs — the
  * SURVEY §5.3 property layer. The HOF forms are the semantic spec; the
  * custom expressions exist purely for speed, so they must agree
  * bit-for-bit. */
class ExpressionPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val N = 200

  private def samples[A](g: Gen[A]): Seq[A] =
    (0 until N).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wsGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(" ", " ", "\t", "\n", "  ")).map(_.mkString)
  private val wordGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val textGen: Gen[String] = for {
    words <- Gen.listOf(wordGen)
    seps <- Gen.listOfN(words.length + 1, wsGen)
    dup <- Gen.oneOf(true, false)
  } yield {
    val ws = if (dup && words.nonEmpty) words ++ words else words
    ws.zip(seps).map { case (w, s) => w + s }.mkString(seps.last, "", "")
  }

  test("DistinctShingles ≡ array_distinct(HOF shingles) incl. order") {
    val df = samples(textGen).toDF("text")
    val mismatches = df.select(
      ArrayExpressions.distinctShingles(col("text"), 3).as("fast"),
      array_distinct(TextFunctions.shingles(col("text"), 3)).as("spec"))
      .filter(not(col("fast") === col("spec")))
      .count()
    assert(mismatches === 0)
  }

  private val vecGen: Gen[Seq[Double]] =
    Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10.0, 10.0)).map(_.map(x => x)))

  test("L2Normalize ≡ HOF normalize, bit-for-bit (incl. zero-norm → null)") {
    val df = samples(vecGen).map(_.toArray).toDF("v")
    val d = transform(col("v"), x => x.cast("double"))
    val norm = sqrt(aggregate(d, lit(0.0), (acc, x) => acc + x * x))
    val spec = when(norm > 0, transform(d, x => x / norm))
    val mismatches = df.select(
      ArrayExpressions.l2normalize(col("v")).as("fast"), spec.as("spec"))
      .filter(not(col("fast") <=> col("spec")))
      .count()
    assert(mismatches === 0)
  }

  test("DotProduct ≡ HOF zip_with/aggregate dot, bit-for-bit") {
    val pairs = samples(Gen.zip(vecGen, vecGen))
      .map { case (a, b) => (a.toArray, b.toArray) }
    val df = pairs.toDF("a", "b")
    val spec = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    // HOF aggregate over zip_with of unequal lengths pads with null →
    // null result; the expression truncates to the shorter length.
    // Compare on equal-length pairs (the only case the engine produces).
    val mismatches = df.filter(size(col("a")) === size(col("b")))
      .select(ArrayExpressions.dotProduct(col("a"), col("b")).as("fast"),
        spec.as("spec"))
      .filter(not(col("fast") <=> col("spec")))
      .count()
    assert(mismatches === 0)
  }

  test("SimHash64 is permutation-invariant over distinct token sets") {
    val toksGen = Gen.nonEmptyListOf(wordGen).map(_.distinct)
    val pairs = samples(toksGen).zipWithIndex.map { case (ts, i) =>
      val shuffled = new scala.util.Random(i).shuffle(ts)
      (ts.toArray, shuffled.toArray)
    }
    val df = pairs.toDF("a", "b")
    val mismatches = df.select(
      ArrayExpressions.simhash(col("a")).as("ha"),
      ArrayExpressions.simhash(col("b")).as("hb"))
      .filter(col("ha") =!= col("hb")).count()
    assert(mismatches === 0)
  }

  test("MinHashSignature ≡ per-rotation array_min(transform(md5)) spec") {
    val df = samples(textGen).toDF("text")
    val shingles = ArrayExpressions.distinctShingles(col("text"), 3)
    val digests = transform(shingles, s => md5(s))
    val mins = (0 until 16).map { i =>
      if (i == 0) array_min(digests)
      else array_min(transform(digests, d =>
        concat(substring(d, 2 * i + 1, 32 - 2 * i), substring(d, 1, 2 * i))))
    }
    val spec = when(size(shingles) > 0, array(mins: _*))
    val mismatches = df.select(
      ArrayExpressions.minhashSignature(shingles, 16).as("fast"),
      spec.as("spec"))
      .filter(not(col("fast") <=> col("spec")))
      .count()
    assert(mismatches === 0)
  }

  test("HyperplaneBands == the compositional 64-dot-product form, " +
      "bit for bit") {
    import graft.operators.Similarity
    val vecGen: Gen[Seq[Double]] =
      Gen.listOfN(64, Gen.chooseNum(-1.0, 1.0)).map(_.toSeq)
    val df = samples(vecGen).toDF("v")
    val (nBands, ppb, seed) = (8, 8, 42L)
    val signs = Similarity.planeSigns(64, nBands * ppb, seed)
    val spec = array((0 until nBands).map { b =>
      (0 until ppb).map { i =>
        val p = array(signs(b * ppb + i).map(lit): _*)
        when(ArrayExpressions.dotProduct(col("v"), p) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
    val fast = ArrayExpressions.hyperplaneBands(col("v"), 64, nBands,
      ppb, seed)
    assert(df.select(fast.as("fast"), spec.as("spec"))
      .filter(not(col("fast") <=> col("spec"))).count() === 0)
  }

  test("QuantizeRoundTrip == dequantized(quantize(...)), bit for bit") {
    import graft.operators.Similarity
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f)).map(_.toSeq)
    val df = samples(vecGen).toDF("v")
      .withColumn("id", monotonically_increasing_id())
    val spec = Similarity.dequantized(
        Similarity.quantize(df, "id", "v"))
      .select(col("id"), col("unit_approx").as("u"))
    val fast = Similarity.normalized(df, "id", "v")
      .select(col("id"),
        ArrayExpressions.quantizeRoundTrip(col("unit")).as("u"))
    val mismatches = fast.as("f").join(spec.as("s"), Seq("id"))
      .filter(not(col("f.u") <=> col("s.u"))).count()
    assert(mismatches === 0)
  }

  test("DamerauLevenshtein: full DL (transpositions + shifted " +
    "substring re-edits), pinned to DuckDB's damerau_levenshtein " +
    "values; null-safe") {
    import spark.implicits._
    // (a, b, expected) — expected values are DuckDB 1.0's
    // damerau_levenshtein outputs (the oracle's metric)
    val cases = Seq(
      ("abcd", "abdc", 1), ("ab", "ba", 1), ("ca", "abc", 2),
      ("abc", "ca", 2), ("window", "windwo", 1), ("a", "", 1),
      ("", "", 0), ("same", "same", 0), ("kitten", "sitting", 3),
      ("windoq", "window", 1), ("xy", "yxz", 2))
    val got = cases.toDF("a", "b", "want")
      .select(graft.functions.ArrayExpressions
        .damerauLevenshtein(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("d"),
        org.apache.spark.sql.functions.col("want"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null propagates
    val n = Seq((Option.empty[String], "x")).toDF("a", "b")
      .select(graft.functions.ArrayExpressions.damerauLevenshtein(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("AnalyzerTokens/Count/Norm == the regex formulation the " +
    "oracles replay, over adversarial and random strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val adversarial = Seq(
      "Hello, world!", "don't stop-me now", "U.S.A. rocks", "3.14 is pi",
      "foo_bar baz's", "a''b", "x. y", "trailing.", "'quoted'",
      "1,000 items", "CUSTOMER#000000042", "4-NOT SPECIFIED",
      "a.b.c_d'e", "", "   ", ".", "'", "..a..", "a.", ".a", "a'",
      "'a", "_", "__a__", "caf\u00e9 na\u00efve \u00dcber",
      "\u4e2d\u6587 tokens", "a.b..c", "x'.y", "x.'y", "5.5.5",
      "tab\tsep\nnewline")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab1.' _-,!A\u00e9"
    val random = (1 to 500).map(_ =>
      (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (adversarial ++ random).toDF("text")
    val cmp = df.select(
      graft.functions.TextFunctions.analyzerTokens(col("text")).as("a"),
      graft.functions.TextFunctions.analyzerTokensRegex(col("text"))
        .as("b"),
      graft.functions.TextFunctions.analyzerTokenCount(col("text"))
        .as("ca"),
      graft.serving.SearchTestAccess.tokenNorm(col("text")).as("na"),
      concat(lit(" "), array_join(
        graft.functions.TextFunctions.analyzerTokensRegex(col("text")),
        "  "), lit(" ")).as("nb"),
      col("text"))
    cmp.collect().foreach { r =>
      val a = r.getSeq[String](0)
      val b = r.getSeq[String](1)
      assert(a == b, s"tokens mismatch on '${r.getString(5)}'")
      assert(r.getInt(2) == b.size,
        s"count mismatch on '${r.getString(5)}'")
      assert(r.getString(3) == r.getString(4),
        s"norm mismatch on '${r.getString(5)}'")
    }
  }

  test("TokenDlHits == (size(analyzerTokens), distinct matched term " +
    "indices ascending) — the r19 de-skewed scorers' stats rider") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val adversarial = Seq(
      "Hello, world!", "don't stop-me now", "U.S.A. rocks", "3.14 is pi",
      "window the of window", "the THE The", "", "   ", ".", "'",
      "café naïve Über", "a.b..c window", "of of of",
      "windowpane the.of", "WINDOW", "tab\twindow\nof")
    val rnd = new scala.util.Random(7)
    val alphabet = "winofthe .'ab"
    val random = (1 to 500).map(_ =>
      (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    val terms = Seq("window", "the", "of", "café", "a")
    val df = (adversarial ++ random).toDF("text")
    val ts = graft.functions.ArrayExpressions
      .tokenDlHits(col("text"), terms)
    val toks = graft.functions.TextFunctions.analyzerTokens(col("text"))
    val cmp = df.select(
      ts.getField("dl").as("dl"), ts.getField("hits").as("hits"),
      size(toks).as("dlRef"),
      filter(array(terms.indices.map(lit): _*),
        j => array_contains(toks, element_at(
          array(terms.map(lit): _*), j + 1))).as("hitsRef"),
      col("text"))
    cmp.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(2),
        s"dl mismatch on '${r.getString(4)}'")
      assert(r.getSeq[Int](1) == r.getSeq[Int](3),
        s"hits mismatch on '${r.getString(4)}'")
    }
    // null text: the struct is null (nullSafeEval), matching the gated
    // aggregation semantics (sum skips, count(when(...)) skips)
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(graft.functions.ArrayExpressions
        .tokenDlHits(col("text"), terms).as("ts"))
      .collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("EnglishTokens (executor) == EnglishAnalysis.analyzeWithPositions " +
    "(driver), over adversarial, stopword-heavy and random strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val adversarial = Seq(
      "the sorted windows", "running the tests batched",
      "it's the owner's table", "The THE tHe", "a an and are",
      "", "   ", "don't stop-me now", "3.14 is pi",
      "they're querying VALUES", "keys tables merges queries",
      "café naïve", "x'.y", "..a..", "customers' customers")
    val rnd = new scala.util.Random(7)
    val vocab = Seq("the", "a", "of", "window", "running", "sorted",
      "batches", "it's", "key", "merge", "x.y", "don't", "1,000")
    val random = (1 to 400).map(_ =>
      (0 to rnd.nextInt(8)).map(_ =>
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val df = (adversarial ++ random).toDF("text")
    val rows = df.select(col("text"),
      graft.functions.ArrayExpressions.englishTokens(col("text"))
        .as("et")).collect()
    rows.foreach { r =>
      val got = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getInt(1)))
      val want = graft.functions.EnglishAnalysis
        .analyzeWithPositions(r.getString(0))
      assert(got == want, s"english tokens mismatch on '${
        r.getString(0)}'\n$want\nvs\n$got")
    }
  }

  test("FrenchTokens / GermanTokens / SpanishTokens / ChainTokens " +
    "(executor) == the driver chains (light_french, " +
    "german_normalization + light_german, light_spanish, and a " +
    "custom whitespace+stop+stemmer chain), over adversarial " +
    "accented, stopword-heavy and random strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val adversarial = Seq(
      "la continuation de la table", "l'avion et les analogies",
      "qu'il jusqu'ici aujourd'hui", "les chevaux DES journaux",
      "", "   ", "chanteuse première cuisinière",
      "die straße der größe", "daß dass müller mueller",
      "die sorten und die batches", "schönsten häuser bäume",
      "quelle aue queue", "ambiguëment évidemment",
      "Window7Batch mit Größe", "café naïve señor")
    val rnd = new scala.util.Random(11)
    val vocab = Seq("le", "la", "les", "de", "du", "der", "die",
      "und", "von", "straße", "größe", "tables", "groupes",
      "filtern", "sorten", "l'analogie", "continuation", "heureuse",
      "müller", "value", "data", "window")
    val random = (1 to 300).map(_ =>
      (0 to rnd.nextInt(8)).map(_ =>
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    // the round-18 custom chain the q7_idx_custom queries index
    // through: whitespace tokenizer + lowercase + a one-word stop
    // list + light_german WITHOUT german_normalization
    val chain = graft.functions.CustomChain.parseJson(
      """{"tokenizer": "whitespace", "filter": ["lowercase",
        |{"type": "stop", "stopwords": ["the"]},
        |{"type": "stemmer", "language": "light_german"}]}"""
        .stripMargin)
    val df = (adversarial ++ random).toDF("text")
    val rows = df.select(col("text"),
      graft.functions.ArrayExpressions.frenchTokens(col("text"))
        .as("ft"),
      graft.functions.ArrayExpressions.germanTokens(col("text"))
        .as("gt"),
      graft.functions.ArrayExpressions.spanishTokens(col("text"))
        .as("st"),
      graft.functions.ArrayExpressions.chainTokens(col("text"),
        chain.json).as("ct")).collect()
    rows.foreach { r =>
      def toPairs(i: Int) = r.getSeq[org.apache.spark.sql.Row](i)
        .map(x => (x.getString(0), x.getInt(1)))
      val wantF = graft.functions.FrenchAnalysis
        .analyzeWithPositions(r.getString(0))
      val wantG = graft.functions.GermanAnalysis
        .analyzeWithPositions(r.getString(0))
      val wantS = graft.functions.SpanishAnalysis
        .analyzeWithPositions(r.getString(0))
      val wantC = graft.functions.CustomChain
        .analyzeWithPositions(chain, r.getString(0))
      assert(toPairs(1) == wantF, s"french tokens mismatch on '${
        r.getString(0)}'\n$wantF\nvs\n${toPairs(1)}")
      assert(toPairs(2) == wantG, s"german tokens mismatch on '${
        r.getString(0)}'\n$wantG\nvs\n${toPairs(2)}")
      assert(toPairs(3) == wantS, s"spanish tokens mismatch on '${
        r.getString(0)}'\n$wantS\nvs\n${toPairs(3)}")
      assert(toPairs(4) == wantC, s"chain tokens mismatch on '${
        r.getString(0)}'\n$wantC\nvs\n${toPairs(4)}")
    }
  }

  test("light stemmers are total and bounded on arbitrary unicode: " +
    "never throw, never lengthen beyond the ß→ss expansion, and the " +
    "analyzer chains emit only non-empty terms") {
    val strGen: Gen[String] = Gen.frequency(
      5 -> Gen.listOf(Gen.oneOf(Gen.alphaLowerChar,
        Gen.oneOf('à', 'â', 'é', 'è', 'ê', 'ë', 'î', 'ï', 'ô', 'û',
          'ù', 'ç', 'ä', 'ö', 'ü', 'ß', 'y', 'q', 'u', 'e', 's',
          'x', 'n', 'r', 't'))).map(_.mkString),
      1 -> Gen.asciiPrintableStr.map(_.take(20)),
      1 -> org.scalacheck.Arbitrary.arbitrary[String]
        .map(_.take(20)))
    samples(strGen).foreach { s =>
      val lf = graft.functions.FrenchLightStemmer.stem(s)
      assert(lf.length <= s.length,
        s"light_french lengthened '$s' -> '$lf'")
      val sb = graft.functions.FrenchStemmer.stem(s)
      assert(sb.length <= math.max(s.length, 2), s"snowball '$s'")
      val gn = graft.functions.GermanAnalysis.normalize(s)
      // ß→ss is the only growth the normalization allows
      assert(gn.length <= s.length + s.count(_ == 'ß'),
        s"normalize lengthened '$s' -> '$gn'")
      val lg = graft.functions.GermanLightStemmer.stem(gn)
      assert(lg.length <= gn.length,
        s"light_german lengthened '$gn' -> '$lg'")
      val ls = graft.functions.SpanishLightStemmer.stem(s)
      assert(ls.length <= s.length,
        s"light_spanish lengthened '$s' -> '$ls'")
      graft.functions.FrenchAnalysis.analyzeWithPositions(s)
        .foreach { case (t, p) =>
          assert(t.nonEmpty && p >= 0, s"french chain on '$s'") }
      graft.functions.GermanAnalysis.analyzeWithPositions(s)
        .foreach { case (t, p) =>
          assert(t.nonEmpty && p >= 0, s"german chain on '$s'") }
      graft.functions.SpanishAnalysis.analyzeWithPositions(s)
        .foreach { case (t, p) =>
          assert(t.nonEmpty && p >= 0, s"spanish chain on '$s'") }
    }
  }

  test("NormalizeJson is idempotent") {
    val jsonGen: Gen[String] = for {
      k <- Gen.alphaStr.map(_.take(5))
      v <- Gen.chooseNum(0, 1000)
      nested <- Gen.oneOf(true, false)
    } yield
      if (nested) s"""{"$k": "{\\"inner\\": $v}", "n": $v}"""
      else s"""{"$k": $v}"""
    val df = samples(jsonGen).toDF("j")
    val once = JsonFunctions.normalizeJson(col("j"))
    val twice = JsonFunctions.normalizeJson(once)
    assert(df.select(once.as("a"), twice.as("b"))
      .filter(not(col("a") <=> col("b"))).count() === 0)
  }

  test("content-hash doc id is deterministic and state-sensitive") {
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b")).toDF("id", "v")
    val ids = graft.sinks.DocumentSink
      .withDocId(df, graft.sinks.DocumentSink.ContentHash)
      .select("document_id").as[String].collect()
    assert(ids(0) === ids(1))
    assert(ids(0) !== ids(2))
  }

  test("gappedPhraseCount ≡ the brute-force start scan on generated " +
    "corpora (the english stop-gap phrase matcher)") {
    // tiny alphabet so repeats and overlaps actually occur
    val tokGen = Gen.oneOf("a", "b", "c", "ab")
    val textGen: Gen[String] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    val patternGen: Gen[Seq[(String, Int)]] = for {
      k <- Gen.choose(1, 3)
      terms <- Gen.listOfN(k, tokGen)
      gaps <- Gen.listOfN(k - 1, Gen.choose(1, 3))
    } yield terms.zip(0 +: gaps.scanLeft(0)(_ + _).tail).toSeq
    val texts = samples(textGen)
    val patterns = samples(patternGen).take(6)
    def model(text: String, p: Seq[(String, Int)]): Int = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      toks.indices.count(s => p.forall { case (t, d) =>
        s + d < toks.length && toks(s + d) == t })
    }
    val df = texts.toDF("text")
    val cols = patterns.zipWithIndex.map { case (p, i) =>
      graft.serving.Positional.termPhrase(col("text"), p, 0).as(s"c$i")
    }
    val rows = df.select(col("text") +: cols: _*).collect()
    for (r <- rows; (p, i) <- patterns.zipWithIndex)
      assert(r.getInt(i + 1) === model(r.getString(0), p),
        s"pattern $p on '${r.getString(0)}'")
  }

  test("Positional walkers ≡ plain-Scala models on generated corpora, " +
    "through both producers: the sloppy phrase (slop 1-3, transposed " +
    "and repeated terms), ordered near and the unordered pair") {
    import graft.serving.Positional
    val tokGen = Gen.oneOf("a", "b", "c", "ab")
    val textGen: Gen[String] = Gen.choose(0, 10).flatMap(n =>
      Gen.listOfN(n, tokGen).map(_.mkString(" ")))
    val texts = samples(textGen).take(80)
    // sloppy phrases: dense term lists (repeats occur with 4 tokens)
    // plus a pinned transposition and a pinned repeat
    val phrases: Seq[(Seq[String], Int)] =
      samples(for {
        k <- Gen.choose(2, 3)
        terms <- Gen.listOfN(k, tokGen)
        slop <- Gen.choose(1, 3)
      } yield (terms.toSeq, slop)).take(5) ++
        Seq((Seq("a", "b"), 2), (Seq("a", "a"), 1), (Seq("a", "b", "a"), 3))
    val slotGen: Gen[Seq[String]] =
      Gen.oneOf(Seq("a"), Seq("b"), Seq("c"), Seq("a", "ab"), Seq("b", "c"))
    val nears: Seq[(Seq[Seq[String]], Int)] = samples(for {
      k <- Gen.choose(2, 3)
      slots <- Gen.listOfN(k, slotGen)
      slop <- Gen.choose(0, 2)
    } yield (slots.toSeq, slop)).take(5)
    // pinned: slots sharing a token must not pair a position with itself
    val pairs: Seq[(Seq[String], Seq[String], Int)] = samples(for {
      a <- slotGen; b <- slotGen; slop <- Gen.choose(0, 2)
    } yield (a, b, slop)).take(5) ++
      Seq((Seq("a"), Seq("a"), 0), (Seq("b", "c"), Seq("c"), 1))

    def posOf(toks: Seq[String], set: Seq[String]): Seq[Int] =
      toks.indices.filter(i => set.contains(toks(i)))
    // every head position with SOME assignment of the other slots to
    // positions of their terms: same-term slots distinct, adjusted
    // positions (p_k - k) spanning at most `slop`
    def phraseModel(toks: Seq[String], terms: Seq[String], slop: Int): Int =
      posOf(toks, Seq(terms.head)).count { p0 =>
        def place(k: Int, taken: List[(String, Int)]): Boolean =
          if (k == terms.size) {
            val adj = taken.map { case (_, p) => p } .reverse.zipWithIndex
              .map { case (p, i) => p - i }
            adj.max - adj.min <= slop
          } else posOf(toks, Seq(terms(k))).exists(p =>
            !taken.exists { case (t, q) => t == terms(k) && q == p } &&
              place(k + 1, (terms(k), p) :: taken))
        place(1, List((terms.head, p0)))
      }
    // every head position starting a strictly increasing placement
    // whose last position interleaves at most `slop` tokens
    def nearModel(toks: Seq[String], slots: Seq[Seq[String]],
                  slop: Int): Int =
      posOf(toks, slots.head).count { p1 =>
        def place(k: Int, prev: Int): Boolean =
          if (k == slots.size) prev - p1 - (slots.size - 1) <= slop
          else posOf(toks, slots(k)).exists(p => p > prev && place(k + 1, p))
        place(1, p1)
      }
    def pairModel(toks: Seq[String], a: Seq[String], b: Seq[String],
                  slop: Int): Int =
      posOf(toks, a).count(p => posOf(toks, b).exists(q =>
        q != p && math.abs(p - q) - 1 <= slop))

    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-walk-")
      .toString
    graft.sinks.SearchIndex.build(docs, Seq("text"), "doc_id", path)
    val tp = spark.read.parquet(
        s"$path/g${graft.sinks.SearchIndex.readMeta(path).gen}/postings")
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("pos"))))
        .as("tp"))
    val toks = TextFunctions.analyzerTokens(col("text"))
    val producers: Seq[(String, Seq[String] => org.apache.spark.sql.Column)] =
      Seq("tokens" -> (set =>
          Positional.positions(toks, _.isInCollection(set))),
        "postings" -> (set => Positional.postings(col("tp"), set)))
    for ((name, slot) <- producers) {
      val cols = phrases.map { case (terms, slop) =>
          Positional.count(Positional.phrase(terms.map(t => slot(Seq(t))),
            terms.indices, slop, Positional.sameTerm(terms)))
        } ++ nears.map { case (slots, slop) =>
          Positional.count(Positional.near(slots.map(slot), slop))
        } ++ pairs.map { case (a, b, slop) =>
          Positional.count(Positional.pair(slot(a), slot(b), slop))
        }
      val rows = docs.join(tp, Seq("doc_id"), "left")
        .select(col("text") +: cols.zipWithIndex.map { case (c, i) =>
          c.as(s"c$i") }: _*).collect()
      for (r <- rows) {
        val ts = r.getString(0).split(" ").filter(_.nonEmpty).toSeq
        val models = phrases.map { case (terms, slop) =>
            phraseModel(ts, terms, slop) } ++
          nears.map { case (slots, slop) => nearModel(ts, slots, slop) } ++
          pairs.map { case (a, b, slop) => pairModel(ts, a, b, slop) }
        val labels = phrases.map(p => s"phrase $p") ++
          nears.map(n => s"near $n") ++ pairs.map(p => s"pair $p")
        for (i <- models.indices)
          assert(r.getInt(i + 1) === models(i),
            s"$name ${labels(i)} on '${r.getString(0)}'")
      }
    }
  }
}
