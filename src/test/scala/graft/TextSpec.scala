package graft

import graft.functions.{GraftFunctions, PorterStemmer, TextAnalyzer}
import graft.rag.{ContextWindow, PromptTemplates, RenderedPrompt}
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite {

  test("porter stemmer: canonical examples") {
    assert(PorterStemmer.stem("caresses") == "caress")
    assert(PorterStemmer.stem("ponies") == "poni")
    assert(PorterStemmer.stem("cats") == "cat")
    assert(PorterStemmer.stem("agreed") == "agre")
    assert(PorterStemmer.stem("plastered") == "plaster")
    assert(PorterStemmer.stem("motoring") == "motor")
    assert(PorterStemmer.stem("happy") == "happi")
    assert(PorterStemmer.stem("relational") == "relat")
    assert(PorterStemmer.stem("conditional") == "condit")
    assert(PorterStemmer.stem("triplicate") == "triplic")
    assert(PorterStemmer.stem("probate") == "probat")
    assert(PorterStemmer.stem("controll") == "control")
  }

  test("analyzer: tokenize, stopwords, stemming, sorted distinct") {
    val lex = TextAnalyzer.lexemes("The quick brown foxes are jumping over the lazy dogs!")
    assert(!lex.contains("the") && !lex.contains("are") && !lex.contains("over"))
    assert(lex.contains("fox") || lex.contains("foxe"))
    assert(lex.contains("jump"))
    assert(lex == lex.sorted && lex == lex.distinct)
  }

  test("analyzer: query matching is OR semantics") {
    val doc = TextAnalyzer.lexemes("merging tables with spark")
    val q1 = TextAnalyzer.queryLexemes("merge nonexistentword")
    assert(TextAnalyzer.matches(doc, q1)) // one term suffices
    val q2 = TextAnalyzer.queryLexemes("zzz qqq")
    assert(!TextAnalyzer.matches(doc, q2))
  }

  test("analyzer: rank orders docs by relevance") {
    val q = TextAnalyzer.queryLexemes("merge join")
    val relevant = TextAnalyzer.lexemes("merge join merge join stream")
    val partial = TextAnalyzer.lexemes("merge table scan batch window")
    val none = TextAnalyzer.lexemes("window batch scan")
    val r1 = TextAnalyzer.rank(relevant, q)
    val r2 = TextAnalyzer.rank(partial, q)
    val r3 = TextAnalyzer.rank(none, q)
    assert(r1 > r2 && r2 > r3 && r3 == 0.0)
  }

  test("chunking: respects max chars, covers all words") {
    val text = ("word " * 100).trim
    val chunks = GraftFunctions.chunkTextScala(text, 30)
    assert(chunks.nonEmpty)
    assert(chunks.forall(_.length <= 30))
    assert(chunks.flatMap(_.split(" ")).count(_ == "word") == 100)
  }

  test("chunking: sentence boundaries preferred") {
    val chunks = GraftFunctions.chunkTextScala(
      "First sentence here. Second sentence is longer than the first. Third.", 40)
    assert(chunks.head.startsWith("First sentence"))
    assert(chunks.forall(_.length <= 40))
  }

  test("chunking: oversized single word hard-splits") {
    val chunks = GraftFunctions.chunkTextScala("a" * 95, 30)
    assert(chunks.map(_.length).sum == 95)
    assert(chunks.forall(_.length <= 30))
  }

  test("language id: recognizes marker-heavy text; und on empty") {
    assert(GraftFunctions.languageIdScala("the cat and the dog in the house") == "en")
    assert(GraftFunctions.languageIdScala("der hund und die katze ist nicht da") == "de")
    assert(GraftFunctions.languageIdScala("") == "und")
  }

  test("fingerprint: deterministic, whitespace/case-invariant, order-sensitive") {
    val a = GraftFunctions.fingerprintScala("Hello   World")
    val b = GraftFunctions.fingerprintScala("hello world")
    val c = GraftFunctions.fingerprintScala("world hello")
    assert(a == b)
    assert(a != c)
  }

  test("minhash: signature agreement estimates jaccard") {
    def sig(s: Seq[String]) = GraftFunctions.minHashScala(s, 128, 42L)
    val base = (1 to 100).map(i => s"sh$i")
    val near = (1 to 90).map(i => s"sh$i") ++ (1 to 10).map(i => s"other$i")
    val far = (1 to 100).map(i => s"zz$i")
    def agree(a: Array[Long], b: Array[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    val nearAgree = agree(sig(base), sig(near))
    val farAgree = agree(sig(base), sig(far))
    // true jaccard(base, near) = 90/110 ≈ 0.82
    assert(math.abs(nearAgree - 0.82) < 0.15, s"nearAgree=$nearAgree")
    assert(farAgree < 0.1, s"farAgree=$farAgree")
  }

  test("simhash: similar token multisets → small hamming distance") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val a = GraftFunctions.simHashScala((1 to 60).map(i => s"t$i"))
    val b = GraftFunctions.simHashScala((1 to 57).map(i => s"t$i") ++ Seq("x1", "x2", "x3"))
    val c = GraftFunctions.simHashScala((1 to 60).map(i => s"u$i"))
    assert(ham(a, b) < ham(a, c))
    assert(ham(a, b) <= 12)
  }

  test("prompt template: render substitutes placeholders") {
    val p = PromptTemplates.render("question_answer", "CTX", "QUERY")
    assert(p.userPrompt.contains("CTX") && p.userPrompt.contains("QUERY"))
    assert(!p.userPrompt.contains("{{"))
    intercept[IllegalArgumentException](PromptTemplates.render("nope", "a", "b"))
  }

  test("context window: errors over budget without forceTrim, trims with") {
    // mini-corpus with tiny budget, mirroring the reference's
    // token-budget-36 trim tests (extension/src/chat/ops.rs:278-380)
    val p = RenderedPrompt("sys prompt here", ("word " * 9000).trim)
    val err = intercept[IllegalArgumentException](
      ContextWindow.enforce("gpt-4", p, forceTrim = false))
    assert(err.getMessage.contains("force_trim"))
    val trimmed = ContextWindow.enforce("gpt-4", RenderedPrompt("s", ("w " * 9000).trim), forceTrim = true)
    assert(ContextWindow.tokenEstimate(trimmed.userPrompt) <= 8192)
  }

  test("token estimate: whitespace semantics") {
    assert(ContextWindow.tokenEstimate("") == 0)
    assert(ContextWindow.tokenEstimate("one two  three") == 3)
  }

  test("language routing: pluggable scorer, heuristic default, per-lang " +
      "downstream shape unchanged (r17)") {
    // the CCNet pattern: a declared scorer swap changes ONLY the
    // language labels — the per-language percentile CDF and the
    // per-group hash-keep mixer consume the routed column identically,
    // so a fastText-style classifier slots in without touching either.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog ran to the park and it was fun for all"),
      (2L, "der hund und die katze sind nicht mit der maus zu sehen"),
      (3L, "le chat et le chien sont dans la maison pour la nuit"),
      (4L, "zz qq xx vv kk jj ww yy"))
      .toDF("doc_id", "text")
    // default scorer = the declared stopword heuristic
    val routed = GraftFunctions.withDetectedLanguage(docs, "text")
    val langs = routed.orderBy("doc_id").collect()
      .map(_.getAs[String]("lang")).toSeq
    assert(langs == Seq("en", "de", "fr", "und"))
    // swapped scorer: a stand-in "model" (any Column => Column)
    val swapped = GraftFunctions.withDetectedLanguage(docs, "text",
      scorer = c => when(length(c) % 2 === 0, lit("even")).otherwise(lit("odd")))
    assert(swapped.select("lang").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("even", "odd")))
    // the percentile calibration flows over EITHER routing unchanged:
    // one row per doc, every detected language's CDF tops at 1.0
    for (frame <- Seq(routed, swapped)) {
      val scored = frame.select(col("doc_id"), col("lang"),
        round(GraftFunctions.qualityScore(col("text")), 4).as("quality"))
      val pct = Queries.qualityPercentiledOf(scored)
      assert(pct.count() == 4, "percentile frame keeps one row per doc")
      val tops = pct.groupBy(col("lang")).agg(max(col("pct")).as("m"))
        .collect().map(_.getAs[Double]("m")).toSeq
      assert(tops.forall(t => math.abs(t - 1.0) < 1e-9),
        s"every detected language's CDF must top at 1.0, got $tops")
    }
    // the mixer consumes the routed column as its grouping key with
    // the same deterministic id-hash keep rule under either scorer
    val mixDocs = swapped.select(col("doc_id"), col("lang").as("source"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val rates = mixDocs.groupBy(col("source"))
      .agg(count(lit(1)).as("n")).select(col("source"),
        lit(10000L).as("thresh"))
    val kept = Queries.mixKeep(mixDocs, rates)
    assert(kept.count() == 4,
      "threshold 10000 keeps every row — routing must not drop docs")
    assert(kept.columns.toSeq == Seq("doc_id", "source", "toks"))
  }

  test("trained language-ID: scorer-slot routing equals the relational " +
      "detect, learned separation is real (r18)") {
    // the r17 verdict's #5: a genuinely TRAINED scorer flowing
    // through withDetectedLanguage end-to-end. LangId.scorer(model)
    // (the Column => Column UDF form) must agree doc-for-doc with
    // LangId.detect (the relational broadcast-join form the
    // text_language_id_trained oracle replays) — same features, same
    // decimal sums, same (score, lang) tie-break — and the model must
    // actually separate the fixture's labeled languages.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val model = Queries.langIdModel(spark, dir)
    val relational = graft.operators.LangId
      .detect(docs, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val routed = GraftFunctions.withDetectedLanguage(docs.drop("lang"),
        "text", scorer = graft.operators.LangId.scorer(model))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(routed == relational,
      "scorer-slot routing must equal the relational detect doc-for-doc")
    // learned separation: training labels are recovered far above
    // chance (the synthetic languages have disjoint stopword sets, so
    // a working classifier should be near-perfect on its own corpus)
    val labeled = docs.filter(col("lang").isNotNull)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val hits = labeled.count { case (id, l) => relational.get(id).contains(l) }
    assert(hits.toDouble / labeled.size > 0.9,
      s"trained model must recover the corpus labels: $hits/${labeled.size}")
    // gram-less docs rout to 'und', matching the heuristic convention
    import spark.implicits._
    val tiny = Seq((1L, "word"), (2L, "")).toDF("doc_id", "text")
    val det = graft.operators.LangId.detect(tiny, model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(det == Map(1L -> "und", 2L -> "und"),
      "docs with no bigrams carry no evidence and rout to 'und'")
    // the ENFORCED integer-score bound (review r18): a pathological
    // model whose worst per-doc score could wrap a Long must fail at
    // serving-surface construction — Spark's Long sums wrap while
    // DuckDB's promote to HUGEINT, so an unchecked overflow would be
    // a silent cross-engine argmax divergence
    val dim = 1 << (4 * model.hexLen)
    val huge = graft.operators.LangId.Model(
      Array("aa", "bb"), Array(0.0, 0.0),
      Array(Array.fill(dim)(1e6), Array.fill(dim)(-1e6)),
      model.hexLen, model.n)
    val eDetect = intercept[IllegalArgumentException] {
      graft.operators.LangId.detect(tiny, huge, "doc_id", "text")
    }
    assert(eDetect.getMessage.contains("wrap"),
      "overflow-prone model must fail detect construction loudly")
    intercept[IllegalArgumentException] {
      graft.operators.LangId.scorer(huge)
    }
  }

  test("char-gram language-ID (r20): label recovery >= the word-bigram " +
      "model, evidence on word-gram-less docs, geometry enforced") {
    // the r19 verdict's #7: featKind = char hashes fastText's padded
    // char n-grams — signal for short docs and agglutinative
    // languages whose few long words yield almost no word bigrams.
    // Same integer serving path; the kind rides in the Model (and its
    // store properties), so featurizer/coefficient drift is impossible.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    val word = Queries.langIdModel(spark, dir)
    val char = Queries.langIdCharModel(spark, dir)
    assert(char.featKind == graft.operators.LangId.FeatChar &&
      char.n == Queries.langIdCharN)
    val labeled = docs.filter(col("lang").isNotNull)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    def recovery(m: graft.operators.LangId.Model): Double = {
      val det = graft.operators.LangId.detect(docs, m, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      labeled.count { case (id, l) => det.get(id).contains(l) }
        .toDouble / labeled.size
    }
    val wr = recovery(word)
    val cr = recovery(char)
    assert(cr >= wr,
      s"char-gram recovery ($cr) must be >= word-bigram recovery ($wr) " +
        "on the labeled fixture")
    // the char kind's raison d'être: a SINGLE word has no word bigram
    // (word model routs 'und' — no evidence) but does carry padded
    // char trigrams, so the char model routes it
    val oneWord = Seq((1L, "word"), (2L, "")).toDF("doc_id", "text")
    val cdet = graft.operators.LangId.detect(oneWord, char, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cdet(1L) != "und",
      "a one-word doc carries char-gram evidence and must route")
    assert(cdet(2L) == "und", "an empty doc still routs to 'und'")
    // scorer-slot agreement under the char kind (the word-kind pin
    // above, re-asserted for the new featurizer)
    val relational = graft.operators.LangId
      .detect(docs, char, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val routed = GraftFunctions.withDetectedLanguage(docs.drop("lang"),
        "text", scorer = graft.operators.LangId.scorer(char))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    assert(routed == relational,
      "char-kind scorer-slot routing must equal the relational detect")
    // a hand-built model with a bogus kind fails every serving surface
    val bogus = char.copy(featKind = "syllable")
    intercept[IllegalArgumentException] {
      graft.operators.LangId.detect(docs, bogus, "doc_id", "text")
    }
    // a persisted artifact round-trips the kind through its store properties
    val store = new graft.sources.ParquetStore(
      spark, TestSpark.tempDir("graft_cglid_"))
    graft.operators.LangId.saveModel(store, "m", char)
    val loaded = graft.operators.LangId.loadModel(store, "m", "spec")
    assert(loaded.featKind == graft.operators.LangId.FeatChar &&
      loaded.n == Queries.langIdCharN &&
      loaded.langs.sameElements(char.langs),
      "featKind must round-trip through the recorded geometry")
  }

  test("sampled training that drops a minority language entirely fails " +
      "loudly (ADVICE r19)") {
    // the >= 2-classes bound alone let a sample that still covered
    // two majority languages silently ship a model that routes a
    // vanished minority language's rows elsewhere — the inventory
    // compare must catch exactly that shape
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = ((0L until 200L).map(i =>
      (i, s"the quick brown fox $i jumps", if (i % 2 == 0) "aa" else "bb")) :+
      ((999L, "lone minority row text here", "zz")))
      .toDF("doc_id", "text", "lang")
    // seed 42 at fraction 0.3 keeps both majority classes but drops
    // the single 'zz' row (probed; Bernoulli sampling is seeded, so
    // the outcome is deterministic)
    val e = intercept[IllegalArgumentException] {
      graft.operators.LangId.train(docs, "doc_id", "text", "lang",
        sampleFraction = 0.3, sampleSeed = 42L)
    }
    assert(e.getMessage.contains("zz") &&
      e.getMessage.contains("sampleFraction"),
      s"the dropped-language guard must name the vanished class: " +
        e.getMessage)
  }
}
