package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function library for the graft engine.
  *
  * Design rule (SURVEY §4): prefer compositions of
  * `org.apache.spark.sql.functions._` — they stay inside whole-stage
  * codegen and Catalyst can push/prune/fold through them. Scala UDFs
  * only where the semantics genuinely need JVM code (stemming,
  * chunking, hashing signatures); each UDF is a pure function of its
  * inputs so it is deterministic and spark-retry-safe.
  */
object GraftFunctions {

  // ---------------------------------------------------------------
  // Text-column rendering (reference P1-P3, core/src/query.rs:184-190,
  // extension/src/executor.rs:179-188, worker/src/executor.rs:100-105)
  // ---------------------------------------------------------------

  /** P1: `COALESCE(c1,'') || ' ' || COALESCE(c2,'')` — trigger/tokens
    * path concat.
    */
  def concatCols(cols: Seq[Column]): Column =
    concat_ws(" ", cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** P2: CSV variant `c1 || ', ' || c2` — extension embed path. */
  def concatColsCsv(cols: Seq[Column]): Column =
    concat_ws(", ", cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** P3: labeled variant `'col: ' || COALESCE(col,'') || ' '` —
    * server-worker embed path. Note the three variants intentionally
    * differ in the reference.
    */
  def concatColsLabeled(names: Seq[String], cols: Seq[Column]): Column =
    concat(names.zip(cols).map { case (n, c) =>
      concat(lit(s"$n: "), coalesce(c.cast("string"), lit("")), lit(" "))
    }: _*)

  // ---------------------------------------------------------------
  // Token estimation & trimming (reference F9/F10,
  // core/src/query.rs:606-615, openai.rs:166-186)
  // ---------------------------------------------------------------

  /** F9: token estimate. The reference counts cl100k BPE tokens; its
    * own trim path is whitespace-based (openai.rs:174-180). v1 uses
    * whitespace-token count (pluggable; divergence documented).
    * Codegen'd: split + size, no UDF.
    */
  def tokenEstimate(text: Column): Column =
    when(text.isNull || text === "", lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** F10: keep first `maxTokens` whitespace tokens when over budget. */
  def trimInputs(text: Column, maxTokens: Int = 8192): Column =
    when(tokenEstimate(text) > maxTokens,
      array_join(slice(split(trim(text), "\\s+"), 1, maxTokens), " "))
      .otherwise(text)

  /** True iff none of `terms` appears among the text's lowercase
    * alphanumeric tokens — the C4-style blocklist gate (Raffel et al.
    * 2020 §2.2 "bad words" filter), the blocklist stage the batch
    * and streaming ingestion chains share
    * ([[graft.operators.IngestChain.blocklist]]), so the two can never
    * drift. Tokenization matches the DuckDB replay:
    * regexp_split_to_array(lower(x), '[^a-z0-9]+') with empties
    * dropped. Pure built-ins — per-row, codegen'd, zero shuffle.
    */
  def blocklistClean(text: Column, terms: Seq[String]): Column =
    size(array_intersect(array_distinct(sqlTokens(text)),
      array(terms.map(lit): _*))) === 0

  /** Built-in tokenization matching DuckDB
    * `list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), t -> t <> '')`.
    */
  private[graft] def sqlTokens(c: Column): Column =
    filter(split(lower(coalesce(c, lit(""))), "[^a-z0-9]+"), x => x =!= "")

  /** BPE-ish token count: GPT-style pre-tokenizer regex (contractions,
    * letter runs, digit runs, punctuation runs). Closer to true BPE
    * counts than whitespace for punctuation-heavy text; still
    * codegen'd via regexp_extract_all.
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(
      coalesce(text, lit("")),
      lit("'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"),
      lit(0)))

  /** The pre-tokenizer's token STREAM (same regex as
    * [[tokenCountBpe]], via the JVM twin Bpe.preTokenize) — the word
    * source for corpus-trained BPE (functions/Bpe.scala).
    */
  val bpePreTokens = udf((text: String) => Bpe.preTokenize(text))

  // ---------------------------------------------------------------
  // Vector math (reference F1, core/src/query.rs:681). Backed by
  // native Catalyst expressions (graft.plans.VectorExpressions): one
  // fused Java loop per row via doGenCode — no intermediate array
  // allocation, stays inside whole-stage codegen. Double-precision
  // accumulation matches the DuckDB oracle; null on zero norms
  // matches the previous HOF (zip_with/aggregate) implementation.
  // ---------------------------------------------------------------

  /** Σ a_i * b_i over two float-array columns, computed in double. */
  def dotProduct(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity = 1 - cosine distance (pgvector `<=>`
    * complement, reference core/src/query.rs:681). Null/zero-norm safe
    * (returns null on zero vectors).
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.cosineSimilarity(a, b)

  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  def l2Distance(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.l2Distance(a, b)

  /** Negative inner product (pgvector `<#>` is -ip; similarity = ip). */
  def innerProduct(a: Column, b: Column): Column = dotProduct(a, b)

  // ---------------------------------------------------------------
  // Full-text search (reference F2-F5) — UDFs over the pure analyzer.
  // ---------------------------------------------------------------

  /** F2: `to_tsvector('english', text)` → sorted distinct lexemes. */
  val toTsvector = udf((text: String) => TextAnalyzer.lexemes(text))

  /** F3: `plainto_tsquery` with the reference's OR rewrite. */
  val toTsquery = udf((q: String) => TextAnalyzer.queryLexemes(q))

  /** F5: `search_tokens @@ query` (OR semantics) — pure built-in. */
  def tsMatches(docLexemes: Column, queryLexemes: Column): Column =
    arrays_overlap(docLexemes, queryLexemes)

  /** F4: `ts_rank_cd` proxy (rank-order preserving; SURVEY §7.4). */
  val tsRank = udf((doc: Seq[String], query: Seq[String]) =>
    TextAnalyzer.rank(if (doc == null) Seq.empty else doc,
      if (query == null) Seq.empty else query))

  /** F4 exact: per-lexeme position counts of `to_tsvector` (the
    * compact tsvector form OR-query cover-density needs — positions
    * clamped per Postgres ts_type.h limits before counting).
    */
  val tsvectorPosCounts = udf((text: String) => TextAnalyzer.positionCounts(text))

  /** F4 exact: Postgres `ts_rank_cd(to_tsvector(text), query)` for the
    * reference's OR-rewritten queries (core/src/query.rs:766-773) —
    * 0.1 · Σ matched-lexeme position counts (see TextAnalyzer.rankCdOr).
    */
  val tsRankCd = udf((text: String, query: Seq[String]) =>
    TextAnalyzer.rankCdOr(TextAnalyzer.lexemesWithPositions(text),
      if (query == null) Seq.empty else query))

  /** F4 exact, AND form: `ts_rank_cd(to_tsvector(text), plainto_tsquery(q))`
    * WITHOUT the reference's `& → |` rewrite — the full tsrank.c
    * minimal-cover walk (TextAnalyzer.rankCdAnd). 0 when any query
    * term is absent, so `> 0` is exactly the AND match predicate.
    */
  val tsRankCdAnd = udf((text: String, query: Seq[String]) =>
    TextAnalyzer.rankCdAnd(TextAnalyzer.lexemesWithPositions(text),
      if (query == null) Seq.empty else query))

  /** F5 phrase: `text @@ phraseto_tsquery(...)` — lexemes and offsets
    * come pre-split from TextAnalyzer.phraseLexemes (lit arrays fold
    * into the plan; the phrase is parsed once on the driver).
    */
  val tsPhraseMatch = udf((text: String, lex: Seq[String], offs: Seq[Int]) =>
    TextAnalyzer.phraseMatch(TextAnalyzer.lexemesWithPositions(text),
      if (lex == null || offs == null) Seq.empty else lex.zip(offs)))

  /** Full per-lexeme position arrays of `to_tsvector` (clamped) — the
    * dump shape the phrase-match oracle replays over.
    */
  val tsvectorPositions = udf((text: String) => TextAnalyzer.lexemesWithPositions(text))

  /** F2+F4: tsvector with position counts as two ALIGNED arrays —
    * `_1` = sorted distinct lexemes (identical to [[toTsvector]]),
    * `_2` = each lexeme's clamped position count. The token-store
    * form that lets the live FTS leg rank with exact OR cover-density
    * (0.1 · Σ matched counts) instead of the tf proxy, mirroring
    * tsvector's own lexeme→positions layout without a map column.
    */
  val tsvectorWithCounts = udf { (text: String) =>
    val counts = TextAnalyzer.positionCounts(text)
    val lex = counts.keys.toSeq.sorted
    (lex, lex.map(counts))
  }

  // ---------------------------------------------------------------
  // Chunking (reference F6/F7, extension/src/api.rs:17-78,243-248)
  // ---------------------------------------------------------------

  /** F6: split text into <= maxChars chunks, preferring sentence then
    * word boundaries (behavioral equivalent of the `text_splitter`
    * crate used at extension/src/api.rs:243-248).
    */
  def chunkTextScala(text: String, maxChars: Int): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val sentences = text.split("(?<=[.!?])\\s+").toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    def appendPiece(p: String): Unit = {
      if (cur.isEmpty) cur ++= p
      else if (cur.length + 1 + p.length <= maxChars) { cur += ' '; cur ++= p }
      else { flush(); cur ++= p }
    }
    sentences.foreach { s =>
      if (s.length <= maxChars) appendPiece(s)
      else {
        // sentence too long: fall back to words, then hard split
        s.split("\\s+").foreach { w =>
          if (w.length <= maxChars) appendPiece(w)
          else { flush(); w.grouped(maxChars).foreach(out += _) }
        }
      }
    }
    flush()
    out.toSeq
  }

  val chunkText = udf((text: String, maxChars: Int) => chunkTextScala(text, maxChars))

  // ---------------------------------------------------------------
  // Text analysis for training-data pipelines (north-star additions)
  // ---------------------------------------------------------------

  /** Language-ID via stopword-hit-rate heuristic over a handful of
    * high-frequency function words per language. Deterministic; meant
    * for coarse corpus routing, not NIST-grade identification.
    */
  private[graft] val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "a"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu", "den"),
    "fr" -> Set("le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour", "que"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "no", "una", "por", "para", "con", "que"),
    "it" -> Set("il", "la", "che", "di", "e", "un", "una", "per", "non", "sono", "con")
  )

  def languageIdScala(text: String): String = {
    val toks = TextAnalyzer.tokenize(text)
    if (toks.isEmpty) "und"
    else {
      val scores = langMarkers.map { case (lang, markers) =>
        lang -> toks.count(markers.contains).toDouble / toks.size
      }
      val (best, score) = scores.maxBy { case (l, s) => (s, l) }
      if (score <= 0.0) "und" else best
    }
  }

  val languageId = udf(languageIdScala _)

  /** Language ROUTING with a pluggable scorer (r17 — the CCNet
    * pattern: declared scorer swap, pipeline shape identical):
    * derives/overwrites `langCol` from `textCol` so every per-language
    * downstream operator (percentile calibration, temperature mixing,
    * curriculum leveling) can run on corpora with no stored language
    * column. The default scorer is [[languageId]] — the declared
    * stopword-marker heuristic — and a production fastText-style
    * classifier slots in as any `Column => Column` (a model UDF, a
    * pandas-UDF batch scorer, a join-derived label) without touching
    * the pipeline: downstream operators read only the column. Scorers
    * must be deterministic per text for the id-hash samplers'
    * rerunnability story to hold.
    */
  def withDetectedLanguage(docs: org.apache.spark.sql.DataFrame,
      textCol: String, langCol: String = "lang",
      scorer: Column => Column = languageId(_)): org.apache.spark.sql.DataFrame =
    docs.withColumn(langCol, scorer(col(textCol)))

  /** Heuristic quality score in [0,1]: mean of signals a pretraining
    * pipeline typically gates on — length band, alpha ratio,
    * punctuation ratio, stopword presence, repetition (distinct/total
    * tokens). Signals come from two single-pass UDFs rather than the
    * equivalent built-in chain (two regexp_replace over the full text,
    * a whitespace split, a per-token linear `array_contains` scan of
    * the ~170-entry stopword array, and an array_distinct): the
    * built-ins measured 1.8 s at sf0.1 vs ~0.3 s single-pass, and the
    * regex/array work is per-row allocation-heavy in generated code.
    */
  private val punctTable: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".foreach(c => t(c) = true)
    t
  }

  /** (letters, ascii-punct) code-point counts — semantics of
    * `length(regexp_replace(t, "[^\\p{L}]", ""))` and `\p{Punct}`.
    */
  private val charClassCounts = udf { s: String =>
    var alpha = 0; var punct = 0
    if (s != null) {
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (Character.isLetter(cp)) alpha += 1
        else if (cp < 128 && punctTable(cp)) punct += 1
        i += Character.charCount(cp)
      }
    }
    (alpha, punct)
  }

  /** (nToks, stopHits, distinctToks) over whitespace tokens —
    * semantics of split(trim(t),"\\s+") + lowercase stopword test.
    */
  private val tokenStats = udf { s: String =>
    val t = if (s == null) "" else s.trim
    if (t.isEmpty) (0, 0, 0)
    else {
      val toks = t.split("\\s+")
      val seen = new java.util.HashSet[String]()
      var stop = 0
      toks.foreach { w =>
        val lw = w.toLowerCase(java.util.Locale.ROOT)
        if (TextAnalyzer.stopwords.contains(lw)) stop += 1
        seen.add(lw)
      }
      (toks.length, stop, seen.size)
    }
  }

  def qualityScore(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val nChars = length(t).cast("double")
    val cc = charClassCounts(t)
    val ts = tokenStats(t)
    val nToks = ts("_1").cast("double")
    val alphaChars = cc("_1").cast("double")
    val punctChars = cc("_2").cast("double")
    val stopHits = ts("_2").cast("double")
    val distinctToks = ts("_3").cast("double")

    val lengthSignal = when(nToks >= 5 && nToks <= 10000, lit(1.0))
      .otherwise(when(nToks > 0, lit(0.5)).otherwise(lit(0.0)))
    val alphaSignal = when(nChars > 0, alphaChars / nChars).otherwise(lit(0.0))
    val punctSignal = when(nChars > 0,
      lit(1.0) - least(punctChars / nChars * 5.0, lit(1.0))).otherwise(lit(0.0))
    val stopSignal = when(nToks > 0, least(stopHits / nToks * 4.0, lit(1.0)))
      .otherwise(lit(0.0))
    val repSignal = when(nToks > 0, distinctToks / nToks).otherwise(lit(0.0))

    round((lengthSignal + alphaSignal + punctSignal + stopSignal + repSignal) / 5.0, 4)
  }

  /** Evaluate-ONCE fence for an expensive projected expression that a
    * filter references by alias. Catalyst's PushDownPredicates only
    * substitutes an alias into a pushed-down predicate when EVERY
    * project field is deterministic, so this identity expression
    * (declared nondeterministic — it is in fact pure, the flag is
    * purely an optimizer fence) pins the wrapped expression to one
    * evaluation in the Project; without it the whole chain is ALSO
    * inlined into the Filter and every surviving row pays it twice
    * (verified on sample_quality_weighted's physical plan: the full
    * 2-UDF qualityScore chain appeared in both FilterExec and
    * ProjectExec). Values are untouched, so DuckDB oracles replay
    * unchanged. The trade: the gate no longer prunes below the
    * projection — right whenever the projection IS the cost
    * (tokenizing text) and the scan must read the input column anyway.
    *
    * Type-preserving for ANY column type (ADVICE r14: the previous
    * `java.lang.Double` identity-UDF fence silently cast non-double
    * inputs); [[graft.plans.EvalOnceFence]] passes the child's
    * dataType/nullable/codegen through untouched.
    */
  def evalOnce(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.EvalOnceFence(
      org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Rolling-hash (Rabin-Karp, base 31, 64-bit) document fingerprint
    * over normalized word sequence — stable under whitespace/case
    * noise, order-sensitive (unlike a bag-of-words hash).
    */
  def fingerprintScala(text: String): Long = {
    var h = 1125899906842597L // large prime seed
    TextAnalyzer.tokenize(text).foreach { w =>
      var i = 0
      while (i < w.length) { h = 31 * h + w.charAt(i); i += 1 }
      h = 31 * h + ' '
    }
    h
  }

  val fingerprint = udf(fingerprintScala _)

  // ---------------------------------------------------------------
  // Dedup signatures (north-star additions): MinHash & SimHash
  // ---------------------------------------------------------------

  /** Word n-gram shingles (lowercased, space-joined). */
  def shinglesScala(text: String, n: Int): Seq[String] = {
    val toks = TextAnalyzer.tokenize(text)
    if (toks.size < n) if (toks.isEmpty) Seq.empty else Seq(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSeq
  }

  val shingles = udf(shinglesScala _)

  /** 64-bit hash of a string (FNV-1a) — deterministic across JVMs
    * (String.hashCode is 32-bit; we need wider for MinHash perms).
    */
  private[functions] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** MinHash signature: k permutations simulated by k (a*h+b) mixes of
    * one base hash per shingle (standard universal-hashing trick; see
    * Broder 1997 resemblance sketches). Returns k 64-bit minima.
    */
  // (a, b) coefficient pairs are deterministic per (k, seed); memoized
  // so each executor thread builds them once, not once per row.
  private val minHashCoef =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  def minHashScala(shingles: Seq[String], k: Int, seed: Long): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    if (shingles.isEmpty) return sig
    val (as, bs) = minHashCoef.computeIfAbsent((k, seed), { _ =>
      val rnd = new java.util.Random(seed)
      (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
    })
    shingles.foreach { sh =>
      val h = fnv1a64(sh)
      var i = 0
      while (i < k) {
        val v = as(i) * h + bs(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  val minHash = udf((sh: Seq[String], k: Int) =>
    minHashScala(if (sh == null) Seq.empty else sh, k, 42L))

  /** SimHash (Charikar 2002): 64-bit signature whose Hamming distance
    * approximates cosine distance over the token multiset.
    */
  def simHashScala(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simHash = udf((text: String) => simHashScala(TextAnalyzer.tokenize(text)))

  /** Hamming distance between two 64-bit signatures (built-in only). */
  def hammingDist64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity between two array columns (built-ins only). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }
}
