package graft

/** DuckDB oracle SQL for every SQL-expressible query in [[Queries]].
  *
  * Written for DuckDB 1.x against views named after the testdata
  * parquet files. Each statement is constructed to compute the SAME
  * IEEE-double values as the Spark side (identical tokenization
  * regexes, identical sequential arithmetic where it matters, decimal
  * casts where summation order would otherwise perturb low bits) and
  * carries the same total ORDER BY.
  */
object Oracles {

  /** Cosine between an embedding column and the vec_id=0 query
    * vector, computed in double like GraftFunctions.cosineSimilarity.
    */
  private def cosSql(tbl: String): String =
    s"list_cosine_similarity(CAST($tbl.embedding AS DOUBLE[]), " +
      "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))"

  /** DuckDB mirror of Queries.sqlTokens (incl. its null-coalesce). */
  private val toksSql =
    "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB mirror of Queries.splitOf — ONE definition shared by the
    * split_assign and eval_split_leakage replays (review r17: the
    * engine side shares splitOf; a duplicated CASE here could drift).
    */
  private def splitCaseSql(idc: String): String =
    s"""CASE WHEN substr(md5(CAST($idc AS VARCHAR) || '${Queries.splitSalt}'), 1, 4)
       |           < '${Queries.splitTrainMax}' THEN 'train'
       |         WHEN substr(md5(CAST($idc AS VARCHAR) || '${Queries.splitSalt}'), 1, 4)
       |           < '${Queries.splitValMax}' THEN 'val'
       |         ELSE 'test' END""".stripMargin

  /** Mirrors of GraftFunctions.tokenEstimate / tokenCountBpe — ONE
    * definition shared by the f9 and fertility oracles. */
  private val wsCountSql =
    """CASE WHEN text IS NULL OR text = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END""".stripMargin
  private val bpeCountSql =
    """len(regexp_extract_all(coalesce(text, ''),
      |    '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))""".stripMargin

  /** The per-document distinct-bigram derivation (body form) — ONE
    * mirror of Dedup.ngramSet(n=2) / the language-ID featurizer's
    * gram step, parameterized on the source table and the emitted CTE
    * names so every consumer (the n-gram Jaccard and decontamination
    * oracles via [[bigramsCte]], the raw and cleaned-text detection
    * replays via [[detChainCtes]]) composes the SAME tokenize →
    * unnest → distinct-bigram SQL; a tokenization change edits one
    * definition (review r19).
    */
  private def bigramChainCtes(src: String, arrN: String, unnN: String,
      bigN: String): String =
    s"""$arrN AS (
       |  SELECT doc_id, $toksSql AS toks FROM $src),
       |$unnN AS (
       |  SELECT doc_id, unnest(toks) AS tok,
       |    generate_subscripts(toks, 1) AS i
       |  FROM $arrN WHERE len(toks) >= 2),
       |$bigN AS (
       |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS g
       |  FROM $unnN a JOIN $unnN b
       |    ON a.doc_id = b.doc_id AND b.i = a.i + 1)""".stripMargin

  /** Shared CTE prefix producing per-document distinct bigrams —
    * used by the n-gram Jaccard and decontamination oracles (legacy
    * CTE names, ~10 consumers).
    */
  private val bigramsCte =
    "WITH " + bigramChainCtes("documents", "arr", "unnested", "bigrams")

  /** DSIR weight CTE chain (shared by dsir_weights / dsir_sample):
    * target = source '${Queries.dsirTargetSource}' docs' bigrams, raw = the rest;
    * 16^3 = 4096 md5-prefix buckets, Laplace alpha = 1.
    */
  private val dsirWeightsCte =
    s"""tg AS (
       |  SELECT b.g FROM bigrams b JOIN documents d USING (doc_id)
       |  WHERE d.source = '${Queries.dsirTargetSource}'),
       |rg AS (
       |  SELECT b.doc_id, b.g FROM bigrams b JOIN documents d USING (doc_id)
       |  WHERE d.source <> '${Queries.dsirTargetSource}'),
       |tc AS (SELECT substr(md5(g), 1, 3) AS bk, COUNT(*) AS ct FROM tg GROUP BY 1),
       |rc AS (SELECT substr(md5(g), 1, 3) AS bk, COUNT(*) AS cr FROM rg GROUP BY 1),
       |tt AS (SELECT SUM(ct) AS tt FROM tc),
       |rt AS (SELECT SUM(cr) AS rt FROM rc),
       |ratio AS (
       |  SELECT COALESCE(tc.bk, rc.bk) AS bk,
       |    ln(COALESCE(tc.ct, 0) + 1.0) - ln(tt.tt + 4096.0)
       |    - ln(COALESCE(rc.cr, 0) + 1.0) + ln(rt.rt + 4096.0) AS llr
       |  FROM tc FULL OUTER JOIN rc ON tc.bk = rc.bk, tt, rt),
       |w AS (
       |  SELECT rg.doc_id, SUM(ratio.llr) AS logw
       |  FROM rg JOIN ratio ON substr(md5(rg.g), 1, 3) = ratio.bk
       |  GROUP BY rg.doc_id)""".stripMargin

  /** Learned-quality-classifier scoring CTE (shared by
    * quality_classifier / quality_filter_pareto): distinct feature
    * buckets per non-target doc → coefficient sum → sigmoid, over the
    * dumped weights + intercept.
    */
  private val qualityScoreCte =
    s"""feat AS (
       |  SELECT DISTINCT doc_id, substr(md5(g), 1, 3) AS bk FROM bigrams),
       |wt AS (SELECT bk, w FROM read_parquet('__AUX__/quality_aux_weights.parquet')),
       |ic AS (SELECT icept FROM read_parquet('__AUX__/quality_aux_intercept.parquet')),
       |s AS (
       |  SELECT f.doc_id, SUM(wt.w) AS z
       |  FROM feat f JOIN wt USING (bk)
       |  GROUP BY f.doc_id),
       |q AS (
       |  SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-(z + ic.icept))), 4) AS qscore
       |  FROM s, ic)""".stripMargin

  /** The per-lang percentile gate replay — ONE definition shared by
    * `sample_percentile` (histogram-CDF equi-join path) and
    * `sample_percentile_snapshot` (persisted-store range-lookup path):
    * the two engine paths must produce the identical gated set, so
    * they share the oracle verbatim.
    */
  private lazy val samplePercentileSql: String =
    s"""WITH q AS (${qualitySql("documents")}),
       |p AS (
       |  SELECT d.doc_id, d.lang, q.quality,
       |    round(cume_dist() OVER (PARTITION BY d.lang ORDER BY q.quality), 6) AS pct
       |  FROM documents d JOIN q USING (doc_id))
       |SELECT doc_id, lang, quality, pct FROM p
       |WHERE pct >= ${Queries.percentileGate}
       |ORDER BY doc_id""".stripMargin

  /** Quality-score SELECT over relation `src`(doc_id, text) —
    * subquery form so composed oracles (pipeline_corpus) can apply it
    * to an intermediate CTE. Mirrors GraftFunctions.qualityScore
    * signal by signal: same char classes (RE2 \p{L} == Java \p{L};
    * [[:punct:]] == Java \p{Punct}, both ASCII), same whitespace
    * tokenization, same left-associative signal sum before the /5.0.
    */
  private def qualitySql(src: String): String = {
    val stopList = graft.functions.TextAnalyzer.stopwords.toSeq.sorted
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  round((
       |    (CASE WHEN n_toks BETWEEN 5 AND 10000 THEN 1.0
       |          WHEN n_toks > 0 THEN 0.5 ELSE 0.0 END)
       |    + (CASE WHEN n_chars > 0 THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END)
       |    + (CASE WHEN n_chars > 0
       |         THEN 1.0 - least(CAST(punct AS DOUBLE) / n_chars * 5.0, 1.0)
       |         ELSE 0.0 END)
       |    + (CASE WHEN n_toks > 0
       |         THEN least(CAST(stop_hits AS DOUBLE) / n_toks * 4.0, 1.0)
       |         ELSE 0.0 END)
       |    + (CASE WHEN n_toks > 0 THEN CAST(distinct_toks AS DOUBLE) / n_toks ELSE 0.0 END)
       |  ) / 5.0, 4) AS quality
       |FROM (
       |  SELECT b.doc_id,
       |    length(tx) AS n_chars,
       |    length(regexp_replace(tx, '[^\\p{L}]', '', 'g')) AS alpha,
       |    length(regexp_replace(tx, '[^[:punct:]]', '', 'g')) AS punct,
       |    coalesce(t.n_toks, 0) AS n_toks,
       |    coalesce(t.stop_hits, 0) AS stop_hits,
       |    coalesce(t.distinct_toks, 0) AS distinct_toks
       |  FROM (SELECT doc_id, coalesce(text, '') AS tx FROM $src) b
       |  LEFT JOIN (
       |    SELECT doc_id, count(*) AS n_toks,
       |      count(*) FILTER (WHERE w IN ($stopList)) AS stop_hits,
       |      count(DISTINCT w) AS distinct_toks
       |    FROM (
       |      SELECT doc_id, lower(u.w) AS w
       |      FROM (SELECT doc_id, coalesce(text, '') AS tx FROM $src) bb,
       |        unnest(regexp_split_to_array(trim(tx), '\\s+')) AS u(w)
       |      WHERE trim(tx) <> '') toksq
       |    GROUP BY doc_id) t USING (doc_id)) cs""".stripMargin
  }

  /** DuckDB mirror of Dedup.embeddingLshBandedPairs: band keys from
    * the same seeded hyperplanes (floats rendered as their exact
    * double values — Scala Double.toString round-trips), candidate
    * join per band, exact cosine verify.
    */
  /** UNION-ALL band-key selects over relation `v(vec_id, e)` with the
    * EXACT Spark-side hyperplanes — shared by the pair-sweep and
    * decontamination replays, mirroring Dedup.signBandKeys being the
    * one key expression on the engine side.
    */
  private def signBandKeySelects(dim: Int, bits: Int, bands: Int,
      seed: Long): String = {
    val planes = graft.operators.Ann.hyperplanes(bits * bands, dim, seed)
    def planeLit(p: Array[Float]): String =
      p.map(_.toDouble.toString).mkString("[", ", ", "]")
    (0 until bands).map { bnd =>
      val key = (0 until bits).map { i =>
        s"(CASE WHEN list_dot_product(e, ${planeLit(planes(bnd * bits + i))}) > 0 " +
          s"THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $bnd AS band, $key AS k FROM v"
    }.mkString("\nUNION ALL\n")
  }

  private def embeddingLshSql(dim: Int, bits: Int, bands: Int,
      seed: Long, threshold: Double): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |keys AS (
       |${signBandKeySelects(dim, bits, bands, seed)}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM keys a JOIN keys b
       |    ON a.band = b.band AND a.k = b.k AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b,
       |  round(list_cosine_similarity(va.e, vb.e), 4) AS cos
       |FROM cand c
       |JOIN v va ON va.vec_id = c.id_a
       |JOIN v vb ON vb.vec_id = c.id_b
       |WHERE list_cosine_similarity(va.e, vb.e) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Mirror of Dedup.contaminatedDocsSemantic over the % mod held-out
    * split: same band keys as [[embeddingLshSql]] (same planes, same
    * seed), candidates = corpus×benchmark band collisions, exact
    * cosine verify, per-corpus-id hit aggregation.
    */
  private def embeddingDecontamSql(dim: Int, bits: Int, bands: Int,
      seed: Long, threshold: Double, mod: Long): String =
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |keys AS (
       |${signBandKeySelects(dim, bits, bands, seed)}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id, b.vec_id AS bid
       |  FROM keys a JOIN keys b ON a.band = b.band AND a.k = b.k
       |  WHERE a.vec_id % $mod <> 0 AND b.vec_id % $mod = 0),
       |hits AS (
       |  SELECT c.id, c.bid, list_cosine_similarity(va.e, vb.e) AS cos
       |  FROM cand c
       |  JOIN v va ON va.vec_id = c.id
       |  JOIN v vb ON vb.vec_id = c.bid
       |  WHERE list_cosine_similarity(va.e, vb.e) >= $threshold)
       |SELECT id AS vec_id, COUNT(DISTINCT bid) AS n_hits,
       |  round(max(cos), 4) AS max_cos
       |FROM hits GROUP BY 1 ORDER BY vec_id""".stripMargin

  private val f2RankSql =
    s"""WITH q AS (
       |  SELECT f2_qlex FROM read_parquet('__AUX__/vz_aux_query.parquet')),
       |m AS (
       |  SELECT d.doc_id,
       |    len(list_intersect(d.lexemes, q.f2_qlex)) AS m,
       |    len(d.lexemes) AS n, len(q.f2_qlex) AS qn
       |  FROM read_parquet('__AUX__/f2_aux_lexemes.parquet') d CROSS JOIN q
       |  WHERE len(list_intersect(d.lexemes, q.f2_qlex)) > 0)
       |SELECT doc_id,
       |  round((CAST(m AS DOUBLE) / qn) * (1.0 + CAST(m AS DOUBLE) / n), 4) AS rank
       |FROM m ORDER BY rank DESC, doc_id ASC LIMIT 50""".stripMargin

  /** Phrase-match walk over the dumped per-doc position arrays:
    * anchors are the first term's positions; a doc hits when some
    * anchor b has EVERY phrase term at b + its offset (the Postgres
    * TS_phrase_execute walk, declaratively). Terms/offsets are
    * interpolated from the same phraseLexemes the engine queries fold
    * into their plans. Emits CTEs ending in `hit(doc_id)` (one row
    * per satisfying anchor — DISTINCT downstream); shared by
    * f5_phrase_match / f5_postings_phrase / f5_websearch.
    */
  private def phraseHitCtes: String = {
    val terms = Queries.phraseTerms
    val values = terms.map { case (l, o) => s"('${l.replace("'", "''")}', $o)" }
      .mkString(", ")
    s"""p AS (
       |  SELECT doc_id, lexeme, positions
       |  FROM read_parquet('__AUX__/f5_aux_positions.parquet')),
       |terms(lex, off) AS (VALUES $values),
       |anchors AS (
       |  SELECT doc_id, unnest(positions) AS b
       |  FROM p WHERE lexeme = '${terms.head._1.replace("'", "''")}'),
       |hit AS (
       |  SELECT a.doc_id
       |  FROM anchors a
       |  JOIN terms t ON true
       |  JOIN p ON p.doc_id = a.doc_id AND p.lexeme = t.lex
       |        AND list_contains(p.positions, a.b + t.off)
       |  GROUP BY a.doc_id, a.b
       |  HAVING count(*) = ${terms.size})""".stripMargin
  }

  private def f5PhraseSql: String =
    s"""WITH $phraseHitCtes
       |SELECT DISTINCT d.doc_id, d.lang
       |FROM documents d JOIN hit ON d.doc_id = hit.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Exact OR-query ts_rank_cd replay over the dumped per-doc
    * (lexeme, npos) position counts: every matched position is its
    * own minimal cover, so rank = 0.1 · Σ npos of matched lexemes
    * (TextAnalyzer.rankCdOr). `0.1 * sum` mirrors the engine's single
    * multiply over the integer sum, so doubles are bit-identical.
    * Shared by the scan (f4_rank_cd) and postings-index
    * (f4_postings_rank_cd) forms, which must agree exactly.
    */
  private val f4RankCdSql =
    s"""WITH q AS (
       |  SELECT DISTINCT unnest(f2_qlex) AS lex
       |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
       |m AS (
       |  SELECT p.doc_id, 0.1 * sum(p.npos) AS r
       |  FROM read_parquet('__AUX__/f4_aux_poscounts.parquet') p
       |  JOIN q ON p.lexeme = q.lex
       |  GROUP BY p.doc_id)
       |SELECT doc_id, round(r, 4) AS rank
       |FROM m ORDER BY rank DESC, doc_id ASC LIMIT 50""".stripMargin

  /** AND-query ts_rank_cd replay: the tsrank.c greedy minimal-cover
    * walk as a RECURSIVE CTE over the dumped per-doc position arrays
    * (f4_aux_and_positions) — a declarative re-implementation checking
    * the engine's imperative walk (TextAnalyzer.rankCdAnd). Each step:
    * e = max over terms of (first entry index ≥ start), begin = min
    * over terms of (last entry index ≤ e), noise = positional width −
    * (entries − 1) (negative → (entries−1)/2 integer-div, tsrank.c's
    * degenerate-cover rule), contribute 0.1/(1+noise), restart at
    * begin+1. Accumulation order matches the engine (increasing
    * start), so the summed doubles are bit-identical.
    */
  private val f4RankCdAndSql =
    s"""WITH RECURSIVE q AS (
       |  SELECT DISTINCT unnest(f2_qlex) AS lex
       |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
       |nq AS (SELECT count(*) AS n FROM q),
       |entries AS (
       |  SELECT doc_id, lexeme, pos,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos, lexeme) AS idx
       |  FROM (
       |    SELECT d.doc_id, d.lexeme, unnest(d.positions) AS pos
       |    FROM read_parquet('__AUX__/f4_aux_and_positions.parquet') d
       |    JOIN q ON d.lexeme = q.lex)),
       |matched AS (
       |  SELECT doc_id FROM entries GROUP BY doc_id
       |  HAVING count(DISTINCT lexeme) = (SELECT n FROM nq)),
       |walk(doc_id, start_idx, acc) AS (
       |  SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS DOUBLE) FROM matched
       |  UNION ALL
       |  SELECT w.doc_id, cov.begin_idx + 1, w.acc + 0.1 / (1 + cov.noise)
       |  FROM walk w JOIN LATERAL (
       |    SELECT e.e_idx, b.begin_idx,
       |      CASE WHEN (ep.pos - bp.pos) - (e.e_idx - b.begin_idx) < 0
       |           THEN (e.e_idx - b.begin_idx) // 2
       |           ELSE (ep.pos - bp.pos) - (e.e_idx - b.begin_idx)
       |      END AS noise
       |    FROM
       |      (SELECT max(fi) AS e_idx FROM (
       |         SELECT lexeme, min(idx) AS fi FROM entries
       |         WHERE doc_id = w.doc_id AND idx >= w.start_idx
       |         GROUP BY lexeme) f
       |       HAVING count(*) = (SELECT n FROM nq)) e
       |    JOIN LATERAL (
       |      SELECT min(li) AS begin_idx FROM (
       |        SELECT lexeme, max(idx) AS li FROM entries
       |        WHERE doc_id = w.doc_id AND idx <= e.e_idx
       |        GROUP BY lexeme) g) b ON true
       |    JOIN entries ep ON ep.doc_id = w.doc_id AND ep.idx = e.e_idx
       |    JOIN entries bp ON bp.doc_id = w.doc_id AND bp.idx = b.begin_idx
       |  ) cov ON true)
       |SELECT doc_id, round(rank, 4) AS rank FROM (
       |  SELECT doc_id, max(acc) AS rank FROM walk GROUP BY doc_id)
       |WHERE rank > 0
       |ORDER BY rank DESC, doc_id ASC LIMIT 50""".stripMargin

  /** Gaps-and-islands session tagging shared by the r_sessionize and
    * r_interval_join oracles — ONE source of truth for the 30-minute
    * gap and running-sum session ids, mirroring Queries.sessionTagged
    * (which the Spark side likewise shares between the two entries).
    */
  private val sessionsCte =
    """e AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts_ms, value,
      |    CASE WHEN lag(ts_ms) OVER w IS NULL
      |              OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
      |sess AS (
      |  SELECT user_id, ts_ms, value,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged)""".stripMargin

  /** MinHash pair replay (as in dedup_minhash_lsh) closed transitively
    * with a recursive CTE — the declarative connected-components
    * fixpoint both distributed clustering entries are checked against.
    */
  /** The shared CTE chain: banded pair replay → transitive closure →
    * per-id canonical labels. Prefixed by the callers' own `WITH
    * RECURSIVE`; consumed by the cluster entries and the composed
    * pipeline_neardup.
    */
  private lazy val neardupLabelCtes: String = {
    val rows = Queries.minHashNumHashes / Queries.minHashBands
    s"""s AS (
       |  SELECT doc_id, shingles, sig
       |  FROM read_parquet('__AUX__/minhash_aux.parquet')
       |  WHERE len(shingles) > 0),
       |bands AS (SELECT range AS band FROM range(0, ${Queries.minHashBands})),
       |keyed AS (
       |  SELECT doc_id, band,
       |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
       |  FROM s CROSS JOIN bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN s sa ON sa.doc_id = c.id_a
       |  JOIN s sb ON sb.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / len(list_distinct(sa.shingles || sb.shingles))
       |      >= ${Queries.minHashThreshold}),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |labels AS (SELECT id, min(r) AS canonical_id FROM reach GROUP BY id)""".stripMargin
  }

  private lazy val dedupClustersSql: String =
    s"""WITH RECURSIVE $neardupLabelCtes,
       |sizes AS (
       |  SELECT canonical_id, count(*) AS cluster_size
       |  FROM labels GROUP BY canonical_id)
       |SELECT l.id AS doc_id, l.canonical_id, z.cluster_size
       |FROM labels l JOIN sizes z USING (canonical_id)
       |ORDER BY doc_id""".stripMargin

  /** The ingestion chain's CTE prefix through `final` (batch hash
    * keep-first → corpus anti → blocklist → banded near-dup over
    * minhash_aux restricted to survivors) — shared by the
    * pipeline_ingest and ingest_audit oracles so the two replay ONE
    * definition of every stage. Mirrors the base ("") configuration
    * of Queries.ingestSpecs.
    */
  /** The ingestion-chain CTEs (exact dedup → blocklist → optional
    * decontamination vs the benchmark id tail → near-dup), ending in
    * `final(doc_id)`. With `decontam = true` the batch is capped at
    * [[Queries.decontamNearDupSplit]] (the tail is the benchmark
    * slice) and a drop stage replays
    * Dedup.contaminatedDocsNearDup between the blocklist and the
    * near-dup stage — otherwise `bl2` is just `bl` and the chain is
    * the r11 three-stage form.
    */
  /** The packing replay, ONE definition (mirroring the Scala side's
    * shared Queries.packPlacement): per-doc shard arithmetic over a
    * source, the per-(lang, shard) ordered EXCLUSIVE cumsum, the
    * bin = floor(before / budget) rule, and the two terminal forms —
    * the per-bin summary (pack_sequences, pipeline_pack) and the
    * per-doc placement manifest (pack_offsets, pipeline_pack_offsets).
    * Four oracles compose these; an edit to the bin rule or the
    * tok_offset arithmetic can no longer diverge them.
    */
  /** Perceptual-hash near-dup brute-force replay over a dumped
    * feature parquet (mm_neardup / mm_neardup_decoded): the
    * fingerprint's mean is the IDENTICAL left-assoc sum, the per-band
    * sig bits are integer CASEs, and the banded engine path has full
    * recall by pigeonhole (bands = maxHamming+1) — so brute force
    * over the dump IS the exact expected pair set (the dedup_simhash
    * convention). Constant (structureless) vectors hash to all-zero
    * bands and are excluded on BOTH sides (sig sum > 0) — see
    * perceptualHashPairs' scaladoc.
    */
  private def mmNeardupSqlOver(auxFile: String): String = {
    val dim = Queries.mmNeardupDim
    val bands = Queries.mmNeardupMaxHamming + 1
    val width = dim / bands
    val mean = (1 to dim).map(i => s"features[$i]")
      .mkString("(", " + ", s") / $dim")
    def sig(b: Int): String = (0 until width).map { j =>
      s"(CASE WHEN features[${b * width + j + 1}] > mean THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", s") AS sig$b")
    val sigs = (0 until bands).map(sig).mkString(",\n  ")
    val ham = (0 until bands).map(b => s"bit_count(xor(a.sig$b, b.sig$b))")
      .mkString(" + ")
    val sigSum = (0 until bands).map(b => s"sig$b").mkString(" + ")
    s"""WITH m AS (
       |  SELECT asset_id, features, $mean AS mean
       |  FROM read_parquet('__AUX__/$auxFile')),
       |s0 AS (SELECT asset_id,
       |  $sigs
       |  FROM m),
       |s AS (SELECT * FROM s0 WHERE $sigSum > 0)
       |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       |  CAST($ham AS INT) AS hamming
       |FROM s a JOIN s b ON a.asset_id < b.asset_id
       |WHERE $ham <= ${Queries.mmNeardupMaxHamming}
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def packPerDocSql(src: String): String =
    s"""per_doc AS (
       |  SELECT lang, CAST(doc_id % ${Queries.packShards} AS INT) AS shard,
       |    doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
       |  FROM $src)""".stripMargin
  private def packBinnedCte: String =
    s"""binned AS (
       |  SELECT lang, shard, n_toks,
       |    CAST(floor(coalesce(sum(n_toks) OVER (
       |      PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      / ${Queries.packBudget}) AS BIGINT) AS bin
       |  FROM per_doc)""".stripMargin
  private def packBinSummarySql: String =
    """SELECT lang, shard, bin, count(*) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM binned GROUP BY lang, shard, bin""".stripMargin
  private def packBinsSql: String =
    s"""$packBinnedCte
       |$packBinSummarySql
       |ORDER BY lang, shard, bin""".stripMargin
  private def packPlacementSql: String =
    s"""binned AS (
       |  SELECT lang, shard, doc_id, n_toks,
       |    coalesce(sum(n_toks) OVER (
       |      PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM per_doc),
       |b2 AS (
       |  SELECT lang, shard, doc_id, n_toks, cum_before,
       |    CAST(floor(cum_before / ${Queries.packBudget}) AS BIGINT) AS bin
       |  FROM binned)
       |SELECT lang, shard, bin,
       |  CAST(row_number() OVER (
       |    PARTITION BY lang, shard, bin ORDER BY doc_id) - 1 AS INT) AS pos,
       |  doc_id, n_toks,
       |  CAST(cum_before - min(cum_before) OVER (
       |    PARTITION BY lang, shard, bin) AS BIGINT) AS tok_offset
       |FROM b2 ORDER BY lang, shard, bin, pos""".stripMargin
  /** The ladder chain's survivor join as a packing source (the
    * pipeline_pack* oracles restrict per_doc to `final`); wrapped so
    * the shared per_doc SQL reads unambiguous bare columns. */
  private val ladderSurvivorsSrc =
    "(SELECT d.lang, d.doc_id, d.text FROM documents d " +
      "JOIN final f ON f.doc_id = d.doc_id)"

  /** Per-doc DETECTED-language CTE chain over `srcTable(doc_id, text)`
    * (body form, no leading WITH; CTE names suffixed with `sfx`) — the
    * text_language_id_trained replay (tokenize → bigrams →
    * hashed buckets → scaled-integer sums → (score, lang)-descending
    * argmax, gram-less docs routed to 'und') ending in
    * det$sfx(doc_id, lang). ONE definition (review r19) emits the
    * raw-corpus chain and the routed+boil chain's cleaned-text rerun,
    * so the two replays can never drift about what "the same
    * detection" means; requires the lw/li weight CTEs upstream
    * ([[langDetCtes]] provides them).
    */
  private def detChainCtes(srcTable: String, sfx: String): String =
    s"""${bigramChainCtes(srcTable, s"arr$sfx", s"unn$sfx", s"big$sfx")},
       |feat$sfx AS (
       |  SELECT DISTINCT doc_id, substr(md5(g), 1, 3) AS bk FROM big$sfx),
       |z$sfx AS (
       |  SELECT f.doc_id, lw.lang, SUM(lw.w) AS zs
       |  FROM feat$sfx f JOIN lw USING (bk)
       |  GROUP BY f.doc_id, lw.lang),
       |sc$sfx AS (
       |  SELECT z.doc_id, z.lang, z.zs + li.icept AS score
       |  FROM z$sfx z JOIN li USING (lang)),
       |bestl$sfx AS (
       |  SELECT doc_id, lang AS detected,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lang DESC) AS rn
       |  FROM sc$sfx),
       |det$sfx AS (
       |  SELECT d.doc_id, coalesce(b.detected, 'und') AS lang
       |  FROM $srcTable d
       |  LEFT JOIN (SELECT doc_id, detected FROM bestl$sfx WHERE rn = 1) b
       |    USING (doc_id))""".stripMargin

  /** The raw-corpus detection chain + the scaled-integer weight
    * tables (body form) ending in det(doc_id, lang). Shared by the
    * trained/stored language-ID entries and the ROUTED ingest chains,
    * so routing can never drift between the standalone query and the
    * composed gate.
    */
  private val langDetCtes =
    s"""lw AS (SELECT lang, bk, w
       |  FROM read_parquet('__AUX__/langid_aux_weights.parquet')),
       |li AS (SELECT lang, icept
       |  FROM read_parquet('__AUX__/langid_aux_icepts.parquet')),
       |${detChainCtes("documents", "")}""".stripMargin

  /** Detection replay over the CLEANED batch text — the routed+boil
    * chain's serve-side language: [[detChainCtes]] re-run over `docsb`
    * (the boil stage's cleaned CTE), ending in detb(doc_id, lang). */
  private val langDetCleanedCtes = detChainCtes("docsb", "b")

  private def ingestChain(decontam: Boolean, semantic: Boolean = false,
      percentile: Boolean = false, boil: Boolean = false,
      routed: Boolean = false): String = {
    require(!semantic || decontam, "the ladder adds to the decontam chain")
    require(!boil || decontam, "the boil stage composes on the decontam chain")
    require(!routed || percentile,
      "routing keys the percentile gate on detected language")
    val rows = Queries.minHashNumHashes / Queries.minHashBands
    val terms = Queries.blocklistTerms.map(s => s"'$s'").mkString("[", ", ", "]")
    val batchPred =
      if (decontam)
        s"doc_id >= ${Queries.incrementalSplit} AND doc_id < ${Queries.decontamNearDupSplit}"
      else s"doc_id >= ${Queries.incrementalSplit}"
    // the SEMANTIC rung (ladder form): same literal-plane band keys as
    // the decontam_semantic oracle (shared geometry constants), pairs
    // restricted batch-slice × benchmark-tail, exact cosine verify,
    // NOT IN applied to the shingle rung's survivors
    val semCtes =
      if (!semantic) ""
      else
        s"""
           |v AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           |  WHERE vec_id >= ${Queries.incrementalSplit}),
           |skeys AS (
           |${signBandKeySelects(64, Queries.decontamSemBits,
               Queries.decontamSemBands, 42L)}),
           |scand AS (
           |  SELECT DISTINCT a.vec_id AS id, b.vec_id AS bid
           |  FROM skeys a JOIN skeys b ON a.band = b.band AND a.k = b.k
           |  WHERE a.vec_id < ${Queries.decontamNearDupSplit}
           |    AND b.vec_id >= ${Queries.decontamNearDupSplit}),
           |semhit AS (
           |  SELECT DISTINCT c.id FROM scand c
           |  JOIN v va ON va.vec_id = c.id
           |  JOIN v vb ON vb.vec_id = c.bid
           |  WHERE list_cosine_similarity(va.e, vb.e)
           |    >= ${Queries.decontamSemThreshold}),
           |bl3 AS (
           |  SELECT doc_id FROM bl2 WHERE doc_id NOT IN (SELECT id FROM semhit)),
           |""".stripMargin
    val gate = if (semantic) "bl3" else "bl2"
    // the boil stage (when on) sits between blocklist and the
    // percentile gate: the dedup_boilerplate_stored replay (full-
    // corpus span df, batch-slice rebuild) drops all-boilerplate docs
    // and hands the CLEANED text to every later stage — the quality
    // gate scores it, the decontam/near-dup stages read its
    // signatures from the minhash_boil_aux dump
    val pctIn = if (boil) "blb" else "bl"
    val boilTextCtes =
      if (!boil) ""
      else {
        val st = Queries.spanDedupTokens
        s"""btoks AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |bspansx AS (
           |  SELECT doc_id, toks,
           |    unnest(range(CAST(ceil(len(toks) / $st.0) AS BIGINT))) AS span_idx
           |  FROM btoks),
           |bspans AS (
           |  SELECT doc_id, span_idx,
           |    array_to_string(list_slice(toks,
           |      span_idx * $st + 1, span_idx * $st + $st), ' ') AS span
           |  FROM bspansx),
           |boilset AS (
           |  SELECT span FROM bspans GROUP BY span
           |  HAVING count(DISTINCT doc_id) >= ${Queries.boilerplateMinDocs}),
           |cleaned AS (
           |  SELECT sp.doc_id,
           |    coalesce(string_agg(CASE WHEN bo.span IS NULL THEN sp.span END,
           |      ' ' ORDER BY sp.span_idx), '') AS clean_text,
           |    count(CASE WHEN bo.span IS NULL THEN 1 END) AS n_kept
           |  FROM bspans sp LEFT JOIN boilset bo USING (span)
           |  WHERE $batchPred
           |  GROUP BY sp.doc_id),
           |blb AS (
           |  SELECT bl.doc_id FROM bl JOIN cleaned USING (doc_id)
           |  WHERE n_kept > 0),
           |""".stripMargin
      }
    // the percentile-gate stage (when on) sits between the boil stage
    // (or blocklist) and decontamination: the quality_percentile CDF
    // replay gates the survivors at ingestGatePct, and the later
    // stages read `blp` instead of `bl`. With boil on, the gate
    // scores the CLEANED text by RANGE lookup against the raw-corpus
    // CDF cells (QualityCal.withPercentile semantics: max cell pct
    // over cells with quality <= the doc's; known lang with no cell
    // below -> 0.0; unknown lang -> NULL, which fails the gate) — a
    // cleaned quality is generally not a raw histogram cell, so the
    // cume_dist equi-form would silently drop docs.
    val gateIn = if (percentile) "blp" else pctIn
    val pctCtes =
      if (!percentile) ""
      else if (routed && boil)
        // ROUTED + BOIL (r19): the calibration cells partition by the
        // corpus's DETECTED-on-raw language (the det CTE prepended
        // below — the routed snapshot's build convention), the batch
        // side scores the CLEANED text and keys on its detection over
        // the CLEANED text (detb) — the text that ships is the text
        // that routes. RANGE lookup because a cleaned quality is
        // generally not a raw histogram cell; a detected language
        // with NO calibration partition ABSTAINS (passes, the
        // streaming PercentileGate's unseen-language semantics —
        // possible here because a clean can drop every bigram and
        // rout to 'und').
        s"""pq AS (${qualitySql("documents")}),
           |cellsrc AS (
           |  SELECT dt.lang, pq.quality, count(*) AS cnt
           |  FROM documents d JOIN pq USING (doc_id)
           |  JOIN det dt USING (doc_id)
           |  GROUP BY dt.lang, pq.quality),
           |cells AS (
           |  SELECT lang, quality,
           |    round(CAST(sum(cnt) OVER (
           |      PARTITION BY lang ORDER BY quality) AS DOUBLE)
           |      / sum(cnt) OVER (PARTITION BY lang), 6) AS pct
           |  FROM cellsrc),
           |docsb AS (SELECT doc_id, clean_text AS text FROM cleaned),
           |$langDetCleanedCtes,
           |bq0 AS (${qualitySql("docsb")}),
           |bq AS (
           |  SELECT b0.doc_id, db.lang, b0.quality AS q
           |  FROM bq0 b0 JOIN detb db USING (doc_id)
           |  JOIN blb USING (doc_id)),
           |blp AS (
           |  SELECT bq.doc_id FROM bq
           |  WHERE NOT EXISTS (SELECT 1 FROM cells c2
           |      WHERE c2.lang = bq.lang)
           |    OR coalesce((SELECT max(c.pct) FROM cells c
           |      WHERE c.lang = bq.lang
           |        AND c.quality <= bq.q), 0.0) >= ${Queries.ingestGatePct}),
           |""".stripMargin
      else if (boil)
        s"""pq AS (${qualitySql("documents")}),
           |cellsrc AS (
           |  SELECT d.lang, pq.quality, count(*) AS cnt
           |  FROM documents d JOIN pq USING (doc_id)
           |  GROUP BY d.lang, pq.quality),
           |cells AS (
           |  SELECT lang, quality,
           |    round(CAST(sum(cnt) OVER (
           |      PARTITION BY lang ORDER BY quality) AS DOUBLE)
           |      / sum(cnt) OVER (PARTITION BY lang), 6) AS pct
           |  FROM cellsrc),
           |docsb AS (SELECT doc_id, clean_text AS text FROM cleaned),
           |bq0 AS (${qualitySql("docsb")}),
           |bq AS (
           |  SELECT b0.doc_id, d.lang, b0.quality AS q
           |  FROM bq0 b0 JOIN documents d USING (doc_id)
           |  JOIN blb USING (doc_id)),
           |blp AS (
           |  SELECT bq.doc_id FROM bq
           |  WHERE EXISTS (SELECT 1 FROM cells c2
           |      WHERE c2.lang IS NOT DISTINCT FROM bq.lang)
           |    AND coalesce((SELECT max(c.pct) FROM cells c
           |      WHERE c.lang IS NOT DISTINCT FROM bq.lang
           |        AND c.quality <= bq.q), 0.0) >= ${Queries.ingestGatePct}),
           |""".stripMargin
      else if (routed)
        // ROUTED (r19): the percentile partitions by DETECTED language
        // (the det CTE prepended below) — the calibration and the gate
        // key on the same language definition detection serves, the
        // production shape for unlabeled corpora. Batch docs are
        // corpus docs, so every (detected lang, quality) is a
        // calibration cell and cume_dist ≡ the engine's snapshot
        // range lookup.
        s"""pq AS (${qualitySql("documents")}),
           |pctq AS (
           |  SELECT d.doc_id,
           |    round(cume_dist() OVER (
           |      PARTITION BY dt.lang ORDER BY pq.quality), 6) AS pct
           |  FROM documents d JOIN pq USING (doc_id)
           |  JOIN det dt USING (doc_id)),
           |blp AS (
           |  SELECT bl.doc_id FROM bl JOIN pctq USING (doc_id)
           |  WHERE pct >= ${Queries.ingestGatePct}),
           |""".stripMargin
      else
        s"""pq AS (${qualitySql("documents")}),
           |pctq AS (
           |  SELECT d.doc_id,
           |    round(cume_dist() OVER (
           |      PARTITION BY d.lang ORDER BY pq.quality), 6) AS pct
           |  FROM documents d JOIN pq USING (doc_id)),
           |blp AS (
           |  SELECT bl.doc_id FROM bl JOIN pctq USING (doc_id)
           |  WHERE pct >= ${Queries.ingestGatePct}),
           |""".stripMargin
    // with boil on, the BATCH side of the decontam and near-dup
    // stages reads the CLEANED-text signatures (minhash_boil_aux);
    // the benchmark and corpus sides keep the raw-text index, exactly
    // as the engine probes the store
    val bsrcK = if (boil) "keyedb" else "keyed"
    val bsrcS = if (boil) "sbq" else "s"
    // the near-dup `other` side is corpus (raw index) OR an earlier
    // batch doc (cleaned) — with boil on, resolve through the union
    // view `su` (the id ranges are disjoint, so UNION ALL is a keyed
    // lookup, not a dedup)
    val ndOtherS = if (boil) "su" else "s"
    val boilSigCtes =
      if (!boil) ""
      else
        s"""sbq AS (
           |  SELECT doc_id, shingles, sig
           |  FROM read_parquet('__AUX__/minhash_boil_aux.parquet')
           |  WHERE len(shingles) > 0),
           |keyedb AS (
           |  SELECT doc_id, band,
           |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
           |  FROM sbq CROSS JOIN bands),
           |su AS (
           |  SELECT doc_id, shingles FROM s
           |  WHERE doc_id < ${Queries.incrementalSplit}
           |  UNION ALL SELECT doc_id, shingles FROM sbq),
           |""".stripMargin
    val decontamCtes = boilTextCtes + pctCtes +
      (if (!decontam) s"bl2 AS (SELECT doc_id FROM $gateIn),"
      else
        s"""blk AS (SELECT k.* FROM $bsrcK k JOIN $gateIn ON $gateIn.doc_id = k.doc_id),
           |benchk AS (
           |  SELECT * FROM keyed WHERE doc_id >= ${Queries.decontamNearDupSplit}),
           |dcand AS (
           |  SELECT DISTINCT c.doc_id AS id, b2.doc_id AS bench_id
           |  FROM blk c JOIN benchk b2 ON c.band = b2.band AND c.bkey = b2.bkey),
           |dhit AS (
           |  SELECT DISTINCT dc.id FROM dcand dc
           |  JOIN $bsrcS sc ON sc.doc_id = dc.id
           |  JOIN s sb ON sb.doc_id = dc.bench_id
           |  WHERE CAST(len(list_intersect(sc.shingles, sb.shingles)) AS DOUBLE)
           |    / len(list_distinct(sc.shingles || sb.shingles))
           |    >= ${Queries.minHashThreshold}),
           |bl2 AS (
           |  SELECT doc_id FROM $gateIn
           |  WHERE doc_id NOT IN (SELECT id FROM dhit)),""".stripMargin) + semCtes
    val detPrefix = if (routed) s"$langDetCtes,\n" else ""
    s"""WITH ${detPrefix}b AS (
       |  SELECT doc_id AS id,
       |    md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS h
       |  FROM documents WHERE $batchPred),
       |e AS (
       |  SELECT DISTINCT
       |    md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS h
       |  FROM documents WHERE doc_id < ${Queries.incrementalSplit}),
       |first AS (
       |  SELECT id, h,
       |    row_number() OVER (PARTITION BY h ORDER BY id) AS rn
       |  FROM b),
       |kept1 AS (
       |  SELECT id FROM first
       |  WHERE rn = 1 AND h NOT IN (SELECT h FROM e)),
       |bl AS (
       |  SELECT d.doc_id FROM documents d JOIN kept1 k ON k.id = d.doc_id
       |  WHERE len(list_intersect(list_distinct($toksSql), $terms)) = 0),
       |s AS (
       |  SELECT doc_id, shingles, sig
       |  FROM read_parquet('__AUX__/minhash_aux.parquet')
       |  WHERE len(shingles) > 0),
       |bands AS (SELECT range AS band FROM range(0, ${Queries.minHashBands})),
       |keyed AS (
       |  SELECT doc_id, band,
       |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
       |  FROM s CROSS JOIN bands),
       |$boilSigCtes$decontamCtes
       |bk AS (SELECT k.* FROM $bsrcK k JOIN $gate ON $gate.doc_id = k.doc_id),
       |ek AS (SELECT * FROM keyed WHERE doc_id < ${Queries.incrementalSplit}),
       |cand AS (
       |  SELECT DISTINCT bb.doc_id AS id, ee.doc_id AS other_id
       |  FROM bk bb JOIN ek ee ON bb.band = ee.band AND bb.bkey = ee.bkey
       |  UNION
       |  SELECT DISTINCT bb.doc_id, oo.doc_id
       |  FROM bk bb JOIN bk oo
       |    ON bb.band = oo.band AND bb.bkey = oo.bkey AND oo.doc_id < bb.doc_id),
       |dropped AS (
       |  SELECT DISTINCT c.id FROM cand c
       |  JOIN $bsrcS sa ON sa.doc_id = c.id
       |  JOIN $ndOtherS sb ON sb.doc_id = c.other_id
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |    / len(list_distinct(sa.shingles || sb.shingles))
       |    >= ${Queries.minHashThreshold}),
       |final AS (
       |  SELECT doc_id FROM $gate
       |  WHERE doc_id NOT IN (SELECT id FROM dropped))""".stripMargin
  }

  private lazy val ingestChainCte: String = ingestChain(decontam = false)

  /** Multiprobe kNN candidate replay through the `ranked` CTE —
    * probe-key equi-join → self-exclusion → exact cosine → per-query
    * (cos DESC, x_id ASC) rank. The SINGLE definition behind
    * knnJoinSql and the knn_label_prop / eval_knn_metrics oracles, so
    * the tie-break and probe semantics can never drift between them.
    */
  private def knnRankedCte(qAux: String, xSql: String): String =
    s"""WITH q AS (SELECT q_id, key FROM read_parquet('__AUX__/$qAux')),
       |x AS ($xSql),
       |pairs AS (
       |  SELECT q.q_id, x.x_id FROM q JOIN x USING (key)
       |  WHERE q.q_id <> x.x_id),
       |scored AS (
       |  SELECT p.q_id, p.x_id,
       |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |      CAST(ex.embedding AS DOUBLE[])) AS cos
       |  FROM pairs p
       |  JOIN embeddings eq ON eq.vec_id = p.q_id
       |  JOIN embeddings ex ON ex.vec_id = p.x_id),
       |ranked AS (
       |  SELECT q_id, x_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, x_id ASC) AS rank
       |  FROM scored)""".stripMargin

  /** The LABELED x side shared by the label-prop and eval oracles. */
  private val knnLabeledXSql =
    s"""SELECT x_id, key FROM read_parquet('__AUX__/knn_x_keys.parquet')
       |      WHERE x_id >= ${Queries.knnQueryMaxId}""".stripMargin

  /** Replay of the multiprobe batch-kNN pipeline over dumped per-row
    * LSH keys. Shared by the ad-hoc and indexed variants (which must
    * produce identical shapes from their own key dumps — the indexed
    * x side IS the persisted bucket table).
    */
  private def knnJoinSql(qAux: String, xSql: String): String =
    s"""${knnRankedCte(qAux, xSql)}
       |SELECT q_id, x_id, round(cos, 4) AS cos, rank
       |FROM ranked WHERE rank <= ${Queries.knnJoinK}
       |ORDER BY q_id, rank""".stripMargin

  /** Replay of the QUANTIZED multiprobe batch-kNN pipeline: the same
    * key-join candidates as [[knnJoinSql]], ranked by the bit-exact
    * integer cosine over the dumped corpus codes to the pool, then
    * the exact rescore of pool pairs only. Shared by the ad-hoc and
    * persisted-index variants — the indexed x side is the bucket
    * table, whose persisted q8 codes are bit-identical to
    * quant_aux_codes (same Quantize.quantize of the same vectors).
    */
  private def quantKnnJoinSql(qAux: String, xSql: String): String =
    s"""WITH q AS (SELECT q_id, key FROM read_parquet('__AUX__/$qAux')),
       |x AS ($xSql),
       |pairs AS (
       |  SELECT q.q_id, x.x_id FROM q JOIN x USING (key)
       |  WHERE q.q_id <> x.x_id),
       |cq AS (SELECT vec_id, q8 FROM read_parquet('__AUX__/quant_aux_codes.parquet')),
       |qint AS (
       |  SELECT p.q_id, p.x_id,
       |    list_sum(list_transform(range(1, len(a.q8) + 1),
       |      i -> CAST(a.q8[i] AS BIGINT) * CAST(b.q8[i] AS BIGINT))) AS dot,
       |    list_sum(list_transform(a.q8,
       |      v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS na,
       |    list_sum(list_transform(b.q8,
       |      v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nb
       |  FROM pairs p
       |  JOIN cq a ON a.vec_id = p.q_id
       |  JOIN cq b ON b.vec_id = p.x_id),
       |qcos AS (
       |  SELECT q_id, x_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS qc
       |  FROM qint WHERE na > 0 AND nb > 0),
       |pool AS (
       |  SELECT q_id, x_id FROM (
       |    SELECT q_id, x_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY qc DESC, x_id ASC) AS r
       |    FROM qcos) WHERE r <= ${Queries.quantKnnPool}),
       |rescored AS (
       |  SELECT p.q_id, p.x_id,
       |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
       |      CAST(ex.embedding AS DOUBLE[])) AS cos
       |  FROM pool p
       |  JOIN embeddings eq ON eq.vec_id = p.q_id
       |  JOIN embeddings ex ON ex.vec_id = p.x_id),
       |ranked AS (
       |  SELECT q_id, x_id, cos, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, x_id ASC) AS rank
       |  FROM rescored WHERE cos IS NOT NULL)
       |SELECT q_id, x_id, round(cos, 4) AS cos, rank
       |FROM ranked WHERE rank <= ${Queries.knnJoinK}
       |ORDER BY q_id, rank""".stripMargin

  /** Replay of a probe-pruned ANN top-k: exact cosine top-k over only
    * the rows whose index bucket/cell is in the dumped probe list,
    * top-k set chosen at full precision, presentation order on the
    * rounded score (mirrors Queries.annLshTopK/annIvfTopK).
    */
  private def annProbeSql(assignAux: String, assignCol: String,
      probeAux: String, probeCol: String): String =
    s"""WITH probes AS (
       |  SELECT unnest($probeCol) AS k FROM read_parquet('__AUX__/$probeAux')),
       |cand AS (
       |  SELECT vec_id FROM read_parquet('__AUX__/$assignAux')
       |  WHERE $assignCol IN (SELECT k FROM probes)),
       |scored AS (
       |  SELECT e.vec_id, ${cosSql("e")} AS cos
       |  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id),
       |top AS (
       |  SELECT vec_id, cos FROM scored
       |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK})
       |SELECT vec_id AS id, round(cos, 4) AS cos FROM top
       |ORDER BY round(cos, 4) DESC, vec_id ASC""".stripMargin

  /** Two-stage quantized top-k replay: integer-cosine ranking over
    * the int8 codes produced by `candCodesSql` (bit-exact — integer
    * sums have no summation-order hazards, and per-vector scales
    * cancel in cosine), window cut at full integer precision, then
    * the usual exact-cosine rescore. `candCodesSql` selects
    * (vec_id, q8) — the full dumped corpus for the brute-force form,
    * cell-restricted for the IVF form.
    */
  private def quantTopKSql(candCodesSql: String): String =
    s"""WITH qq AS (
       |  SELECT qcodes FROM read_parquet('__AUX__/quant_aux_query.parquet')),
       |c AS (
       |  $candCodesSql),
       |scored AS (
       |  SELECT c.vec_id,
       |    list_sum(list_transform(range(1, len(c.q8) + 1),
       |      i -> CAST(c.q8[i] AS BIGINT) * CAST(q.qcodes[i] AS BIGINT))) AS dot,
       |    list_sum(list_transform(c.q8,
       |      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS na,
       |    list_sum(list_transform(q.qcodes,
       |      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS nb
       |  FROM c CROSS JOIN qq q),
       |qcos AS (
       |  SELECT vec_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS qc
       |  FROM scored WHERE na > 0 AND nb > 0),
       |cand AS (
       |  SELECT vec_id FROM qcos
       |  ORDER BY qc DESC, vec_id ASC LIMIT ${Queries.quantRescoreWindow}),
       |rescored AS (
       |  SELECT e.vec_id, ${cosSql("e")} AS cos
       |  FROM embeddings e JOIN cand USING (vec_id)),
       |top AS (
       |  SELECT vec_id, cos FROM rescored WHERE cos IS NOT NULL
       |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK})
       |SELECT vec_id AS id, round(cos, 4) AS cos FROM top
       |ORDER BY round(cos, 4) DESC, vec_id ASC""".stripMargin

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The question_answer template split at its placeholders:
    * (sys, pre-context, between, post-query) — interpolated as SQL
    * literals so the replay concatenates the SAME segments the engine
    * substitutes (single-pass semantics: substituted values are never
    * re-scanned, matching PromptTemplates.renderTemplate).
    */
  private lazy val ragPromptParts: (String, String, String, String) = {
    val (sys, user) = graft.rag.PromptTemplates.resolve("question_answer").get
    val Array(pre, rest) =
      user.split(java.util.regex.Pattern.quote("{{context_str}}"), 2)
    val Array(mid, post) =
      rest.split(java.util.regex.Pattern.quote("{{query_str}}"), 2)
    (sys, pre, mid, post)
  }

  /** vz_rag's retrieval + context CTEs (windowSize = numContext*5,
    * the same retrieval as vz_rag_retrieve), shared by the
    * vz_rag_prompt and vz_rag oracles so the three entries replay ONE
    * retrieval definition.
    */
  private lazy val ragRenderCtes: String =
    s"""WITH qv AS (
       |  SELECT CAST(rag_qvec AS DOUBLE[]) AS v
       |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
       |scored AS (
       |  SELECT pkey,
       |    list_cosine_similarity(CAST(embeddings AS DOUBLE[]), (SELECT v FROM qv)) AS sim
       |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet')),
       |top AS (
       |  SELECT pkey, sim FROM scored WHERE sim IS NOT NULL
       |  ORDER BY 1.0 - sim ASC, pkey ASC LIMIT ${Queries.ragNumContext * 5}),
       |hits AS (
       |  SELECT d.text, t.sim, t.pkey
       |  FROM documents d JOIN top t ON CAST(d.doc_id AS VARCHAR) = t.pkey
       |  ORDER BY t.sim DESC, t.pkey ASC LIMIT ${Queries.ragNumContext}),
       |ctx AS (
       |  -- coalesce: string_agg is NULL over an empty/all-NULL hits
       |  -- set, while the engine renders an empty context string and
       |  -- md5s a real prompt — keep the replay total on degenerate
       |  -- corpora
       |  SELECT coalesce(
       |    string_agg(text, chr(10) ORDER BY sim DESC, pkey ASC), '') AS c
       |  FROM hits)""".stripMargin

  /** The rendered user prompt as a SQL expression over `ctx(c)`. */
  private lazy val ragUserPromptExpr: String = {
    val (_, pre, mid, post) = ragPromptParts
    s"${sqlQuote(pre)} || c || ${sqlQuote(mid)} || " +
      s"${sqlQuote(Queries.ragQueryText)} || ${sqlQuote(post)}"
  }

  /** Shared by dedup_minhash_lsh and its _stored twin — both must
    * return the identical pair list over the same signature dump.
    */
  /** The MinHash banded pair list as a CTE chain ending in `j`
    * (id_a, id_b, jaccard) — shared by the pair-sweep oracles and the
    * near-dup source matrix, ONE definition of the band slicing and
    * jaccard verify. */
  private lazy val minHashPairsCtes: String = {
    val rows = Queries.minHashNumHashes / Queries.minHashBands
    s"""WITH s AS (
       |  SELECT doc_id, shingles, sig
       |  FROM read_parquet('__AUX__/minhash_aux.parquet')
       |  WHERE len(shingles) > 0),
       |bands AS (SELECT range AS band FROM range(0, ${Queries.minHashBands})),
       |keyed AS (
       |  SELECT doc_id, band,
       |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
       |  FROM s CROSS JOIN bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
       |  FROM cand c
       |  JOIN s sa ON sa.doc_id = c.id_a
       |  JOIN s sb ON sb.doc_id = c.id_b)""".stripMargin
  }
  /** The pair-ACCEPTANCE rule (threshold + 4dp rounding) as a CTE
    * over `j` — one definition shared by the pair-sweep replays and
    * the near-dup source matrix, so the comparison and rounding can
    * never drift between them. */
  private lazy val minHashPairsAcceptedCte: String =
    s"""p AS (
       |  SELECT id_a, id_b, round(jaccard, 4) AS jaccard
       |  FROM j WHERE jaccard >= ${Queries.minHashThreshold})""".stripMargin
  private lazy val minHashPairsReplaySql: String =
    s"""$minHashPairsCtes,
       |$minHashPairsAcceptedCte
       |SELECT id_a, id_b, jaccard FROM p
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared by dedup_boilerplate and its _stored twin — on the same
    * corpus the store-backed probe must return the storeless answer
    * verbatim (the df table holds the same distinct-doc counts this
    * replay's HAVING computes).
    */
  private lazy val boilerplateReplaySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |idx AS (
       |  SELECT doc_id, toks,
       |    unnest(range(CAST(ceil(len(toks) / ${Queries.spanDedupTokens}.0) AS BIGINT))) AS span_idx
       |  FROM toks),
       |spans AS (
       |  SELECT doc_id, span_idx,
       |    array_to_string(list_slice(toks,
       |      span_idx * ${Queries.spanDedupTokens} + 1,
       |      span_idx * ${Queries.spanDedupTokens} + ${Queries.spanDedupTokens}), ' ') AS span
       |  FROM idx),
       |boil AS (
       |  SELECT span FROM spans GROUP BY span
       |  HAVING count(DISTINCT doc_id) >= ${Queries.boilerplateMinDocs}),
       |agg AS (
       |  SELECT s.doc_id,
       |    string_agg(CASE WHEN b.span IS NULL THEN s.span END, ' ' ORDER BY s.span_idx) AS clean_text,
       |    count(CASE WHEN b.span IS NULL THEN 1 END) AS n_kept,
       |    count(CASE WHEN b.span IS NOT NULL THEN 1 END) AS n_removed
       |  FROM spans s LEFT JOIN boil b USING (span)
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |  coalesce(a.n_kept, 0) AS n_kept, coalesce(a.n_removed, 0) AS n_removed
       |FROM documents d LEFT JOIN agg a ON d.doc_id IS NOT DISTINCT FROM a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  // ^ null-safe rebuild join (ADVICE r17): the engine's boilerplate
  // rebuild is null-safe (<=>), so a null-id doc round-trips with its
  // own cleaned text — a plain USING join would report ('', 0, 0) for
  // it and the replay would diverge on any fixture with a null-id doc.
  // The frequency vote itself already agrees (count(DISTINCT doc_id)
  // skips NULLs, matching the engine's count(col)).

  /** Shared by dedup_incremental and its _stored twin — both must
    * return the identical answer (the store's norm_hash column is the
    * same md5 the storeless form computes).
    */
  private lazy val incrementalExactReplaySql: String =
    s"""WITH b AS (
       |  SELECT doc_id AS id,
       |    md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS h
       |  FROM documents WHERE doc_id >= ${Queries.incrementalSplit}),
       |e AS (
       |  SELECT DISTINCT
       |    md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS h
       |  FROM documents WHERE doc_id < ${Queries.incrementalSplit}),
       |first AS (
       |  SELECT id, h,
       |    row_number() OVER (PARTITION BY h ORDER BY id) AS rn
       |  FROM b)
       |SELECT id AS doc_id FROM first
       |WHERE rn = 1 AND h NOT IN (SELECT h FROM e)
       |ORDER BY doc_id""".stripMargin

  /** Shared by dedup_incremental_neardup and its _stored twin — both
    * must return the identical answer over the same signature dump.
    */
  private lazy val incrementalNearDupReplaySql: String = {
    val rows = Queries.minHashNumHashes / Queries.minHashBands
    s"""WITH s AS (
       |  SELECT doc_id, shingles, sig
       |  FROM read_parquet('__AUX__/minhash_aux.parquet')
       |  WHERE len(shingles) > 0),
       |bands AS (SELECT range AS band FROM range(0, ${Queries.minHashBands})),
       |keyed AS (
       |  SELECT doc_id, band,
       |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
       |  FROM s CROSS JOIN bands),
       |bk AS (SELECT * FROM keyed WHERE doc_id >= ${Queries.incrementalSplit}),
       |ek AS (SELECT * FROM keyed WHERE doc_id < ${Queries.incrementalSplit}),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS id, e.doc_id AS other_id
       |  FROM bk b JOIN ek e ON b.band = e.band AND b.bkey = e.bkey
       |  UNION
       |  SELECT DISTINCT b.doc_id, o.doc_id
       |  FROM bk b JOIN bk o
       |    ON b.band = o.band AND b.bkey = o.bkey AND o.doc_id < b.doc_id),
       |dropped AS (
       |  SELECT DISTINCT c.id FROM cand c
       |  JOIN s sa ON sa.doc_id = c.id
       |  JOIN s sb ON sb.doc_id = c.other_id
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |    / len(list_distinct(sa.shingles || sb.shingles))
       |    >= ${Queries.minHashThreshold})
       |SELECT doc_id FROM documents
       |WHERE doc_id >= ${Queries.incrementalSplit}
       |  AND doc_id NOT IN (SELECT id FROM dropped)
       |ORDER BY doc_id""".stripMargin
  }

  private val base: Map[String, String] = Map(

    "s1_delta_scan_join" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id <= 400)
        |ORDER BY doc_id""".stripMargin,

    "s2_delta_scan_append" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type
        |FROM events WHERE ts > TIMESTAMP '2024-01-03 00:00:00'
        |ORDER BY event_id""".stripMargin,

    "s3_fetch_by_ids" -> {
      val ids = (0 until 40).map(_ * 13).mkString(", ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE doc_id IN ($ids) ORDER BY doc_id""".stripMargin
    },

    "s5_upsert_merge" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE vec_id <= 400 AND vec_id NOT BETWEEN 350 AND 450
        |UNION ALL
        |SELECT vec_id, label + 100 AS label FROM embeddings
        |WHERE vec_id BETWEEN 350 AND 450
        |ORDER BY vec_id""".stripMargin,

    "s8_import_anti_join" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE vec_id % 2 <> 0 ORDER BY vec_id""".stripMargin,

    "p1_concat_variants" ->
      """SELECT p_partkey,
        |  coalesce(p_brand,'') || ' ' || coalesce(p_type,'') AS concat_space,
        |  coalesce(p_brand,'') || ', ' || coalesce(p_type,'') AS concat_csv,
        |  'p_brand: ' || coalesce(p_brand,'') || ' ' ||
        |  'p_type: ' || coalesce(p_type,'') || ' ' AS concat_labeled
        |FROM part ORDER BY p_partkey""".stripMargin,

    "p4_typed_filters" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice >= 50000.0 AND o_custkey < 100
        |ORDER BY o_orderkey""".stripMargin,

    "p5_where_sql" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "j1_topk_join" ->
      s"""WITH hits AS (
         |  SELECT vec_id, ${cosSql("embeddings")} AS cos
         |  FROM embeddings
         |  ORDER BY cos DESC, vec_id ASC LIMIT 50)
         |SELECT d.doc_id, d.lang, round(h.cos, 4) AS cos
         |FROM documents d JOIN hits h ON d.doc_id = h.vec_id
         |ORDER BY cos DESC, d.doc_id ASC""".stripMargin,

    "j2_hybrid_rrf" ->
      s"""WITH sem_top AS (
         |  SELECT vec_id AS pkey, ${cosSql("embeddings")} AS cos
         |  FROM embeddings ORDER BY cos DESC, pkey ASC LIMIT 50),
         |sem AS (
         |  SELECT pkey, row_number() OVER (ORDER BY cos DESC, pkey ASC) AS semantic_rank
         |  FROM sem_top),
         |toks AS (
         |  SELECT doc_id AS pkey, $toksSql AS toks FROM documents),
         |fts_top AS (
         |  SELECT pkey,
         |    len(list_intersect(list_distinct(toks), ['merge','join','stream'])) AS overlap,
         |    CAST(len(list_filter(toks, x -> x = 'merge' OR x = 'join' OR x = 'stream')) AS DOUBLE)
         |      / len(toks) AS tf
         |  FROM toks
         |  WHERE len(list_intersect(list_distinct(toks), ['merge','join','stream'])) > 0
         |  ORDER BY tf DESC, pkey ASC LIMIT 50),
         |fts AS (
         |  SELECT pkey, row_number() OVER (ORDER BY tf DESC, pkey ASC) AS fts_rank
         |  FROM fts_top)
         |SELECT coalesce(sem.pkey, fts.pkey) AS pkey,
         |  sem.semantic_rank, fts.fts_rank,
         |  round(coalesce(1.0 / (60.0 + sem.semantic_rank), 0.0) +
         |        coalesce(1.0 / (60.0 + fts.fts_rank), 0.0), 6) AS rrf_score
         |FROM sem FULL OUTER JOIN fts ON sem.pkey = fts.pkey
         |ORDER BY rrf_score DESC, pkey ASC LIMIT 10""".stripMargin,

    "j3_left_anti" ->
      """WITH e AS (SELECT vec_id FROM embeddings WHERE label < 5)
        |SELECT d.doc_id, d.source FROM documents d
        |LEFT JOIN e ON d.doc_id = e.vec_id
        |WHERE e.vec_id IS NULL ORDER BY d.doc_id""".stripMargin,

    "j6_inner_join_view" ->
      """SELECT d.doc_id, d.lang, e.label, len(e.embedding) AS dim
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin,

    "a1_collect_ids" ->
      """SELECT label,
        |  string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS ids,
        |  count(*) AS n
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "a2_agg_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "w1_semantic_rank" ->
      s"""WITH top AS (
         |  SELECT vec_id, 1.0 - ${cosSql("embeddings")} AS distance
         |  FROM embeddings ORDER BY distance ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, round(distance, 4) AS distance,
         |  row_number() OVER (ORDER BY distance ASC, vec_id ASC) AS semantic_rank
         |FROM top ORDER BY semantic_rank""".stripMargin,

    "w2_partitioned_rank" ->
      """WITH ranked AS (
        |  SELECT l_suppkey,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rk,
        |    l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |  FROM lineitem)
        |SELECT l_suppkey, rk, l_orderkey, l_linenumber, price
        |FROM ranked WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin,

    "t2_topk" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin,

    "f1_cosine_topk" ->
      s"""WITH scored AS (
         |  SELECT vec_id, ${cosSql("embeddings")} AS cos FROM embeddings)
         |SELECT vec_id, round(cos, 4) AS cos FROM scored
         |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin,

    "f5_ts_match" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_distinct($toksSql) AS toks FROM documents)
         |SELECT doc_id, len(list_intersect(toks, ['vector','window'])) AS n_match
         |FROM toks
         |WHERE len(list_intersect(toks, ['vector','window'])) > 0
         |ORDER BY doc_id""".stripMargin,

    "f9_token_estimate" ->
      """WITH te AS (
        |  SELECT lang,
        |    CASE WHEN text IS NULL OR text = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents)
        |SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_docs
        |FROM te GROUP BY lang ORDER BY lang""".stripMargin,

    // same GPT-style pre-tokenizer regex as GraftFunctions.tokenCountBpe
    // (the '' is a SQL-escaped apostrophe opening the contraction arm)
    "f9_token_bpe" ->
      s"""SELECT doc_id,
         |  $wsCountSql AS ws_tokens,
         |  $bpeCountSql AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // per-language fertility: the SAME two counters aggregated, one
    // exact-integer division per language row; greatest(…, 1) mirrors
    // the engine's empty-stratum floor
    "token_fertility" ->
      s"""WITH p AS (
         |  SELECT lang, $wsCountSql AS ws, $bpeCountSql AS bpe
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
         |  round(CAST(SUM(bpe) AS DOUBLE)
         |    / CAST(greatest(CAST(SUM(ws) AS BIGINT), 1) AS DOUBLE), 6) AS fertility
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    // corpus-trained BPE: the per-word merge walk is JVM math
    // (BpeSpec-covered) dumped as word → n_tokens; the oracle checks
    // the RELATIONAL layer — per-doc recomposition over the dumped
    // occurrence table, with empty docs coalescing to 0 exactly like
    // the engine's tokenCount of an empty pre-token stream.
    "f9_token_bpe_trained" ->
      """WITH dw AS (
        |  SELECT doc_id, word, occ
        |  FROM read_parquet('__AUX__/bpe_aux_doc_words.parquet')),
        |wt AS (
        |  SELECT word, n_tokens
        |  FROM read_parquet('__AUX__/bpe_aux_word_tokens.parquet')),
        |sums AS (
        |  SELECT dw.doc_id, sum(dw.occ * wt.n_tokens) AS n
        |  FROM dw JOIN wt USING (word) GROUP BY dw.doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n, 0) AS INT) AS bpe_tokens
        |FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // within-doc repetition: identical list algebra over the shared
    // tokenizer — DuckDB range(1, len-1) is the half-open twin of
    // Spark's inclusive sequence(1, len-2); 1-based inclusive slice
    // toks[i:i+2] = Spark slice(toks, i, 3).
    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3
         |      THEN list_transform(range(1, len(toks) - 1),
         |             i -> array_to_string(toks[i:i+2], ' '))
         |      ELSE CAST([] AS VARCHAR[]) END AS grams
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(grams) = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
         |                        / len(grams), 4) END AS rep3
         |FROM g ORDER BY doc_id""".stripMargin,

    "f10_trim_inputs" ->
      """WITH arr AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(toks) > 20 THEN array_to_string(list_slice(toks, 1, 20), ' ')
        |       ELSE text END AS trimmed,
        |  CASE WHEN text IS NULL OR text = '' THEN 0
        |       WHEN len(toks) > 20 THEN 20 ELSE len(toks) END AS n_tokens
        |FROM arr ORDER BY doc_id""".stripMargin,

    "r_windowed_counts" ->
      """SELECT CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS hour,
        |  event_type, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "r_sessionize" ->
      s"""WITH $sessionsCte
         |SELECT user_id, sess_id, COUNT(*) AS n_events,
         |  MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
         |  round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
         |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    "dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS nh
        |  FROM documents)
        |SELECT doc_id,
        |  MIN(doc_id) OVER (PARTITION BY nh) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY nh) AS group_size
        |FROM h ORDER BY doc_id""".stripMargin,

    // cross-source duplicate-flow matrix: pairs counted ARITHMETICALLY
    // from per-(hash, source) counts — n·(n−1)//2 within a source,
    // n_a·n_b across — the same no-pair-explosion shape as the engine.
    // // is DuckDB's integral divide (/ is a double divide, as in
    // Spark); SUM of BIGINT is HUGEINT, hence the outer CAST.
    "dedup_source_matrix" ->
      """WITH h AS (
        |  SELECT source,
        |    md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g')) AS nh
        |  FROM documents),
        |c AS (SELECT nh, source, COUNT(*) AS n FROM h GROUP BY 1, 2),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    CASE WHEN a.source = b.source THEN (a.n * (a.n - 1)) // 2
        |         ELSE a.n * b.n END AS pairs
        |  FROM c a JOIN c b ON a.nh = b.nh AND a.source <= b.source)
        |SELECT source_a, source_b,
        |  CAST(SUM(pairs) AS BIGINT) AS n_dup_pairs,
        |  COUNT(*) AS n_groups
        |FROM p WHERE pairs > 0
        |GROUP BY source_a, source_b
        |ORDER BY source_a, source_b""".stripMargin,

    // near-dup provenance matrix: the shared banded pair CTEs + two
    // pkey joins for sources; max of 4dp-rounded jaccards (a float
    // AVG would be aggregation-order-dependent)
    "dedup_source_matrix_neardup" ->
      s"""$minHashPairsCtes,
         |$minHashPairsAcceptedCte,
         |ps AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b, p.jaccard
         |  FROM p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b)
         |SELECT source_a, source_b, COUNT(*) AS n_dup_pairs,
         |  max(jaccard) AS max_jaccard
         |FROM ps GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,

    // incremental snapshot-delta dedup: keep-first within the batch,
    // anti-joined against the existing corpus's hash set (the bloom
    // on the Spark side only prunes — the exact anti-join decides, so
    // the bloom-free replay is the same answer). coalesce keeps the
    // hash domain NULL-free (a NULL in the NOT-IN subquery would zero
    // the whole result under three-valued logic). The _stored twin
    // (corpus hashes from the persisted signature store) MUST return
    // the identical answer, so it shares this replay verbatim.
    "dedup_incremental" -> incrementalExactReplaySql,
    "dedup_incremental_stored" -> incrementalExactReplaySql,

    // within-doc span dedup: the same list algebra per row — indexed
    // list_filter keeps a span iff list_position (1-based first
    // occurrence) equals its own index; list_slice's inclusive end
    // index mirrors Spark slice's length.
    "dedup_within_doc" ->
      s"""WITH arr AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(
         |      range(0, CAST(ceil(len(toks) / 3.0) AS INT)),
         |      i -> array_to_string(list_slice(toks, i*3 + 1, i*3 + 3), ' '))
         |    END AS spans
         |  FROM arr),
         |k AS (
         |  SELECT doc_id, spans,
         |    list_filter(spans, (s, i) -> list_position(spans, s) = i) AS kept
         |  FROM sp)
         |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(len(spans) - len(kept) AS BIGINT) AS n_removed
         |FROM k ORDER BY doc_id""".stripMargin,

    // C4-style span dedup replay: same non-overlapping 3-token spans
    // (list_slice end-index = start+len-1 mirrors Spark slice's
    // length), keep-first by (doc_id, span_idx) via row_number — the
    // same total order as the engine's min-struct window — and
    // ordered string_agg reassembly. unnest(range(n)) drops
    // token-less docs, but the final join back to documents restores
    // them with the engine's empty-text/zero-count row.
    "dedup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range(CAST(ceil(len(toks) / ${Queries.spanDedupTokens}.0) AS BIGINT))) AS span_idx
         |  FROM toks),
         |spans AS (
         |  SELECT doc_id, span_idx,
         |    array_to_string(list_slice(toks,
         |      span_idx * ${Queries.spanDedupTokens} + 1,
         |      span_idx * ${Queries.spanDedupTokens} + ${Queries.spanDedupTokens}), ' ') AS span
         |  FROM idx),
         |kept AS (
         |  SELECT doc_id, span_idx, span,
         |    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS keep
         |  FROM spans),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(CASE WHEN keep THEN span END, ' ' ORDER BY span_idx) AS clean_text,
         |    count(CASE WHEN keep THEN 1 END) AS n_kept,
         |    count(CASE WHEN NOT keep THEN 1 END) AS n_removed
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  coalesce(a.n_kept, 0) AS n_kept, coalesce(a.n_removed, 0) AS n_removed
         |FROM documents d LEFT JOIN agg a ON d.doc_id IS NOT DISTINCT FROM a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // ^ null-safe rebuild join (ADVICE r17), matching the engine's <=>
    // round-trip. Remaining null-id caveat, documented not mirrored:
    // the keep-first window orders by doc_id, and Spark sorts nulls
    // FIRST where DuckDB sorts them LAST — a null-id doc SHARING a
    // span with a real doc would win keep-first in one engine and
    // lose it in the other. At most one null-id row is permitted by
    // the operator's contract and the fixtures carry none; that tie
    // order is outside the verified contract.

    // RefinedWeb-style boilerplate removal: same span CTEs as
    // dedup_spans, but the drop rule is distinct-doc FREQUENCY (a
    // span in >= minDocs docs is removed EVERYWHERE, first occurrence
    // included) instead of keep-first. The engine groups on md5(span)
    // where this replay groups on the span text — the same
    // hash-vs-text equivalence every dedup oracle here relies on.
    // The _stored twin (df from the persisted span-df store) MUST
    // return the identical answer on the same corpus, so it shares
    // this replay verbatim — the incrementalExactReplaySql convention.
    "dedup_boilerplate" -> boilerplateReplaySql,
    "dedup_boilerplate_stored" -> boilerplateReplaySql,

    // Span document-frequency heavy hitters: the same span CTEs, df
    // counted doc-distinct, the full (n_docs, n_occurrences, span)
    // total order pinning the top-N cut.
    "boilerplate_top_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range(CAST(ceil(len(toks) / ${Queries.spanDedupTokens}.0) AS BIGINT))) AS span_idx
         |  FROM toks),
         |spans AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(toks,
         |      span_idx * ${Queries.spanDedupTokens} + 1,
         |      span_idx * ${Queries.spanDedupTokens} + ${Queries.spanDedupTokens}), ' ') AS span
         |  FROM idx),
         |df AS (
         |  SELECT span, count(DISTINCT doc_id) AS n_docs,
         |    count(*) AS n_occurrences
         |  FROM spans GROUP BY span)
         |SELECT span, n_docs, n_occurrences FROM df
         |ORDER BY n_docs DESC, n_occurrences DESC, span
         |LIMIT ${Queries.boilerplateTopN}""".stripMargin,

    // Rare-gram inverted-index blocking (mirrors
    // Dedup.rareGramJaccardPairs): candidates share ≥1 bigram with
    // document frequency in [2, 20]; exact Jaccard verified on the
    // full bigram sets.
    "dedup_ngram_jaccard" ->
      s"""$bigramsCte,
         |gsets AS (
         |  SELECT doc_id, COUNT(*) AS n FROM bigrams GROUP BY 1),
         |rare AS (
         |  SELECT g FROM bigrams GROUP BY g HAVING COUNT(*) BETWEEN 2 AND ${Queries.ngramMaxDf}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bigrams x
         |  JOIN rare r ON x.g = r.g
         |  JOIN bigrams y ON y.g = x.g AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS ni
         |  FROM cand c
         |  JOIN bigrams x ON x.doc_id = c.id_a
         |  JOIN bigrams y ON y.doc_id = c.id_b AND y.g = x.g
         |  GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         |  round(CAST(i.ni AS DOUBLE) / (ga.n + gb.n - i.ni), 4) AS jaccard
         |FROM inter i
         |JOIN gsets ga ON ga.doc_id = i.id_a
         |JOIN gsets gb ON gb.doc_id = i.id_b
         |WHERE CAST(i.ni AS DOUBLE) / (ga.n + gb.n - i.ni) >= ${Queries.ngramThreshold}
         |ORDER BY id_a, id_b""".stripMargin,

    // Containment pairs: the same rare-gram candidate CTEs, scored by
    // ni / min(na, nb) — Broder's containment coefficient.
    "dedup_containment" ->
      s"""$bigramsCte,
         |gsets AS (
         |  SELECT doc_id, COUNT(*) AS n FROM bigrams GROUP BY 1),
         |rare AS (
         |  SELECT g FROM bigrams GROUP BY g HAVING COUNT(*) BETWEEN 2 AND ${Queries.ngramMaxDf}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bigrams x
         |  JOIN rare r ON x.g = r.g
         |  JOIN bigrams y ON y.g = x.g AND x.doc_id < y.doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, COUNT(*) AS ni
         |  FROM cand c
         |  JOIN bigrams x ON x.doc_id = c.id_a
         |  JOIN bigrams y ON y.doc_id = c.id_b AND y.g = x.g
         |  GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         |  round(CAST(i.ni AS DOUBLE) / least(ga.n, gb.n), 4) AS containment
         |FROM inter i
         |JOIN gsets ga ON ga.doc_id = i.id_a
         |JOIN gsets gb ON gb.doc_id = i.id_b
         |WHERE CAST(i.ni AS DOUBLE) / least(ga.n, gb.n) >= ${Queries.containmentThreshold}
         |ORDER BY id_a, id_b""".stripMargin,

    // Sign-LSH banded blocking (mirrors Dedup.embeddingLshBandedPairs,
    // 4 bands × 8 bits): the plane literals below are the EXACT same
    // deterministic hyperplanes (Ann.hyperplanes seed=42) the Spark
    // side uses, so both engines compute identical band keys.
    "dedup_embedding_cos" -> embeddingLshSql(
      dim = 64, bits = 8, bands = 4, seed = 42L, threshold = 0.30),

    // Semantic decontamination: the same literal-plane banding scheme
    // as dedup_embedding_cos at the gate's recall-first 4-bit × 8-band
    // setting, restricted to corpus×held-out candidate pairs,
    // aggregated per corpus id.
    "decontam_semantic" -> embeddingDecontamSql(
      dim = 64, bits = Queries.decontamSemBits,
      bands = Queries.decontamSemBands, seed = 42L,
      threshold = Queries.decontamSemThreshold, mod = Queries.decontamMod),

    // SemDeDup prune replayed over the dumped k-means assignment
    // (cell + distance-to-centroid from the session-cached centroids
    // the Spark entry uses): rank by keep priority within each cell
    // (dist DESC, id ASC), then NOT EXISTS a higher-priority
    // ≥-threshold cosine neighbor — the declarative twin of
    // Dedup.semanticKeep's anti-join.
    "dedup_semantic" ->
      s"""WITH a AS (
         |  SELECT id, cell, CAST(vec AS DOUBLE[]) AS e,
         |    row_number() OVER (PARTITION BY cell ORDER BY dist DESC, id ASC) AS rnk
         |  FROM read_parquet('__AUX__/semdedup_aux_assigned.parquet'))
         |SELECT x.id AS vec_id, x.cell FROM a x
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM a y
         |  WHERE y.cell = x.cell AND y.rnk < x.rnk
         |    AND list_cosine_similarity(x.e, y.e) >= ${Queries.semDedupThreshold})
         |ORDER BY vec_id""".stripMargin,

    // SimHash banded pipeline vs the SQL brute force over the dumped
    // per-doc signatures: bands = maxHamming+1 gives FULL recall by
    // pigeonhole (Dedup.simHashPairs), so banded output == every pair
    // with bit_count(xor) <= maxHamming — which IS SQL-expressible.
    "dedup_simhash" ->
      s"""WITH s AS (
         |  SELECT doc_id, sig FROM read_parquet('__AUX__/simhash_aux.parquet'))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sig, b.sig)) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= ${Queries.simHashMaxHamming}
         |ORDER BY id_a, id_b""".stripMargin,

    // MinHash+LSH banding replayed in SQL over the dumped signatures:
    // band key = raw 4-hash signature slice (Spark buckets on
    // hash(band, slice); equal slices ⇒ equal hashes, and a murmur
    // collision would additionally need to survive the exact-Jaccard
    // verify to diverge), candidates verified by exact shingle
    // Jaccard from the dumped shingle sets.
    // Near-dup decontamination over the SAME signature dump: corpus
    // docs (id < split) banding-colliding with a held-out-slice doc
    // (id >= split) and verifying at the exact Jaccard threshold;
    // per-doc hit count + max jaccard (rounded AFTER the max, as the
    // Spark side does).
    "decontam_neardup" -> {
      val rows = Queries.minHashNumHashes / Queries.minHashBands
      s"""WITH s AS (
         |  SELECT doc_id, shingles, sig
         |  FROM read_parquet('__AUX__/minhash_aux.parquet')
         |  WHERE len(shingles) > 0),
         |bands AS (SELECT range AS band FROM range(0, ${Queries.minHashBands})),
         |keyed AS (
         |  SELECT doc_id, band,
         |    list_slice(sig, band * $rows + 1, band * $rows + $rows) AS bkey
         |  FROM s CROSS JOIN bands),
         |ck AS (SELECT * FROM keyed WHERE doc_id < ${Queries.decontamNearDupSplit}),
         |bk AS (SELECT * FROM keyed WHERE doc_id >= ${Queries.decontamNearDupSplit}),
         |cand AS (
         |  SELECT DISTINCT c.doc_id AS id, b.doc_id AS bench_id
         |  FROM ck c JOIN bk b ON c.band = b.band AND c.bkey = b.bkey),
         |j AS (
         |  SELECT cand.id, cand.bench_id,
         |    CAST(len(list_intersect(sc.shingles, sb.shingles)) AS DOUBLE)
         |      / len(list_distinct(sc.shingles || sb.shingles)) AS jac
         |  FROM cand
         |  JOIN s sc ON sc.doc_id = cand.id
         |  JOIN s sb ON sb.doc_id = cand.bench_id)
         |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  round(MAX(jac), 4) AS max_jaccard
         |FROM j WHERE jac >= ${Queries.minHashThreshold}
         |GROUP BY id ORDER BY doc_id""".stripMargin
    },

    "dedup_minhash_lsh" -> minHashPairsReplaySql,
    // the _stored twin generates the identical pair list from the
    // PERSISTED signature store instead of recomputing — shared
    // replay, a divergence reds exactly one of the two rows
    "dedup_minhash_lsh_stored" -> minHashPairsReplaySql,

    // Incremental near-dup over the SAME signature dump: batch rows
    // (>= incrementalSplit) drop iff a band collision with the
    // existing corpus or a smaller-id batch row verifies at the exact
    // Jaccard threshold. Band keys replay as raw signature slices —
    // equality is what the join needs; Spark's hash() of the slice
    // keys the same partitions. The _stored twin MUST return the
    // identical answer (its corpus side reads the persisted signature
    // store instead of recomputing), so it shares this replay
    // verbatim — a divergence between the two forms reds exactly one
    // of the two rows.
    "dedup_incremental_neardup" -> incrementalNearDupReplaySql,
    "dedup_incremental_neardup_stored" -> incrementalNearDupReplaySql,

    // Drift report: identical bucket hashing (substr(md5, 1, 2)),
    // Laplace smoothing, and q·ln(q/p) arithmetic; the generated
    // 00..ff bucket list keeps zero-count buckets present.
    "drift_report" ->
      s"""WITH corpus AS (
         |  SELECT substr(md5(unnest($toksSql)), 1, 2) AS bucket
         |  FROM documents WHERE doc_id < ${Queries.incrementalSplit}),
         |batch AS (
         |  SELECT substr(md5(unnest($toksSql)), 1, 2) AS bucket
         |  FROM documents WHERE doc_id >= ${Queries.incrementalSplit}),
         |cc AS (SELECT bucket, COUNT(*) AS n_corpus FROM corpus GROUP BY 1),
         |bc AS (SELECT bucket, COUNT(*) AS n_batch FROM batch GROUP BY 1),
         |allb AS (
         |  SELECT printf('%02x', CAST(range AS INT)) AS bucket
         |  FROM range(0, ${Queries.driftBuckets})),
         |joined AS (
         |  SELECT a.bucket,
         |    CAST(COALESCE(cc.n_corpus, 0) AS BIGINT) AS n_corpus,
         |    CAST(COALESCE(bc.n_batch, 0) AS BIGINT) AS n_batch
         |  FROM allb a
         |  LEFT JOIN cc ON cc.bucket = a.bucket
         |  LEFT JOIN bc ON bc.bucket = a.bucket),
         |tot AS (SELECT SUM(n_corpus) AS tc, SUM(n_batch) AS tb FROM joined),
         |sm AS (
         |  SELECT j.bucket, j.n_corpus, j.n_batch,
         |    (j.n_batch + 1.0) / (t.tb + ${Queries.driftBuckets}.0) AS q,
         |    (j.n_corpus + 1.0) / (t.tc + ${Queries.driftBuckets}.0) AS p
         |  FROM joined j, tot t)
         |SELECT bucket, n_corpus, n_batch,
         |  round(q, 6) AS q, round(p, 6) AS p,
         |  round(q * ln(q / p), 6) + 0.0 AS kl_contrib
         |FROM sm ORDER BY bucket""".stripMargin,

    // Composed ingestion pipeline: the dedup_incremental CTEs →
    // blocklist gate → the incremental near-dup replay restricted to
    // the gate's survivors → per-language stats of what ingests.
    "pipeline_ingest" ->
      s"""$ingestChainCte
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents d JOIN final f ON f.doc_id = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // The decontam-gated chain: same stages plus the benchmark-slice
    // drop between blocklist and near-dup — the oracled batch twin of
    // the streaming pipeline's full stage order.
    "pipeline_ingest_decontam" ->
      s"""${ingestChain(decontam = true)}
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents d JOIN final f ON f.doc_id = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // Funnel audit: the SAME chain, counted at each stage.
    "ingest_audit" ->
      s"""$ingestChainCte
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '3_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // Five-stage funnel of the decontam-gated chain: the same shared
    // CTEs, with the benchmark drop stage (bl2) counted between the
    // blocklist and the near-dup stage.
    "ingest_audit_decontam" ->
      s"""${ingestChain(decontam = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The FULL decontamination ladder as one ingest chain: the same
    // CTEs + the semantic rung (literal-plane band keys, exact cosine
    // verify) between the shingle rung and near-dup.
    "pipeline_ingest_ladder" ->
      s"""${ingestChain(decontam = true, semantic = true)}
         |SELECT d.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents d JOIN final f ON f.doc_id = d.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // Terminal packing of the cleaned corpus: the ladder chain's
    // `final` survivors fed through the pack_sequences replay (same
    // per-shard cumsum binning, restricted per_doc).
    "pipeline_pack" ->
      s"""${ingestChain(decontam = true, semantic = true)},
         |${packPerDocSql(ladderSurvivorsSrc)},
         |$packBinsSql""".stripMargin,

    // the placement manifest restricted to the ladder's survivors:
    // chain CTEs + the pack_offsets replay over `final`
    "pipeline_pack_offsets" ->
      s"""${ingestChain(decontam = true, semantic = true)},
         |${packPerDocSql(ladderSurvivorsSrc)},
         |$packPlacementSql""".stripMargin,

    // soft quality sampling: the samplers' shared id-hash bucket vs
    // floor(quality*10^4) — quality is the shared 5-signal replay
    "sample_quality_weighted" ->
      s"""WITH q AS (${qualitySql("documents")})
         |SELECT doc_id, quality FROM q
         |WHERE ((doc_id % 100003) * 2654435761) % 10000
         |    < CAST(floor(quality * 10000) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,

    // Six-stage funnel of the ladder chain: both decontamination
    // rungs counted separately.
    "ingest_audit_ladder" ->
      s"""${ingestChain(decontam = true, semantic = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '3s_semantic', COUNT(*) FROM bl3
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // Seven-stage funnel of the FULLY-GATED chain: the ladder plus the
    // per-language percentile gate between blocklist and
    // decontamination — the batch twin of the streaming every-gate-on
    // configuration.
    "ingest_audit_gated" ->
      s"""${ingestChain(decontam = true, semantic = true, percentile = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '2p_percentile', COUNT(*) FROM blp
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '3s_semantic', COUNT(*) FROM bl3
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The ROUTED gated chain (r19): the percentile gate keys on
    // DETECTED language (the shared langDetCtes replay of the trained
    // model), the production composition for corpora that don't
    // arrive labeled; terminal stats group by the detected column.
    "pipeline_ingest_routed" ->
      s"""${ingestChain(decontam = true, percentile = true, routed = true)}
         |SELECT dt.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM documents d JOIN final f ON f.doc_id = d.doc_id
         |JOIN det dt ON dt.doc_id = d.doc_id
         |GROUP BY dt.lang ORDER BY dt.lang""".stripMargin,

    // Funnel audit of the routed chain — the stage counts a routing
    // misfire would move first (2p under a wrong language partition).
    "ingest_audit_routed" ->
      s"""${ingestChain(decontam = true, percentile = true, routed = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '2p_percentile', COUNT(*) FROM blp
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The ROUTED + BOIL chain (r19 — the full production composition):
    // clean first, then DETECT the cleaned text (langDetCleanedCtes),
    // gate on the detected language against the detected-lang corpus
    // cells by range lookup. Terminal stats group by the CLEANED
    // text's detection and count the cleaned tokens.
    "pipeline_ingest_routed_boil" ->
      s"""${ingestChain(decontam = true, percentile = true, boil = true,
             routed = true)}
         |SELECT db.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM (SELECT c.doc_id, c.clean_text AS text
         |      FROM cleaned c JOIN final f ON f.doc_id = c.doc_id) x
         |JOIN detb db ON db.doc_id = x.doc_id
         |GROUP BY db.lang ORDER BY db.lang""".stripMargin,

    // Seven-stage funnel of the routed+boil chain: the all-boilerplate
    // drop (2b) separated from the detected-language gate's (2p).
    "ingest_audit_routed_boil" ->
      s"""${ingestChain(decontam = true, percentile = true, boil = true,
             routed = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '2b_boilerplate', COUNT(*) FROM blb
         |  UNION ALL SELECT '2p_percentile', COUNT(*) FROM blp
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The EVERYTHING-ON chain (r20): routed + boil + the semantic
    // decontamination rung — every flag of the builder at once. The
    // sem rung replays over the STATIC embeddings table (vec_id ≡
    // doc_id, a per-doc property independent of the boil text swap),
    // exactly as the engine reads ladderSemanticFlags.
    "pipeline_ingest_routed_boil_sem" ->
      s"""${ingestChain(decontam = true, semantic = true,
             percentile = true, boil = true, routed = true)}
         |SELECT db.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM (SELECT c.doc_id, c.clean_text AS text
         |      FROM cleaned c JOIN final f ON f.doc_id = c.doc_id) x
         |JOIN detb db ON db.doc_id = x.doc_id
         |GROUP BY db.lang ORDER BY db.lang""".stripMargin,

    // Nine-row funnel of the everything-on chain: every gate's drop
    // counted separately.
    "ingest_audit_routed_boil_sem" ->
      s"""${ingestChain(decontam = true, semantic = true,
             percentile = true, boil = true, routed = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '2b_boilerplate', COUNT(*) FROM blb
         |  UNION ALL SELECT '2p_percentile', COUNT(*) FROM blp
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '3s_semantic', COUNT(*) FROM bl3
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The boilerplate-composed chain (r18): the chain CTEs + the
    // dedup_boilerplate_stored replay between blocklist and the
    // percentile gate; every later stage reads the CLEANED text (the
    // gate scores it by range lookup, decontam/near-dup sign it via
    // the minhash_boil_aux dump). Terminal per-lang stats count the
    // cleaned tokens — what would actually ship.
    "pipeline_ingest_boil" ->
      s"""${ingestChain(decontam = true, percentile = true, boil = true)}
         |SELECT dd.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($toksSql)) AS BIGINT) AS n_tokens
         |FROM (SELECT c.doc_id, c.clean_text AS text
         |      FROM cleaned c JOIN final f ON f.doc_id = c.doc_id) x
         |JOIN (SELECT doc_id, lang FROM documents) dd ON dd.doc_id = x.doc_id
         |GROUP BY dd.lang ORDER BY dd.lang""".stripMargin,

    // Six-stage funnel of the boil chain: the all-boilerplate drop
    // (2b) counted between blocklist and the percentile gate.
    "ingest_audit_boil" ->
      s"""${ingestChain(decontam = true, percentile = true, boil = true)}
         |SELECT * FROM (
         |  SELECT '0_batch' AS stage, COUNT(*) AS n_docs FROM b
         |  UNION ALL SELECT '1_exact_dedup', COUNT(*) FROM kept1
         |  UNION ALL SELECT '2_blocklist', COUNT(*) FROM bl
         |  UNION ALL SELECT '2b_boilerplate', COUNT(*) FROM blb
         |  UNION ALL SELECT '2p_percentile', COUNT(*) FROM blp
         |  UNION ALL SELECT '3_decontam', COUNT(*) FROM bl2
         |  UNION ALL SELECT '4_near_dedup', COUNT(*) FROM final)
         |ORDER BY stage""".stripMargin,

    // The same pair replay as dedup_minhash_lsh, closed transitively
    // with a recursive CTE: reach(id, r) saturates to every node
    // reachable over the symmetric edge set, min(r) is the canonical
    // label — one declarative fixpoint checking BOTH distributed
    // clustering algorithms (min-label propagation and the
    // large-star/small-star variant), which must agree exactly.
    "dedup_clusters" -> dedupClustersSql,
    "dedup_clusters_star" -> dedupClustersSql,

    // same labels CTE as dedup_clusters, joined with the shared
    // 5-signal quality replay; the representative is ORDER BY
    // quality DESC, doc_id — the engine's min(struct(-quality, id))
    // bit-for-bit (negation is IEEE-exact)
    "dedup_cluster_best" ->
      s"""WITH RECURSIVE $neardupLabelCtes,
         |q AS (${qualitySql("documents")}),
         |m AS (
         |  SELECT l.id AS doc_id, l.canonical_id, q.quality
         |  FROM labels l JOIN q ON q.doc_id = l.id),
         |rep AS (
         |  SELECT canonical_id, doc_id AS rep_id, quality AS rep_quality,
         |    row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY quality DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
         |  FROM m)
         |SELECT m.doc_id, m.canonical_id, r.rep_id,
         |  m.doc_id = r.rep_id AS is_rep, r.rep_quality, r.cluster_size
         |FROM m JOIN (SELECT * FROM rep WHERE rn = 1) r USING (canonical_id)
         |ORDER BY m.doc_id""".stripMargin,

    // the composed near-dup cleaning pipeline: the same label closure,
    // then drop non-canonical pair members (docs in no pair are
    // singletons and survive) and aggregate the per-lang corpus stats
    "pipeline_neardup" ->
      s"""WITH RECURSIVE $neardupLabelCtes,
         |losers AS (SELECT id FROM labels WHERE id <> canonical_id),
         |kept AS (
         |  SELECT d.lang, d.text FROM documents d
         |  WHERE d.doc_id NOT IN (SELECT id FROM losers))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // Raw BETWEEN range join (what DuckDB plans as its native IEJoin)
    // against the engine's binned equi-join formulation; session
    // tagging comes from the shared sessionsCte.
    "r_interval_join" ->
      s"""WITH $sessionsCte,
         |sessions AS (
         |  SELECT user_id, sess_id,
         |    MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
         |  FROM sess GROUP BY user_id, sess_id),
         |err AS (
         |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
         |  FROM events WHERE event_type = 'error')
         |SELECT err.event_id, err.user_id, err.ts_ms, s.sess_id
         |FROM err JOIN sessions s
         |  ON err.user_id = s.user_id
         | AND err.ts_ms BETWEEN s.start_ms AND s.end_ms
         |ORDER BY err.event_id""".stripMargin,

    // Native ASOF JOIN against the engine's union + running-last
    // formulation; right side deduped per (user, ms) on both sides so
    // the tie winner is defined.
    "r_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, epoch_ms(ts))
        |SELECT p.event_id, p.user_id, p.ts_ms, c.click_id
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
        |ORDER BY p.event_id""".stripMargin,

    // JSON props extraction replayed without the json extension
    // (regexp on the single-key payload the generator emits) — the
    // Spark side parses with a typed from_json schema; semantics
    // (null on missing/malformed, k>=50 drop, exact-integer avg)
    // replay identically.
    "r_json_props" ->
      """WITH parsed AS (
        |  SELECT event_type, value,
        |    CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        |  FROM events
        |  WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(k) AS BIGINT) AS total_k,
        |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
        |  FROM parsed WHERE k >= 50 GROUP BY event_type)
        |SELECT event_type, n, total_k, total_value,
        |  round(CAST(total_k AS DOUBLE) / n, 4) AS avg_k
        |FROM agg ORDER BY event_type""".stripMargin,

    // Probe-pruned ANN top-k over the dumped persisted-index layouts.
    "ann_lsh_topk" -> annProbeSql(
      "ann_lsh_buckets.parquet", "bucket", "ann_lsh_probes.parquet", "keys"),

    // ANN recall@k monitor: the LSH probe replay (same CTEs as
    // ann_lsh_topk) joined against the exact brute-force top-k —
    // recall counted at full precision before any rounding.
    "eval_ann_recall" ->
      s"""WITH probes AS (
         |  SELECT unnest(keys) AS k FROM read_parquet('__AUX__/ann_lsh_probes.parquet')),
         |cand AS (
         |  SELECT vec_id FROM read_parquet('__AUX__/ann_lsh_buckets.parquet')
         |  WHERE bucket IN (SELECT k FROM probes)),
         |ascored AS (
         |  SELECT e.vec_id, ${cosSql("e")} AS cos
         |  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id),
         |atop AS (
         |  SELECT vec_id FROM ascored
         |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK}),
         |etop AS (
         |  SELECT e.vec_id FROM embeddings e
         |  WHERE ${cosSql("e")} IS NOT NULL
         |  ORDER BY ${cosSql("e")} DESC, e.vec_id ASC LIMIT ${Queries.annTopK})
         |SELECT CAST(${Queries.annTopK} AS INT) AS k,
         |  CAST(COUNT(*) AS BIGINT) AS n_approx,
         |  CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit,
         |  round(CAST(COALESCE(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0) AS DOUBLE)
         |    / ${Queries.annTopK}, 4) AS recall_at_k
         |FROM atop a LEFT JOIN etop e ON a.vec_id = e.vec_id""".stripMargin,
    "ann_ivf_topk" -> annProbeSql(
      "ann_ivf_cells.parquet", "cell", "ann_ivf_probes.parquet", "cells"),

    // HNSW probe: exact cosine top-k restricted to the dumped
    // candidate union (the per-partition graph searches' outputs) —
    // the same candidates-restricted check as the LSH/IVF probes.
    "ann_hnsw_topk" ->
      s"""WITH cand AS (
         |  SELECT DISTINCT vec_id
         |  FROM read_parquet('__AUX__/ann_hnsw_candidates.parquet')),
         |scored AS (
         |  SELECT e.vec_id, ${cosSql("e")} AS cos
         |  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id),
         |top AS (
         |  SELECT vec_id, cos FROM scored
         |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK})
         |SELECT vec_id AS id, round(cos, 4) AS cos FROM top
         |ORDER BY round(cos, 4) DESC, vec_id ASC""".stripMargin,

    // two-stage quantized top-k: integer-cosine ranking replayed
    // bit-exactly over the dumped int8 codes (per-vector scales
    // cancel in cosine, so ranking is pure integer sums + one double
    // division), then the usual exact-cosine rescore of the window.
    "ann_quantized_topk" -> quantTopKSql(
      "SELECT vec_id, q8 FROM read_parquet('__AUX__/quant_aux_codes.parquet')"),

    // PQ ADC replay: per-vector score = sum over subspaces of the
    // dumped lookup-table entry at (s, code_s), summed as DECIMAL so
    // addition order cannot diverge from the engine's decimal fold;
    // window cut on the exact decimal-sum double, then the usual
    // exact-cosine rescore.
    "ann_pq_topk" ->
      s"""WITH codes AS (
         |  SELECT vec_id, pq FROM read_parquet('__AUX__/pq_aux_codes.parquet')
         |  WHERE pq IS NOT NULL),
         |terms AS (
         |  SELECT c.vec_id, t.v
         |  FROM (SELECT vec_id, unnest(range(1, ${Queries.pqM} + 1)) AS i, pq
         |        FROM codes) c
         |  JOIN read_parquet('__AUX__/pq_aux_table.parquet') t
         |    ON t.s = c.i - 1 AND t.c = CAST(c.pq[c.i] AS INT)),
         |scores AS (
         |  SELECT vec_id, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS adc
         |  FROM terms GROUP BY vec_id),
         |cand AS (
         |  SELECT vec_id FROM scores
         |  ORDER BY adc DESC, vec_id ASC LIMIT ${Queries.quantRescoreWindow}),
         |rescored AS (
         |  SELECT e.vec_id, ${cosSql("e")} AS cos
         |  FROM embeddings e JOIN cand USING (vec_id)),
         |top AS (
         |  SELECT vec_id, cos FROM rescored WHERE cos IS NOT NULL
         |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK})
         |SELECT vec_id AS id, round(cos, 4) AS cos FROM top
         |ORDER BY round(cos, 4) DESC, vec_id ASC""".stripMargin,

    // IVF-PQ (IVFADC) replay: probed cells only, score = the dumped
    // per-cell query-dot constant + the decimal-folded residual
    // lookup-table sum — the identical two doubles the engine adds —
    // then the usual exact-cosine rescore of the window.
    "ann_ivfpq_topk" ->
      s"""WITH cc AS (
         |  SELECT cell, qdot FROM read_parquet('__AUX__/ivfpq_aux_cells.parquet')),
         |codes AS (
         |  SELECT vec_id, cell, pq
         |  FROM read_parquet('__AUX__/ivfpq_aux_codes.parquet')
         |  WHERE pq IS NOT NULL AND cell IN (SELECT cell FROM cc)),
         |terms AS (
         |  SELECT c.vec_id, t.v
         |  FROM (SELECT vec_id, unnest(range(1, ${Queries.pqM} + 1)) AS i, pq
         |        FROM codes) c
         |  JOIN read_parquet('__AUX__/ivfpq_aux_table.parquet') t
         |    ON t.s = c.i - 1 AND t.c = CAST(c.pq[c.i] AS INT)),
         |adc AS (
         |  SELECT vec_id, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS adc
         |  FROM terms GROUP BY vec_id),
         |scores AS (
         |  SELECT a.vec_id, a.adc + cc.qdot AS sc
         |  FROM adc a JOIN codes k ON a.vec_id = k.vec_id
         |  JOIN cc ON cc.cell = k.cell),
         |cand AS (
         |  SELECT vec_id FROM scores
         |  ORDER BY sc DESC, vec_id ASC LIMIT ${Queries.quantRescoreWindow}),
         |rescored AS (
         |  SELECT e.vec_id, ${cosSql("e")} AS cos
         |  FROM embeddings e JOIN cand USING (vec_id)),
         |top AS (
         |  SELECT vec_id, cos FROM rescored WHERE cos IS NOT NULL
         |  ORDER BY cos DESC, vec_id ASC LIMIT ${Queries.annTopK})
         |SELECT vec_id AS id, round(cos, 4) AS cos FROM top
         |ORDER BY round(cos, 4) DESC, vec_id ASC""".stripMargin,

    // quantized IVF probe: the same integer ranking + exact rescore,
    // restricted first to the probed cells — composes the
    // candidates-restricted IVF check with the bit-exact code replay.
    "ann_ivf_quantized_topk" -> quantTopKSql(
      s"""SELECT x.vec_id, x.q8
         |  FROM read_parquet('__AUX__/quant_aux_codes.parquet') x
         |  JOIN read_parquet('__AUX__/ann_ivf_cells.parquet') a USING (vec_id)
         |  WHERE a.cell IN (
         |    SELECT unnest(cells) FROM read_parquet('__AUX__/ann_ivf_probes.parquet'))""".stripMargin),

    // HNSW batch-kNN: per-query exact top-k over the dumped candidate
    // pairs, self-matches excluded like the engine's filter.
    "ann_hnsw_knn_join" ->
      s"""WITH cand AS (
         |  SELECT DISTINCT q_id, x_id
         |  FROM read_parquet('__AUX__/ann_hnsw_knn_cands.parquet')
         |  WHERE q_id <> x_id),
         |scored AS (
         |  SELECT c.q_id, c.x_id,
         |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
         |      CAST(ex.embedding AS DOUBLE[])) AS cos
         |  FROM cand c
         |  JOIN embeddings eq ON eq.vec_id = c.q_id
         |  JOIN embeddings ex ON ex.vec_id = c.x_id),
         |ranked AS (
         |  SELECT q_id, x_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, x_id ASC) AS rank
         |  FROM scored)
         |SELECT q_id, x_id, round(cos, 4) AS cos, rank
         |FROM ranked WHERE rank <= ${Queries.knnJoinK}
         |ORDER BY q_id, rank""".stripMargin,

    // Multiprobe batch-kNN joins (ad-hoc and persisted-index paths).
    "ann_knn_join" -> knnJoinSql("knn_q_probes.parquet",
      "SELECT x_id, key FROM read_parquet('__AUX__/knn_x_keys.parquet')"),

    // kNN label propagation: the knnJoinSql candidate replay with the
    // x side restricted to the labeled split (same key dump — the
    // labeled set is a filter of it), then majority vote with the
    // smaller label winning ties.
    "knn_label_prop" ->
      s"""${knnRankedCte("knn_q_probes.parquet", knnLabeledXSql)},
         |votes AS (
         |  SELECT r.q_id, e.label, COUNT(*) AS votes
         |  FROM ranked r JOIN embeddings e ON e.vec_id = r.x_id
         |  WHERE r.rank <= ${Queries.knnJoinK}
         |  GROUP BY r.q_id, e.label),
         |winner AS (
         |  SELECT q_id, label, votes,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY votes DESC, label ASC) AS rn
         |  FROM votes)
         |SELECT q_id AS vec_id, label AS pred_label, votes
         |FROM winner WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // Retrieval-eval metrics: the knn_label_prop candidate replay,
    // scored for label agreement (precision@k over found neighbors,
    // reciprocal rank of the first same-label hit).
    "eval_knn_metrics" ->
      s"""${knnRankedCte("knn_q_probes.parquet", knnLabeledXSql)},
         |m AS (
         |  SELECT n.q_id, eq.label AS ql, ex.label AS xl, n.rank
         |  FROM ranked n
         |  JOIN embeddings eq ON eq.vec_id = n.q_id
         |  JOIN embeddings ex ON ex.vec_id = n.x_id
         |  WHERE n.rank <= ${Queries.knnJoinK})
         |SELECT q_id AS vec_id, COUNT(*) AS n_found,
         |  round(CAST(SUM(CASE WHEN ql = xl THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 4) AS p_at_k,
         |  round(COALESCE(1.0 / MIN(CASE WHEN ql = xl THEN rank END), 0.0), 4) AS rr
         |FROM m GROUP BY q_id ORDER BY vec_id""".stripMargin,

    // Matryoshka truncated-prefix rank + full-dim rescore: list
    // slicing replays the prefix cosine in the same double fold.
    // COALESCE to -1.0 mirrors the Spark side's zero-prefix handling
    // (Spark yields NULL, DuckDB -1.0 — both collapse to rank-last).
    "ann_matryoshka_topk" ->
      s"""WITH pranked AS (
         |  SELECT vec_id,
         |    COALESCE(list_cosine_similarity(
         |      CAST(embedding[1:${Queries.matryoshkaDims}] AS DOUBLE[]),
         |      (SELECT CAST(embedding[1:${Queries.matryoshkaDims}] AS DOUBLE[])
         |       FROM embeddings WHERE vec_id = 0)), -1.0) AS pcos
         |  FROM embeddings),
         |pool AS (
         |  SELECT vec_id FROM pranked
         |  ORDER BY pcos DESC, vec_id ASC LIMIT ${Queries.quantRescoreWindow}),
         |rescored AS (
         |  SELECT e.vec_id, ${cosSql("e")} AS cos
         |  FROM embeddings e JOIN pool USING (vec_id))
         |SELECT vec_id, round(cos, 4) AS cos FROM rescored
         |ORDER BY round(cos, 4) DESC, vec_id ASC
         |LIMIT ${Queries.annTopK}""".stripMargin,
    "ann_knn_join_indexed" -> knnJoinSql("knn_q_probes_indexed.parquet",
      "SELECT vec_id AS x_id, bucket AS key FROM read_parquet('__AUX__/ann_lsh_buckets.parquet')"),

    // quantized kNN join replay: the same key-join candidates, ranked
    // by the bit-exact integer cosine over the dumped corpus codes to
    // the pool, then the exact rescore of pool pairs only. The
    // ad-hoc and indexed variants share the replay — the indexed x
    // side IS the persisted bucket table, and its persisted q8 codes
    // are bit-identical to quant_aux_codes (same Quantize.quantize of
    // the same vectors), so one code dump serves both.
    "ann_knn_join_quantized" -> quantKnnJoinSql("knn_q_probes.parquet",
      "SELECT x_id, key FROM read_parquet('__AUX__/knn_x_keys.parquet')"),
    "ann_knn_join_quantized_indexed" -> quantKnnJoinSql(
      "knn_q_probes_indexed.parquet",
      "SELECT vec_id AS x_id, bucket AS key FROM read_parquet('__AUX__/ann_lsh_buckets.parquet')"),

    // video rows = doc_id % 3 == 2 (element_at of the media array);
    // generate_series is INCLUSIVE like Spark sequence(); the corpus
    // is ASCII so the char slice md5s identically to the byte slice
    "mm_frames" ->
      s"""WITH v AS (
         |  SELECT doc_id AS asset_id, text,
         |    CAST(length(text) * 100 AS BIGINT) AS duration_ms
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
         |f AS (
         |  SELECT asset_id, text,
         |    unnest(generate_series(0, greatest(coalesce(duration_ms, 0), 0),
         |      ${Queries.mmFrameEveryMs})) AS frame_ts_ms
         |  FROM v)
         |SELECT asset_id, frame_ts_ms,
         |  md5(substring(text, CAST(frame_ts_ms % 1024 + 1 AS INT), 256)) AS frame_md5
         |FROM f ORDER BY asset_id, frame_ts_ms""".stripMargin,

    // relational replay over the dumped per-asset features of the
    // declared-fake decoder (mm_aux_features, full corpus): the asset
    // filter, 1-based list extraction, 4dp rounding, and ordering are
    // the oracle-checked layer; the decoder itself is the dump.
    "mm_features" ->
      """SELECT asset_id,
        |  round(features[1], 4) AS f1,
        |  round(features[16], 4) AS f16
        |FROM read_parquet('__AUX__/mm_aux_features.parquet')
        |WHERE asset_id < 100 ORDER BY asset_id""".stripMargin,

    // perceptual-hash near-dup over the dumped 64-dim perceptual
    // features: the fingerprint's mean is the IDENTICAL left-assoc
    // 64-term sum, the per-band sig bits are integer CASEs, and the
    // banded engine path has full recall by pigeonhole (bands =
    // maxHamming+1) — so brute force over the dump IS the exact
    // expected pair set (the dedup_simhash convention). Constant
    // (structureless) vectors hash to all-zero bands and are excluded
    // on BOTH sides (sig sum > 0) — see perceptualHashPairs' scaladoc
    "mm_neardup" -> mmNeardupSqlOver("mm_aux_pfeatures.parquet"),

    // the DECODED twin (r20): identical brute-force fingerprint
    // replay, over the dumped decoded-pixel vectors — the engine's
    // cross-codec PNG↔JPEG pairs must fall out of the same math
    "mm_neardup_decoded" -> mmNeardupSqlOver("mm_aux_dfeatures.parquet"),

    // relational replay over the dumped DECODED-pixel features (r20):
    // the feature column came from imageBlockLuma's real javax.imageio
    // decode of PNG/JPEG fixture bytes (raw rows via the byte
    // fallback); element extraction, 4dp rounding, and ordering are
    // the oracle-checked layer (the mm_features recipe)
    "mm_features_decoded" ->
      """SELECT asset_id, codec,
        |  round(features[1], 4) AS f1,
        |  round(features[33], 4) AS f33,
        |  round(features[64], 4) AS f64
        |FROM read_parquet('__AUX__/mm_aux_dfeatures.parquet')
        |ORDER BY asset_id""".stripMargin,

    // trunc before CAST: Spark's double→int cast truncates toward
    // zero while DuckDB's rounds — trunc aligns them. ASCII corpus →
    // char slice md5s identically to the stub's byte slice.
    "mm_resize" ->
      s"""WITH a AS (
         |  SELECT doc_id AS asset_id, text,
         |    CAST((doc_id % 64) * 16 + 16 AS INT) AS w,
         |    CAST((doc_id % 48) * 16 + 16 AS INT) AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |r AS (
         |  SELECT asset_id, text, w, h,
         |    least(1.0, ${Queries.mmResizeMaxSide}.0 / greatest(w, h)) AS scale
         |  FROM a)
         |SELECT asset_id,
         |  CAST(trunc(w * scale) AS INT) AS width,
         |  CAST(trunc(h * scale) AS INT) AS height,
         |  md5(substring(text, 1, 4096)) AS content_md5
         |FROM r ORDER BY asset_id""".stripMargin,

    "mm_describe" ->
      """SELECT doc_id AS asset_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST((doc_id % 64) * 16 + 16 AS INT) AS width,
        |  CAST((doc_id % 48) * 16 + 16 AS INT) AS height,
        |  CAST(length(text) * 100 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY asset_id""".stripMargin,

    "text_quality_score" -> s"${qualitySql("documents")} ORDER BY doc_id",

    // per-language rank-normalized quality: cume_dist IS the engine's
    // histogram-CDF join by construction — rows with quality <= mine
    // (peers included) over the language's total, one double divide,
    // rounded on both sides
    "quality_percentile" ->
      s"""WITH q AS (${qualitySql("documents")})
         |SELECT d.doc_id, d.lang, q.quality,
         |  round(cume_dist() OVER (PARTITION BY d.lang ORDER BY q.quality), 6) AS pct
         |FROM documents d JOIN q USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the percentile GATE: same CDF replay, keep pct >= gate — both
    // engines compare the identical rounded double, so the keep set
    // cannot disagree at the boundary
    "sample_percentile" -> samplePercentileSql,
    // the persisted-snapshot serving path (QualityCal.withPercentile
    // range lookup against the built CDF store): against a snapshot of
    // the same corpus the range lookup reduces to each row's own
    // cume_dist, so the engine must reproduce sample_percentile's
    // answer exactly — shared SQL, answer-equality is the contract
    // (the decontaminate_bloom convention)
    "sample_percentile_snapshot" -> samplePercentileSql,

    // The composed corpus-preparation pipeline: benchmark exclusion →
    // quality gate (on the ROUNDED score, see Queries.pipelineCorpus)
    // → exact dedup keeping the min-id canonical → bigram
    // decontamination vs the benchmark slice → deterministic
    // hash-threshold sample. Each stage replays the corresponding
    // standalone oracle's logic over the previous stage's output.
    // Cross-split leakage matrix: the shared banded-pair CTEs (the
    // dedup_source_matrix_neardup convention) + the ONE splitCaseSql
    // definition shared with split_assign, applied to each pair's own
    // ids — neither replay can drift from the other.
    "eval_split_leakage" ->
      s"""$minHashPairsCtes,
         |$minHashPairsAcceptedCte,
         |lab AS (
         |  SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |    jaccard
         |  FROM (
         |    SELECT ${splitCaseSql("id_a")} AS sa,
         |      ${splitCaseSql("id_b")} AS sb, jaccard
         |    FROM p)
         |  WHERE sa <> sb)
         |SELECT split_a, split_b, count(*) AS n_leak_pairs,
         |  max(jaccard) AS max_jaccard
         |FROM lab GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin,

    // Deterministic split replay: same md5 thresholds, same token
    // expression; SUM cast to BIGINT (DuckDB SUM of ints is HUGEINT).
    "split_assign" ->
      s"""WITH s AS (
         |  SELECT lang,
         |    ${splitCaseSql("doc_id")} AS split,
         |    len($toksSql) AS n_toks
         |  FROM documents)
         |SELECT split, lang, count(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
         |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    // Hard-negative mining replay: the knnJoin candidate construction
    // re-ranked to the wider pool, candidate-pair bigram Jaccard via
    // the shared bigrams CTE (LEFT joins + coalesce mirror the
    // engine's empty-gram-set semantics), then the post-filter top-3.
    "mine_hard_negatives" ->
      s"""$bigramsCte,
         |q AS (SELECT q_id, key FROM read_parquet('__AUX__/knn_q_probes.parquet')),
         |x AS (SELECT x_id, key FROM read_parquet('__AUX__/knn_x_keys.parquet')),
         |pairs AS (
         |  SELECT q.q_id, x.x_id FROM q JOIN x USING (key)
         |  WHERE q.q_id <> x.x_id),
         |scored AS (
         |  SELECT p.q_id, p.x_id,
         |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
         |      CAST(ex.embedding AS DOUBLE[])) AS cos
         |  FROM pairs p
         |  JOIN embeddings eq ON eq.vec_id = p.q_id
         |  JOIN embeddings ex ON ex.vec_id = p.x_id),
         |pool AS (
         |  SELECT q_id, x_id, cos FROM (
         |    SELECT q_id, x_id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, x_id ASC) AS r
         |    FROM scored) WHERE r <= ${Queries.hardNegPool}),
         |gsets AS (SELECT doc_id, count(*) AS n FROM bigrams GROUP BY 1),
         |inter AS (
         |  SELECT p.q_id, p.x_id, count(*) AS i
         |  FROM pool p JOIN bigrams a ON a.doc_id = p.q_id
         |  JOIN bigrams b ON b.doc_id = p.x_id AND b.g = a.g
         |  GROUP BY p.q_id, p.x_id),
         |jac AS (
         |  SELECT p.q_id, p.x_id, p.cos,
         |    CASE WHEN coalesce(gq.n, 0) + coalesce(gx.n, 0) - coalesce(i.i, 0) > 0
         |      THEN CAST(coalesce(i.i, 0) AS DOUBLE) /
         |           (coalesce(gq.n, 0) + coalesce(gx.n, 0) - coalesce(i.i, 0))
         |      ELSE 0.0 END AS j
         |  FROM pool p
         |  LEFT JOIN inter i ON i.q_id = p.q_id AND i.x_id = p.x_id
         |  LEFT JOIN gsets gq ON gq.doc_id = p.q_id
         |  LEFT JOIN gsets gx ON gx.doc_id = p.x_id),
         |ranked AS (
         |  SELECT q_id, x_id, cos, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, x_id ASC) AS rank
         |  FROM jac WHERE j < ${Queries.hardNegMaxJaccard})
         |SELECT q_id, x_id, round(cos, 4) AS cos, rank
         |FROM ranked WHERE rank <= ${Queries.hardNegK}
         |ORDER BY q_id, rank""".stripMargin,

    // C4-recipe composition: the quality CTE feeding the span-dedup
    // replay (same keep-first row_number), docs with no surviving
    // span dropped, per-language sums cast to BIGINT (DuckDB SUM of
    // ints is HUGEINT).
    "pipeline_c4" ->
      s"""WITH q AS (${qualitySql("documents")}),
         |qual AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN q USING (doc_id)
         |  WHERE q.quality >= ${Queries.corpusQualityFloor}),
         |toks AS (SELECT doc_id, $toksSql AS toks FROM qual),
         |idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range(CAST(ceil(len(toks) / ${Queries.spanDedupTokens}.0) AS BIGINT))) AS span_idx
         |  FROM toks),
         |spans AS (
         |  SELECT doc_id, span_idx,
         |    array_to_string(list_slice(toks,
         |      span_idx * ${Queries.spanDedupTokens} + 1,
         |      span_idx * ${Queries.spanDedupTokens} + ${Queries.spanDedupTokens}), ' ') AS span
         |  FROM idx),
         |kept AS (
         |  SELECT doc_id, span,
         |    row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS keep
         |  FROM spans),
         |aggd AS (
         |  SELECT doc_id,
         |    count(CASE WHEN keep THEN 1 END) AS n_kept,
         |    count(CASE WHEN NOT keep THEN 1 END) AS n_removed,
         |    coalesce(sum(CASE WHEN keep THEN len(string_split(span, ' ')) END), 0) AS toks_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT l.lang, count(*) AS n_docs,
         |  CAST(SUM(a.toks_kept) AS BIGINT) AS total_tokens,
         |  CAST(SUM(a.n_removed) AS BIGINT) AS spans_removed
         |FROM aggd a JOIN qual l USING (doc_id)
         |WHERE a.n_kept > 0
         |GROUP BY l.lang ORDER BY l.lang""".stripMargin,

    "pipeline_corpus" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE doc_id % ${Queries.decontamMod} <> 0),
         |q AS (${qualitySql("corpus")}),
         |qual AS (
         |  SELECT c.doc_id, c.lang, c.text, q.quality
         |  FROM corpus c JOIN q USING (doc_id)
         |  WHERE q.quality >= ${Queries.corpusQualityFloor}),
         |canon AS (
         |  SELECT doc_id, lang, text, quality,
         |    MIN(doc_id) OVER (PARTITION BY nh) AS cid
         |  FROM (SELECT *,
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS nh
         |    FROM qual)),
         |surv AS (SELECT doc_id, lang, text, quality FROM canon WHERE doc_id = cid),
         |stoks AS (SELECT doc_id, $toksSql AS toks FROM surv),
         |sunn AS (
         |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
         |  FROM stoks WHERE len(toks) >= 2),
         |sbig AS (
         |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS g
         |  FROM sunn a JOIN sunn b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |btoks AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id % ${Queries.decontamMod} = 0),
         |bunn AS (
         |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
         |  FROM btoks WHERE len(toks) >= 2),
         |bbig AS (
         |  SELECT DISTINCT a.tok || ' ' || b.tok AS g
         |  FROM bunn a JOIN bunn b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |hits AS (
         |  SELECT s.doc_id, count(*) AS n_hits
         |  FROM sbig s JOIN bbig b ON s.g = b.g GROUP BY s.doc_id),
         |clean AS (
         |  SELECT s.doc_id, s.lang, s.quality
         |  FROM surv s LEFT JOIN hits h USING (doc_id)
         |  WHERE coalesce(h.n_hits, 0) < ${Queries.decontamMinOverlap})
         |SELECT doc_id, lang, quality FROM clean
         |WHERE substr(md5(CAST(doc_id AS VARCHAR) || '${Queries.sampleSalt}'), 1, 4)
         |  < (CASE WHEN lang = 'en' THEN '${Queries.sampleThreshEn}'
         |          ELSE '${Queries.sampleThreshOther}' END)
         |ORDER BY doc_id""".stripMargin,

    "text_language_id" -> {
      val langs = graft.functions.GraftFunctions.langMarkers.toSeq.sortBy(_._1)
      val hitCols = langs.map { case (lang, markers) =>
        val lst = markers.toSeq.sorted.map(w => s"'$w'").mkString(", ")
        s"count(*) FILTER (WHERE w IN ($lst)) AS ${lang}_h"
      }.mkString(",\n    ")
      val scoreCols = langs.map { case (lang, _) =>
        s"CAST(${lang}_h AS DOUBLE) / n AS $lang"
      }.mkString(", ")
      val gr = langs.map(_._1).mkString("greatest(", ", ", ")")
      // maxBy((score, lang)) tie-breaks to the lexicographically
      // LARGEST language code, so the CASE tests langs descending.
      val argmax = langs.map(_._1).sorted.reverse.init
        .map(l => s"WHEN $l = $gr THEN '$l'")
        .mkString("\n           ")
      val last = langs.map(_._1).min
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |toks AS (
         |  SELECT doc_id, u.w
         |  FROM base, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS u(w)),
         |sc AS (
         |  SELECT doc_id, count(*) AS n,
         |    $hitCols
         |  FROM toks GROUP BY doc_id),
         |scores AS (SELECT doc_id, $scoreCols FROM sc),
         |det AS (
         |  SELECT b.doc_id,
         |    CASE WHEN s.doc_id IS NULL THEN 'und'
         |         WHEN $gr <= 0 THEN 'und'
         |         $argmax
         |         ELSE '$last' END AS detected
         |  FROM base b LEFT JOIN scores s USING (doc_id))
         |SELECT detected, count(*) AS n FROM det
         |GROUP BY detected ORDER BY detected""".stripMargin
    },

    // TRAINED language-ID routing (r18): dump-and-replay over the
    // session's (lang, bk, w) coefficient + intercept tables (the
    // quality_classifier recipe) — distinct bigram buckets (hexLen=3,
    // LangId.train's default) → per-(doc, lang) INTEGER sums (the
    // dumped w/icept are the driver's 12-dp scaled longs — the ONE
    // rounding in the whole path, so both engines do exact integer
    // arithmetic and no summation order can flip the argmax) →
    // argmax by (score, lang) descending; gram-less docs rout to
    // 'und'.
    "text_language_id_trained" ->
      s"""WITH $langDetCtes
         |SELECT lang AS detected, count(*) AS n FROM det
         |GROUP BY detected ORDER BY detected""".stripMargin,

    // CHAR-GRAM detection replay (r20): the Cavnar–Trenkle joined-
    // stream construction — ' ' || tokens joined by ' ' || ' ',
    // distinct ${Queries.langIdCharN}-char substrings (boundary-
    // spanning grams carry the word-pair signal) — hashed into the
    // same md5-prefix buckets, then the identical scaled-integer sum
    // + (score, lang)-desc argmax over the CHAR model's dumped
    // coefficient tables. Tokens are ASCII alnum runs, so len()
    // counts bytes == chars and substr slices match the JVM's
    // substring exactly; token-less docs produce no grams (the
    // len(toks) > 0 guard) and rout to 'und' via the left join.
    "text_language_id_chargram" ->
      s"""WITH lwc AS (SELECT lang, bk, w
         |  FROM read_parquet('__AUX__/langid_char_aux_weights.parquet')),
         |lic AS (SELECT lang, icept
         |  FROM read_parquet('__AUX__/langid_char_aux_icepts.parquet')),
         |arrc AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |joinc AS (
         |  SELECT doc_id, ' ' || array_to_string(toks, ' ') || ' ' AS p
         |  FROM arrc WHERE len(toks) > 0),
         |posc AS (
         |  SELECT doc_id, p,
         |    unnest(generate_series(1, len(p) - ${Queries.langIdCharN - 1}))
         |      AS i
         |  FROM joinc),
         |cg AS (SELECT DISTINCT doc_id,
         |  substr(p, i, ${Queries.langIdCharN}) AS g FROM posc),
         |featc AS (
         |  SELECT DISTINCT doc_id, substr(md5(g), 1, 3) AS bk FROM cg),
         |zc AS (
         |  SELECT f.doc_id, lwc.lang, SUM(lwc.w) AS zs
         |  FROM featc f JOIN lwc USING (bk)
         |  GROUP BY f.doc_id, lwc.lang),
         |scc AS (
         |  SELECT z.doc_id, z.lang, z.zs + lic.icept AS score
         |  FROM zc z JOIN lic USING (lang)),
         |bestc AS (
         |  SELECT doc_id, lang AS detected,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, lang DESC) AS rn
         |  FROM scc),
         |detc AS (
         |  SELECT d.doc_id, coalesce(b.detected, 'und') AS lang
         |  FROM documents d
         |  LEFT JOIN (SELECT doc_id, detected FROM bestc WHERE rn = 1) b
         |    USING (doc_id))
         |SELECT lang AS detected, count(*) AS n FROM detc
         |GROUP BY detected ORDER BY detected""".stripMargin,

    // Rolling-hash fingerprint replayed in PURE SQL (no aux): the JVM
    // loop h = 31*h + c over "token + ' '" chars (seed
    // 1125899906842597, 64-bit wrap) has the closed form
    //   h = seed*31^n + Σ c_i * 31^(n-i)  (mod 2^64),
    // computed here with a recursive powers-of-31 CTE and HUGEINT
    // accumulation (terms < 2^71, seed term < 2^114 — inside
    // HUGEINT's 2^127), then mapped to the signed BIGINT the Spark
    // UDF returns. Tokens are [a-z0-9]+ runs, so code points ==
    // UTF-16 units == unicode().
    "text_fingerprint" ->
      """WITH RECURSIVE strs AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+'),
        |      t -> t || ' '), '') AS s
        |  FROM documents),
        |lens AS (SELECT doc_id, length(s) AS n FROM strs),
        |pow(k, p) AS (
        |  SELECT 0, CAST(1 AS HUGEINT)
        |  UNION ALL
        |  SELECT k + 1, (p * 31) % CAST('18446744073709551616' AS HUGEINT)
        |  FROM pow WHERE k < (SELECT max(n) FROM lens)),
        |chars AS (
        |  SELECT doc_id, unicode(c) AS code, i FROM (
        |    SELECT doc_id, unnest(string_split(s, '')) AS c,
        |      generate_subscripts(string_split(s, ''), 1) AS i
        |    FROM strs) u
        |  WHERE c <> ''),
        |terms AS (
        |  SELECT c.doc_id, CAST(c.code AS HUGEINT) * p.p AS term
        |  FROM chars c JOIN lens l USING (doc_id) JOIN pow p ON p.k = l.n - c.i),
        |sums AS (SELECT doc_id, sum(term) AS ssum FROM terms GROUP BY doc_id),
        |fph AS (
        |  SELECT l.doc_id,
        |    (CAST('1125899906842597' AS HUGEINT) * (SELECT p FROM pow WHERE k = l.n)
        |      + coalesce(s.ssum, 0)) % CAST('18446744073709551616' AS HUGEINT) AS h
        |  FROM lens l LEFT JOIN sums s USING (doc_id))
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT) AS fp
        |FROM fph ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(coalesce(text, ''), '${Queries.emailRe}')) AS n_emails,
         |  len(regexp_extract_all(coalesce(text, ''), '${Queries.phoneRe}')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(coalesce(text, ''),
         |    '${Queries.emailRe}', '[EMAIL]', 'g'),
         |    '${Queries.phoneRe}', '[PHONE]', 'g')) AS scrubbed_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    // per-source PII incidence: the scrub's shared regex constants
    // aggregated per source — counts are exact integers, the rate one
    // double divide rounded on both sides
    "pii_report" ->
      s"""WITH p AS (
         |  SELECT source,
         |    len(regexp_extract_all(coalesce(text, ''), '${Queries.emailRe}')) AS ne,
         |    len(regexp_extract_all(coalesce(text, ''), '${Queries.phoneRe}')) AS np
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
         |  CAST(SUM(ne) AS BIGINT) AS n_emails,
         |  CAST(SUM(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
         |  CAST(SUM(np) AS BIGINT) AS n_phones,
         |  CAST(SUM(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
         |  round(CAST(SUM(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS pii_doc_rate
         |FROM p GROUP BY source ORDER BY source""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR) || '${Queries.sampleSalt}'), 1, 4)
         |  < (CASE WHEN lang = 'en' THEN '${Queries.sampleThreshEn}'
         |          ELSE '${Queries.sampleThreshOther}' END)
         |ORDER BY doc_id""".stripMargin,

    // training-export shard manifest: identical md5-bucket shard
    // arithmetic (first 8 hex chars as unsigned 32-bit, mod nShards)
    // over the stringified key; the range() left join keeps empty
    // shards present as zero rows, exactly as the Spark side does
    // same '0x'||md5-prefix shard bucket; the order key is md5 of
    // "seed:id" — engine-agnostic, so the permutation replays exactly
    "export_order" ->
      s"""WITH keyed AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.exportNShards} AS shard,
         |    doc_id,
         |    md5('${Queries.exportOrderSeed}:' || CAST(doc_id AS VARCHAR)) AS sort_key
         |  FROM documents)
         |SELECT shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY shard ORDER BY sort_key, doc_id) - 1 AS INT) AS seq,
         |  doc_id, sort_key
         |FROM keyed ORDER BY shard, seq""".stripMargin,

    // curriculum order: the quality_percentile CDF replay feeding the
    // export_order window, ascending pct first (best data LAST — the
    // end-of-run anneal), the same md5 key + id as the tiebreak
    "export_curriculum" ->
      s"""WITH q AS (${qualitySql("documents")}),
         |pctq AS (
         |  SELECT d.doc_id,
         |    round(cume_dist() OVER (PARTITION BY d.lang ORDER BY q.quality), 6) AS pct
         |  FROM documents d JOIN q USING (doc_id)),
         |keyed AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.exportNShards} AS shard,
         |    doc_id, pct,
         |    md5('${Queries.exportOrderSeed}:' || CAST(doc_id AS VARCHAR)) AS sort_key
         |  FROM pctq)
         |SELECT shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY shard ORDER BY pct, sort_key, doc_id) - 1 AS INT) AS seq,
         |  doc_id, pct
         |FROM keyed ORDER BY shard, seq""".stripMargin,

    // curriculum export of the CLEANED corpus: the ladder chain's
    // `final` survivors → quality + per-lang cume_dist over the
    // SURVIVOR set only (calibrate on what ships) → the same md5
    // shard/sort-key window as export_curriculum
    "pipeline_curriculum" ->
      s"""${ingestChain(decontam = true, semantic = true)},
         |q AS (${qualitySql(ladderSurvivorsSrc)}),
         |pctq AS (
         |  SELECT s.doc_id,
         |    round(cume_dist() OVER (
         |      PARTITION BY s.lang ORDER BY q.quality), 6) AS pct
         |  FROM $ladderSurvivorsSrc s JOIN q USING (doc_id)),
         |curk AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.exportNShards} AS shard,
         |    doc_id, pct,
         |    md5('${Queries.exportOrderSeed}:' || CAST(doc_id AS VARCHAR)) AS sort_key
         |  FROM pctq)
         |SELECT shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY shard ORDER BY pct, sort_key, doc_id) - 1 AS INT) AS seq,
         |  doc_id, pct
         |FROM curk ORDER BY shard, seq""".stripMargin,

    "export_shards" ->
      s"""WITH assigned AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.exportNShards} AS shard,
         |    len($toksSql) AS toks
         |  FROM documents),
         |agg AS (
         |  SELECT shard, COUNT(*) AS n_docs,
         |    CAST(SUM(toks) AS BIGINT) AS n_tokens
         |  FROM assigned GROUP BY 1),
         |shards AS (SELECT range AS shard FROM range(0, ${Queries.exportNShards}))
         |SELECT s.shard,
         |  CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens
         |FROM shards s LEFT JOIN agg a ON a.shard = s.shard
         |ORDER BY s.shard""".stripMargin,

    // document-level sequence packing: the identical shard arithmetic,
    // per-(lang, shard) ordered cumsum EXCLUDING the current row, and
    // bin = floor(before / budget) — then the per-bin manifest
    // per-doc placement replay: the same exclusive cumsum and bin
    // rule, then row_number within the bin and offset = cum minus the
    // bin's minimum cum (the bin's start)
    "pack_offsets" ->
      s"""WITH ${packPerDocSql("documents")},
         |$packPlacementSql""".stripMargin,

    "pack_sequences" ->
      s"""WITH ${packPerDocSql("documents")},
         |$packBinsSql""".stripMargin,

    // packing-efficiency rollup of the same bin manifest: bins per
    // (lang, shard) stream and fill vs the token budget — both sides
    // divide exact integers as doubles, rounded to 6dp
    "pack_efficiency" ->
      s"""WITH ${packPerDocSql("documents")},
         |$packBinnedCte,
         |bins AS ($packBinSummarySql)
         |SELECT lang, shard,
         |  COUNT(*) AS n_bins,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(SUM(n_tokens) AS DOUBLE)
         |    / CAST(COUNT(*) * ${Queries.packBudget} AS DOUBLE), 6) AS fill_rate
         |FROM bins GROUP BY lang, shard
         |ORDER BY lang, shard""".stripMargin,

    "mix_token_stats" ->
      s"""WITH per_doc AS (
         |  SELECT source, lang, len($toksSql) AS toks FROM documents),
         |agg AS (
         |  SELECT source, lang, count(*) AS n_docs,
         |    CAST(sum(toks) AS BIGINT) AS n_tokens
         |  FROM per_doc GROUP BY source, lang)
         |SELECT source, lang, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
         |FROM agg ORDER BY source, lang""".stripMargin,

    // quantile_cont shares Spark percentile's lower + frac·(upper−lower)
    // interpolation at rank p·(n−1) — exact double replay.
    "a3_quantiles" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.25), 4) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 4) AS p75,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // df via the same two-stage (term, doc) partial-count shape (not
    // COUNT(DISTINCT)) so the arithmetic path mirrors the engine's;
    // idf = sklearn smoothing ln((N+1)/(df+1)) + 1.
    "vocab_top_terms" ->
      s"""WITH arr AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |terms AS (SELECT doc_id, unnest(toks) AS term FROM arr),
         |per_doc AS (
         |  SELECT term, doc_id, COUNT(*) AS tf_doc FROM terms GROUP BY 1, 2),
         |stats AS (
         |  SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf,
         |    COUNT(*) AS df
         |  FROM per_doc GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT term, tf, df,
         |  round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 4) AS idf
         |FROM stats, n
         |ORDER BY tf DESC, term ASC LIMIT ${Queries.vocabTopN}""".stripMargin,

    // same arithmetic bucket hash + per-source threshold as mixSample
    "mix_sample" ->
      s"""WITH per_doc AS (
         |  SELECT doc_id, source, len($toksSql) AS toks FROM documents),
         |rates AS (
         |  SELECT source,
         |    CAST(floor(least(1.0, ${Queries.mixSampleBudget}.0
         |      / CAST(greatest(CAST(sum(toks) AS BIGINT), 1) AS DOUBLE)) * 10000) AS BIGINT) AS thresh
         |  FROM per_doc GROUP BY source)
         |SELECT d.doc_id, d.source, d.toks
         |FROM per_doc d JOIN rates r USING (source)
         |WHERE ((d.doc_id % 100003) * 2654435761) % 10000 < r.thresh
         |ORDER BY d.doc_id""".stripMargin,

    // temperature-0.5 mixing: sqrt is IEEE-correctly-rounded (pow is
    // not), weights fixed-pointed so the normalizing sum is integer —
    // every arithmetic step here is a single correctly-rounded double
    // op, replaying the engine bit-for-bit
    "mix_temperature" ->
      s"""WITH per_doc AS (
         |  SELECT doc_id, source, len($toksSql) AS toks FROM documents),
         |counts AS (
         |  SELECT source, CAST(sum(toks) AS BIGINT) AS src_tokens,
         |    CAST(floor(sqrt(CAST(CAST(sum(toks) AS BIGINT) AS DOUBLE)) * 1000)
         |      AS BIGINT) AS s
         |  FROM per_doc GROUP BY source),
         |tot AS (SELECT CAST(sum(s) AS BIGINT) AS s_total FROM counts),
         |rates AS (
         |  SELECT source,
         |    CAST(floor(least(1.0,
         |      (${Queries.mixTempBudget}.0 * CAST(s AS DOUBLE)) /
         |      (CAST(greatest(s_total, 1) AS DOUBLE)
         |        * CAST(greatest(src_tokens, 1) AS DOUBLE))) * 10000)
         |      AS BIGINT) AS thresh
         |  FROM counts, tot)
         |SELECT d.doc_id, d.source, d.toks
         |FROM per_doc d JOIN rates r USING (source)
         |WHERE ((d.doc_id % 100003) * 2654435761) % 10000 < r.thresh
         |ORDER BY d.doc_id""".stripMargin,

    "decontaminate" ->
      s"""$bigramsCte,
         |bench AS (
         |  SELECT DISTINCT g FROM bigrams WHERE doc_id % ${Queries.decontamMod} = 0),
         |hits AS (
         |  SELECT c.doc_id, COUNT(*) AS n_hits
         |  FROM bigrams c JOIN bench b ON c.g = b.g
         |  WHERE c.doc_id % ${Queries.decontamMod} <> 0
         |  GROUP BY c.doc_id)
         |SELECT doc_id, n_hits FROM hits WHERE n_hits >= ${Queries.decontamMinOverlap}
         |ORDER BY doc_id""".stripMargin,

    // ExactSubstr replay: sliding k-grams at every alignment,
    // keep-first by (doc, pos), removal positions = union of covered
    // offsets, FILTERed ordered string_agg reassembly.
    "dedup_substrings" -> {
      val k = Queries.substrK
      s"""WITH arr AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |seqs AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${k - 1})) AS i
         |  FROM arr WHERE len(toks) >= $k),
         |g AS (
         |  SELECT doc_id, i, array_to_string(toks[i:i+${k - 1}], ' ') AS gram
         |  FROM seqs),
         |firsts AS (
         |  SELECT doc_id, i,
         |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
         |  FROM g),
         |rem AS (
         |  SELECT DISTINCT f.doc_id, f.i + o.off AS pos
         |  FROM firsts f, (SELECT unnest(generate_series(0, ${k - 1})) AS off) o
         |  WHERE f.rn > 1),
         |tok AS (
         |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
         |  FROM arr),
         |j AS (
         |  SELECT t.doc_id, t.pos, t.tok, r.pos IS NOT NULL AS rm
         |  FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos)
         |SELECT doc_id,
         |  COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '') AS clean_text,
         |  COUNT(*) FILTER (WHERE rm) AS n_removed
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // bloom-pruned variant: the bloom only prunes candidates, the
    // exact semi-join decides — same answer, so the oracle is the
    // exact form's SQL verbatim.
    "decontaminate_bloom" ->
      s"""$bigramsCte,
         |bench AS (
         |  SELECT DISTINCT g FROM bigrams WHERE doc_id % ${Queries.decontamMod} = 0),
         |hits AS (
         |  SELECT c.doc_id, COUNT(*) AS n_hits
         |  FROM bigrams c JOIN bench b ON c.g = b.g
         |  WHERE c.doc_id % ${Queries.decontamMod} <> 0
         |  GROUP BY c.doc_id)
         |SELECT doc_id, n_hits FROM hits WHERE n_hits >= ${Queries.decontamMinOverlap}
         |ORDER BY doc_id""".stripMargin,

    // DSIR replay: same distinct-bigram features, same md5-prefix
    // buckets (string keys precisely so this SQL needs no hex
    // arithmetic), same Laplace-smoothed log-likelihood ratios.
    "dsir_weights" ->
      s"""$bigramsCte,
         |$dsirWeightsCte
         |SELECT doc_id, ROUND(logw, 4) AS logw FROM w ORDER BY doc_id""".stripMargin,

    // Gumbel top-k: uniform from the mix_sample integer hash of the
    // id; keys rounded BEFORE order/limit to pin the boundary.
    "dsir_sample" ->
      s"""$bigramsCte,
         |$dsirWeightsCte
         |SELECT doc_id,
         |  ROUND(logw - ln(-ln((((doc_id % 100003) * 2654435761) % 10000 + 0.5) / 10000.0)), 4)
         |    AS gumbel_key
         |FROM w ORDER BY gumbel_key DESC, doc_id LIMIT ${Queries.dsirSampleK}""".stripMargin,

    // CCNet perplexity replay: non-distinct consecutive token pairs,
    // Laplace bigram LM over the target slice, per-doc EXP(-AVG(ln p)),
    // tertiles per language over the ROUNDED perplexity.
    "ccnet_ppl_buckets" ->
      s"""WITH arr AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |un AS (
         |  SELECT doc_id, unnest(toks) AS tok,
         |    generate_subscripts(toks, 1) AS i
         |  FROM arr WHERE len(toks) >= 2),
         |pr AS (
         |  SELECT a.doc_id, a.tok AS prev, b.tok AS cur
         |  FROM un a JOIN un b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |tp AS (
         |  SELECT p.prev, p.cur FROM pr p JOIN documents d USING (doc_id)
         |  WHERE d.source = '${Queries.dsirTargetSource}'),
         |rp AS (
         |  SELECT p.doc_id, p.prev, p.cur FROM pr p JOIN documents d USING (doc_id)
         |  WHERE d.source <> '${Queries.dsirTargetSource}'),
         |big AS (SELECT prev, cur, COUNT(*) AS cb FROM tp GROUP BY 1, 2),
         |ctx AS (SELECT prev, COUNT(*) AS cp FROM tp GROUP BY 1),
         |voc AS (SELECT COUNT(DISTINCT cur) AS v FROM tp),
         |sc AS (
         |  SELECT rp.doc_id,
         |    ln((COALESCE(big.cb, 0) + 1.0) / (COALESCE(ctx.cp, 0) + 1.0 * (voc.v + 1))) AS logp
         |  FROM rp
         |  LEFT JOIN big ON rp.prev = big.prev AND rp.cur = big.cur
         |  LEFT JOIN ctx ON rp.prev = ctx.prev, voc),
         |pp AS (SELECT doc_id, ROUND(EXP(-AVG(logp)), 4) AS ppl FROM sc GROUP BY doc_id),
         |lb AS (
         |  SELECT p.doc_id, d.lang, p.ppl
         |  FROM pp p JOIN documents d USING (doc_id)),
         |cuts AS (
         |  SELECT lang,
         |    ROUND(quantile_cont(ppl, 0.3333333333333333), 4) AS c33,
         |    ROUND(quantile_cont(ppl, 0.6666666666666666), 4) AS c66
         |  FROM lb GROUP BY lang)
         |SELECT lb.doc_id, lb.lang, lb.ppl,
         |  CASE WHEN lb.ppl <= cuts.c33 THEN 'head'
         |       WHEN lb.ppl <= cuts.c66 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM lb JOIN cuts USING (lang) ORDER BY lb.doc_id""".stripMargin,

    // learned-quality-classifier replay: distinct md5-prefix feature
    // buckets per raw doc, coefficient sum + sigmoid over the dumped
    // model (the training is MLlib's; the SCORING is relational on
    // both sides by design).
    "quality_classifier" ->
      s"""$bigramsCte,
         |$qualityScoreCte
         |SELECT doc_id, qscore FROM q ORDER BY doc_id""".stripMargin,

    // Pareto-thresholded keep: score > 1 - ((1-u)^(-1/9) - 1), u from
    // the mix_sample integer hash; scores rounded BEFORE the compare.
    "quality_filter_pareto" ->
      s"""$bigramsCte,
         |$qualityScoreCte
         |SELECT doc_id, qscore FROM q
         |WHERE qscore > 1.0 - (POWER(1.0 - (((doc_id % 100003) * 2654435761) % 10000 + 0.5) / 10000.0, -1.0 / 9.0) - 1.0)
         |ORDER BY doc_id""".stripMargin,

    // Classifier P/R sweep: the same score CTE, swept over the shared
    // threshold grid against the curated-target ground truth.
    "eval_quality_pr" -> {
      val grid = Queries.evalPrThresholds.mkString(", ")
      s"""$bigramsCte,
         |$qualityScoreCte,
         |lbl AS (
         |  SELECT d.doc_id, q.qscore,
         |    CASE WHEN d.lang = '${Queries.qualityTargetLang}' THEN 1 ELSE 0 END AS pos
         |  FROM documents d LEFT JOIN q USING (doc_id)),
         |th AS (SELECT unnest(CAST([$grid] AS DOUBLE[])) AS thresh),
         |m AS (
         |  SELECT th.thresh,
         |    CAST(SUM(CASE WHEN COALESCE(l.qscore > th.thresh, FALSE) AND l.pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN COALESCE(l.qscore > th.thresh, FALSE) AND l.pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN NOT COALESCE(l.qscore > th.thresh, FALSE) AND l.pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM lbl l CROSS JOIN th GROUP BY 1)
         |SELECT thresh, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |    ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 4) END AS prec,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |    ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 4) END AS rec
         |FROM m ORDER BY thresh""".stripMargin
    },

    // per-eval-doc contamination report: pair counts over shared
    // distinct bigrams (bench side % mod = 0), thresholded, then
    // per-bench aggregation.
    "contamination_report" ->
      s"""$bigramsCte,
         |pairs AS (
         |  SELECT b.doc_id AS bid, c.doc_id AS cid, COUNT(*) AS shared
         |  FROM bigrams b JOIN bigrams c ON b.g = c.g
         |  WHERE b.doc_id % ${Queries.decontamMod} = 0
         |    AND c.doc_id % ${Queries.decontamMod} <> 0
         |  GROUP BY 1, 2),
         |flagged AS (
         |  SELECT bid, cid, shared FROM pairs
         |  WHERE shared >= ${Queries.decontamMinOverlap})
         |SELECT bid AS bench_id, count(*) AS n_contaminated,
         |  max(shared) AS max_overlap
         |FROM flagged GROUP BY bid ORDER BY bench_id""".stripMargin,

    // Token Shannon entropy: identical formula, each c·ln(c) term
    // decimal-cast before the sum so partition order never perturbs
    // the doubles (the PQ-ADC summation strategy).
    "text_token_entropy" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |cnt AS (
         |  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_distinct,
         |    CAST(SUM(CAST(c * ln(c) AS DECIMAL(28,12))) AS DOUBLE) AS clnc
         |  FROM cnt GROUP BY 1)
         |SELECT doc_id, n_tokens, n_distinct,
         |  round(greatest(ln(n_tokens) - clnc / n_tokens, 0.0), 4) AS entropy,
         |  round(CASE WHEN n_distinct > 1
         |    THEN greatest(ln(n_tokens) - clnc / n_tokens, 0.0) / ln(n_distinct)
         |    ELSE 0.0 END, 4) AS norm_entropy
         |FROM agg ORDER BY doc_id""".stripMargin,

    // C4 blocklist filter — same distinct-token intersect against the
    // shared term list.
    "text_blocklist" -> {
      val terms = Queries.blocklistTerms.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  len(list_intersect(list_distinct($toksSql), $terms)) AS n_blocked,
         |  CASE WHEN len(list_intersect(list_distinct($toksSql), $terms)) = 0
         |    THEN 1 ELSE 0 END AS keep
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // Gopher rule battery (Rae et al. 2021 §A1.1) — pure per-row
    // list algebra mirroring Queries.textGopherRules: whitespace
    // words, newline lines, literal non-overlapping symbol counts,
    // rounded signals, keep gate evaluated on the ROUNDED values.
    "text_gopher_rules" -> {
      val stops = Queries.gopherStopWords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS w,
         |    regexp_split_to_array(text, '\\n') AS l,
         |    $toksSql AS toks
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, len(w) AS n_words,
         |    round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |      / len(w), 4) AS mean_word_len,
         |    round(CAST((length(text) - length(replace(text, '#', ''))) +
         |      (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
         |      / len(w), 4) AS symbol_ratio,
         |    round(CAST(len(list_filter(l, x -> starts_with(ltrim(x), '-')
         |      OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')))
         |      AS DOUBLE) / len(l), 4) AS bullet_frac,
         |    round(CAST(len(list_filter(l, x -> ends_with(rtrim(x), '...')
         |      OR ends_with(rtrim(x), '…'))) AS DOUBLE) / len(l), 4)
         |      AS ellipsis_frac,
         |    round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
         |      AS DOUBLE) / len(w), 4) AS alpha_frac,
         |    len(list_intersect(toks, $stops)) AS n_stop
         |  FROM base)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
         |  ellipsis_frac, alpha_frac, n_stop,
         |  CAST(n_words >= ${Queries.gopherMinWords}
         |    AND n_words <= ${Queries.gopherMaxWords}
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio < 0.1 AND bullet_frac <= 0.1
         |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
         |    AND n_stop >= 2 AS INT) AS keep
         |FROM sig ORDER BY doc_id""".stripMargin
    },

    "text_quality_metrics" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $toksSql AS toks,
         |    length(text) AS n_chars_m FROM documents)
         |SELECT doc_id, n_chars_m, len(toks) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         |    / n_chars_m, 4) AS alpha_ratio,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
         |    AS distinct_ratio
         |FROM base ORDER BY doc_id""".stripMargin,

    // =================================================================
    // Engine e2e oracles: SQL replays of VectorizeEngine search paths
    // over the backfilled stores Verify dumps into the out dir
    // (Queries.dumpOracleAux). __AUX__ is rewritten by Verify to the
    // absolute out dir. The engine's embedding pipeline itself is
    // JVM-only (hash provider + Porter stems), but given its OUTPUT
    // tables the whole ranking is plain SQL — mirroring
    // Search.semanticSearch / hybridSearch step by step: cosine over
    // the store, top-windowSize by (1-sim, pkey-string), rank windows,
    // RRF fusion, join back to the source, final top-limit. pkey is a
    // string in the store, so tie-breaks compare VARCHARs on both
    // sides.
    // =================================================================

    // f2 replays TextAnalyzer.rank over the dumped DEDUPLICATED
    // lexeme arrays: matched/|qlex| * (1 + matched/|doc lexemes|),
    // same left-to-right double arithmetic as the tsRank UDF; the
    // Spark side orders by the ROUNDED rank, so the oracle rounds
    // before its ORDER BY + LIMIT too. f2_postings_rank (the GIN-
    // analogue inverted-index plan) must produce IDENTICAL results,
    // so it shares the oracle verbatim.
    "f2_tsvector_rank" -> f2RankSql,
    "f2_postings_rank" -> f2RankSql,
    "f4_rank_cd" -> f4RankCdSql,
    "f4_postings_rank_cd" -> f4RankCdSql,
    "f4_rank_cd_and" -> f4RankCdAndSql,

    // BM25 replay: df/dl/N/avgdl recomputed from the full per-doc
    // (lexeme, npos) dump; idf and length-norm arithmetic written in
    // the same shape/association as TextIndex.searchPostingsBm25 (and
    // avgdl = exact integer sum / count on both sides); per-doc total
    // summed as DECIMAL so addition order cannot flip rounded ties.
    "f4_bm25" ->
      s"""WITH q AS (
         |  SELECT DISTINCT unnest(f2_qlex) AS lex
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |pc AS (
         |  SELECT doc_id, lexeme, npos
         |  FROM read_parquet('__AUX__/f4_aux_poscounts.parquet')),
         |dls AS (
         |  SELECT doc_id, CAST(sum(npos) AS BIGINT) AS dl
         |  FROM pc GROUP BY doc_id),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dls),
         |dfs AS (
         |  SELECT p.lexeme, count(*) AS df
         |  FROM pc p JOIN q ON p.lexeme = q.lex
         |  GROUP BY p.lexeme),
         |terms AS (
         |  SELECT p.doc_id,
         |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
         |      * (p.npos * 2.2)
         |      / (p.npos + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS t
         |  FROM pc p
         |  JOIN dfs d ON p.lexeme = d.lexeme
         |  JOIN dls l ON l.doc_id = p.doc_id
         |  CROSS JOIN stats s)
         |SELECT doc_id,
         |  round(CAST(sum(CAST(t AS DECIMAL(28,12))) AS DOUBLE), 4) AS score
         |FROM terms GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin,

    "f5_phrase_match" -> f5PhraseSql,
    "f5_postings_phrase" -> f5PhraseSql,

    // websearch_to_tsquery replay for the FIXED wsQueryText:
    //   group1 = merg AND "tabl hash" (phrase) AND NOT custom
    //   group2 = stream AND part
    // — term membership over the dumped lexeme arrays, phrase via the
    // shared anchor-walk CTEs; stems interpolated from the same
    // analyzer the engine parses with.
    "f5_websearch" -> {
      def st(w: String) = graft.functions.PorterStemmer.stem(w)
      s"""WITH $phraseHitCtes,
         |lex AS (
         |  SELECT doc_id, lexemes
         |  FROM read_parquet('__AUX__/f2_aux_lexemes.parquet')),
         |g1 AS (
         |  SELECT l.doc_id
         |  FROM lex l JOIN (SELECT DISTINCT doc_id FROM hit) ph
         |    ON ph.doc_id = l.doc_id
         |  WHERE list_contains(l.lexemes, '${st("merge")}')
         |    AND NOT list_contains(l.lexemes, '${st("customer")}')),
         |g2 AS (
         |  SELECT doc_id FROM lex
         |  WHERE list_contains(lexemes, '${st("streams")}')
         |    AND list_contains(lexemes, '${st("part")}')),
         |hits AS (SELECT doc_id FROM g1 UNION SELECT doc_id FROM g2)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN hits ON d.doc_id = hits.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "vz_semantic_search" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |scored AS (
         |  SELECT pkey,
         |    list_cosine_similarity(CAST(embeddings AS DOUBLE[]), (SELECT v FROM q)) AS sim
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet')),
         |top AS (
         |  SELECT pkey, sim FROM scored WHERE sim IS NOT NULL
         |  ORDER BY 1.0 - sim ASC, pkey ASC LIMIT 50),
         |hits AS (
         |  SELECT d.doc_id, d.lang, t.sim
         |  FROM documents d JOIN top t ON CAST(d.doc_id AS VARCHAR) = t.pkey
         |  ORDER BY t.sim DESC, t.pkey ASC LIMIT 10)
         |SELECT doc_id, lang, round(sim, 4) AS similarity_score
         |FROM hits ORDER BY similarity_score DESC, doc_id ASC""".stripMargin,

    // best-passage replay: cosine per dumped chunk vector, per-doc
    // argmax (row_number, ties → earliest chunk), top-10 cut at full
    // precision, presentation on the rounded score.
    "passage_search" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v
         |  FROM read_parquet('__AUX__/passage_aux_query.parquet')),
         |scored AS (
         |  SELECT doc_id, chunk_idx,
         |    list_cosine_similarity(CAST(cvec AS DOUBLE[]), (SELECT v FROM q)) AS cos
         |  FROM read_parquet('__AUX__/passage_aux_chunks.parquet')),
         |best AS (
         |  SELECT doc_id, chunk_idx, cos,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cos DESC, chunk_idx ASC) AS r
         |  FROM scored WHERE cos IS NOT NULL),
         |top AS (
         |  SELECT doc_id, chunk_idx, cos FROM best WHERE r = 1
         |  ORDER BY cos DESC, doc_id ASC LIMIT 10)
         |SELECT doc_id, chunk_idx, round(cos, 4) AS best_cos FROM top
         |ORDER BY best_cos DESC, doc_id ASC""".stripMargin,

    // quantized engine search: the bit-exact integer-ranking replay
    // of the ann_quantized oracles applied to the ENGINE's store dump
    // (string pkey ordering throughout, like vz_semantic_search),
    // then the exact rescore against the dumped float store.
    "vz_semantic_quantized" ->
      s"""WITH qq AS (
         |  SELECT qcodes FROM read_parquet('__AUX__/vz_aux_qcodes.parquet')),
         |c AS (
         |  SELECT pkey, q8 FROM read_parquet('__AUX__/vz_aux_codes.parquet')),
         |scored AS (
         |  SELECT c.pkey,
         |    list_sum(list_transform(range(1, len(c.q8) + 1),
         |      i -> CAST(c.q8[i] AS BIGINT) * CAST(q.qcodes[i] AS BIGINT))) AS dot,
         |    list_sum(list_transform(c.q8,
         |      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS na,
         |    list_sum(list_transform(q.qcodes,
         |      x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS nb
         |  FROM c CROSS JOIN qq q),
         |qcos AS (
         |  SELECT pkey,
         |    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS qc
         |  FROM scored WHERE na > 0 AND nb > 0),
         |cand AS (
         |  SELECT pkey FROM qcos
         |  ORDER BY qc DESC, pkey ASC LIMIT ${Queries.quantRescoreWindow}),
         |resc AS (
         |  SELECT e.pkey,
         |    list_cosine_similarity(CAST(e.embeddings AS DOUBLE[]),
         |      (SELECT CAST(qvec AS DOUBLE[])
         |       FROM read_parquet('__AUX__/vz_aux_query.parquet'))) AS cos
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet') e
         |  JOIN cand USING (pkey)),
         |top AS (
         |  SELECT pkey, cos FROM resc WHERE cos IS NOT NULL
         |  ORDER BY cos DESC, pkey ASC LIMIT 10)
         |SELECT d.doc_id, d.lang, round(t.cos, 4) AS similarity_score
         |FROM documents d JOIN top t ON CAST(d.doc_id AS VARCHAR) = t.pkey
         |ORDER BY similarity_score DESC, doc_id ASC""".stripMargin,

    // index-backed semantic search: exact cosine top-10 over the
    // dumped probe-candidate union of the engine-store HNSW index,
    // joined back to documents — the candidates-restricted pattern of
    // the ann_* oracles applied to the engine path.
    "vz_semantic_indexed" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |cand AS (
         |  SELECT DISTINCT id
         |  FROM read_parquet('__AUX__/vz_hnsw_candidates.parquet')),
         |scored AS (
         |  SELECT CAST(e.pkey AS BIGINT) AS id,
         |    list_cosine_similarity(CAST(e.embeddings AS DOUBLE[]),
         |      (SELECT v FROM q)) AS cos
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet') e
         |  JOIN cand c ON CAST(e.pkey AS BIGINT) = c.id),
         |top AS (
         |  SELECT id, cos FROM scored
         |  ORDER BY cos DESC, id ASC LIMIT 10)
         |SELECT d.doc_id, d.lang, round(t.cos, 4) AS similarity_score
         |FROM top t JOIN documents d ON d.doc_id = t.id
         |ORDER BY similarity_score DESC, d.doc_id ASC""".stripMargin,

    // filtered index-backed search: the same candidates-restricted
    // replay over the WIDER window probe (k = 5×limit), with the
    // engine's top-window merge, the post-ANN lang filter, and the
    // final limit all replayed in SQL — reference post-filter
    // semantics (HNSW scan then filter).
    "vz_semantic_indexed_filtered" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |cand AS (
         |  SELECT DISTINCT id
         |  FROM read_parquet('__AUX__/vz_hnsw_candidates_w50.parquet')),
         |scored AS (
         |  SELECT CAST(e.pkey AS BIGINT) AS id,
         |    list_cosine_similarity(CAST(e.embeddings AS DOUBLE[]),
         |      (SELECT v FROM q)) AS cos
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet') e
         |  JOIN cand c ON CAST(e.pkey AS BIGINT) = c.id),
         |win AS (
         |  SELECT id, cos FROM scored
         |  ORDER BY cos DESC, id ASC LIMIT 50),
         |filtered AS (
         |  SELECT d.doc_id, d.lang, w.cos
         |  FROM win w JOIN documents d ON d.doc_id = w.id
         |  WHERE d.lang = 'en'
         |  ORDER BY w.cos DESC, d.doc_id ASC LIMIT 10)
         |SELECT doc_id, lang, round(cos, 4) AS similarity_score
         |FROM filtered
         |ORDER BY similarity_score DESC, doc_id ASC""".stripMargin,

    // fts_score is EXACT OR-query ts_rank_cd over the store's aligned
    // (search_tokens, search_token_counts) arrays: 0.1 · Σ matched
    // position counts (parallel unnest zips the arrays positionally,
    // like Search.ftsLeg's zip_with).
    "vz_hybrid_search" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v, qlex
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |q_lex AS (SELECT DISTINCT unnest(qlex) AS lex FROM q),
         |sem_scored AS (
         |  SELECT pkey,
         |    list_cosine_similarity(CAST(embeddings AS DOUBLE[]), (SELECT v FROM q)) AS sim
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet')),
         |sem_top AS (
         |  SELECT pkey, sim FROM sem_scored WHERE sim IS NOT NULL
         |  ORDER BY 1.0 - sim ASC, pkey ASC LIMIT 50),
         |sem AS (
         |  SELECT pkey, sim,
         |    row_number() OVER (ORDER BY 1.0 - sim ASC, pkey ASC) AS semantic_rank
         |  FROM sem_top),
         |tok AS (
         |  -- coalesce mirrors Search.ftsLeg's legacy fallback: a
         |  -- widened-but-unrefreshed row (null counts) degrades to
         |  -- count-1 per lexeme in BOTH engine and oracle
         |  SELECT pkey, unnest(search_tokens) AS lex,
         |    unnest(coalesce(search_token_counts,
         |      list_transform(search_tokens, x -> 1))) AS npos
         |  FROM read_parquet('__AUX__/vz_aux_tokens.parquet')),
         |fts_scored AS (
         |  SELECT t.pkey, 0.1 * sum(t.npos) AS fts_score
         |  FROM tok t JOIN q_lex ON t.lex = q_lex.lex
         |  GROUP BY t.pkey),
         |fts_top AS (
         |  SELECT pkey, fts_score
         |  FROM fts_scored
         |  ORDER BY fts_score DESC, pkey ASC LIMIT 50),
         |fts AS (
         |  SELECT pkey, fts_score,
         |    row_number() OVER (ORDER BY fts_score DESC, pkey ASC) AS fts_rank
         |  FROM fts_top),
         |fused AS (
         |  SELECT coalesce(sem.pkey, fts.pkey) AS pkey,
         |    sem.semantic_rank, fts.fts_rank,
         |    coalesce(1.0 / (60.0 + sem.semantic_rank), 0.0) +
         |    coalesce(1.0 / (60.0 + fts.fts_rank), 0.0) AS rrf_score
         |  FROM sem FULL OUTER JOIN fts ON sem.pkey = fts.pkey),
         |hits AS (
         |  SELECT d.doc_id, f.semantic_rank, f.fts_rank, f.rrf_score
         |  FROM documents d JOIN fused f ON CAST(d.doc_id AS VARCHAR) = f.pkey
         |  ORDER BY f.rrf_score DESC, f.pkey ASC LIMIT 10)
         |SELECT doc_id, semantic_rank, fts_rank, round(rrf_score, 6) AS rrf_score
         |FROM hits ORDER BY rrf_score DESC, doc_id ASC""".stripMargin,

    // the BM25-leg hybrid: identical semantic leg + RRF fusion to
    // vz_hybrid_search; the lexical leg recomputes df/dl/N/avgdl from
    // the token dump and replays the engine's exact BM25 arithmetic
    // (Lucene-style idf, k1=1.2 b=0.75, decimal term-sum) — the same
    // formula the standalone f4_bm25 oracle already verifies against
    // the postings index.
    "vz_hybrid_bm25" ->
      s"""WITH q AS (
         |  SELECT CAST(qvec AS DOUBLE[]) AS v, qlex
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |q_lex AS (SELECT DISTINCT unnest(qlex) AS lex FROM q),
         |sem_scored AS (
         |  SELECT pkey,
         |    list_cosine_similarity(CAST(embeddings AS DOUBLE[]), (SELECT v FROM q)) AS sim
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet')),
         |sem_top AS (
         |  SELECT pkey, sim FROM sem_scored WHERE sim IS NOT NULL
         |  ORDER BY 1.0 - sim ASC, pkey ASC LIMIT 50),
         |sem AS (
         |  SELECT pkey, sim,
         |    row_number() OVER (ORDER BY 1.0 - sim ASC, pkey ASC) AS semantic_rank
         |  FROM sem_top),
         |tok AS (
         |  SELECT pkey, unnest(search_tokens) AS lex,
         |    unnest(coalesce(search_token_counts,
         |      list_transform(search_tokens, x -> 1))) AS npos
         |  FROM read_parquet('__AUX__/vz_aux_tokens.parquet')),
         |dls AS (
         |  SELECT pkey, CAST(sum(npos) AS BIGINT) AS dl
         |  FROM tok GROUP BY pkey),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
         |  FROM dls),
         |dfs AS (
         |  SELECT t.lex, count(*) AS df
         |  FROM tok t JOIN q_lex ON t.lex = q_lex.lex
         |  GROUP BY t.lex),
         |terms AS (
         |  SELECT t.pkey,
         |    ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
         |      * (t.npos * 2.2)
         |      / (t.npos + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS tsc
         |  FROM tok t
         |  JOIN dfs d ON t.lex = d.lex
         |  JOIN dls l ON l.pkey = t.pkey
         |  CROSS JOIN stats s),
         |fts_scored AS (
         |  SELECT pkey,
         |    CAST(sum(CAST(tsc AS DECIMAL(28,12))) AS DOUBLE) AS fts_score
         |  FROM terms GROUP BY pkey),
         |fts_top AS (
         |  SELECT pkey, fts_score
         |  FROM fts_scored
         |  ORDER BY fts_score DESC, pkey ASC LIMIT 50),
         |fts AS (
         |  SELECT pkey, fts_score,
         |    row_number() OVER (ORDER BY fts_score DESC, pkey ASC) AS fts_rank
         |  FROM fts_top),
         |fused AS (
         |  SELECT coalesce(sem.pkey, fts.pkey) AS pkey,
         |    sem.semantic_rank, fts.fts_rank,
         |    coalesce(1.0 / (60.0 + sem.semantic_rank), 0.0) +
         |    coalesce(1.0 / (60.0 + fts.fts_rank), 0.0) AS rrf_score
         |  FROM sem FULL OUTER JOIN fts ON sem.pkey = fts.pkey),
         |hits AS (
         |  SELECT d.doc_id, f.semantic_rank, f.fts_rank, f.rrf_score
         |  FROM documents d JOIN fused f ON CAST(d.doc_id AS VARCHAR) = f.pkey
         |  ORDER BY f.rrf_score DESC, f.pkey ASC LIMIT 10)
         |SELECT doc_id, semantic_rank, fts_rank, round(rrf_score, 6) AS rrf_score
         |FROM hits ORDER BY rrf_score DESC, doc_id ASC""".stripMargin,

    // f6 replays posexplode + total order over the dumped per-doc
    // chunk arrays (the chunker itself is a JVM UDF, unit-covered by
    // TextSpec; what the oracle checks is the relational layer —
    // explode-with-position, empty-array row drop, ordering). The
    // zipped unnests align chunk_index with its chunk like posexplode.
    "f6_chunk_table" ->
      """WITH c AS (
        |  SELECT doc_id, chunks
        |  FROM read_parquet('__AUX__/f6_aux_chunks.parquet')
        |  WHERE len(chunks) > 0)
        |SELECT doc_id,
        |  CAST(unnest(generate_series(0, len(chunks) - 1)) AS INT) AS chunk_index,
        |  unnest(chunks) AS chunk
        |FROM c ORDER BY doc_id, chunk_index""".stripMargin,

    // vz_rag's render layer: replay the same retrieval CTE as
    // vz_rag_retrieve (windowSize = numContext*5 = 10), join the hit
    // texts with "\n" in retrieval order, splice them into the
    // question_answer template by concatenating its literal segments
    // (single-pass substitution semantics — substituted values are
    // never re-scanned, matching PromptTemplates.substitute), and md5
    // both prompts. Template/query literals are interpolated from the
    // same constants the engine renders from.
    "vz_rag_prompt" ->
      s"""$ragRenderCtes
         |SELECT md5(${sqlQuote(ragPromptParts._1)}) AS sys_md5,
         |  md5($ragUserPromptExpr) AS user_md5
         |FROM ctx""".stripMargin,

    // vz_rag END-TO-END: the same retrieval+render CTEs as
    // vz_rag_prompt, plus the deterministic chat provider's response
    // assembly replayed in SQL — DeterministicChatProvider returns
    // "[<model>] " + the first 3 lines of the rendered user prompt
    // joined by spaces, truncated to 200 chars (Providers.scala:
    // 99-104). The model prefix interpolates the SHARED
    // Queries.ragChatModel (like ragQueryText/ragNumContext), and the
    // line split matches Scala's linesIterator exactly: \r\n, \r, or
    // \n as separators, AND one trailing terminator yields no empty
    // final element ("a\n" → ["a"], not ["a",""]) — hence the single
    // trailing-terminator strip before the split, without which a
    // <3-line prompt ending in a newline would join a phantom "" into
    // the response. With retrieval, render, and response all
    // declarative, the whole retrieve → render → respond chain is
    // oracled; only the HTTP provider transports stay
    // ProvidersSpec-covered.
    "vz_rag" ->
      s"""$ragRenderCtes,
         |up AS (SELECT regexp_replace($ragUserPromptExpr,
         |  '(\\r\\n|\\r|\\n)$$', '') AS u FROM ctx)
         |SELECT ${sqlQuote(Queries.ragQueryText)} AS query,
         |  '[${Queries.ragChatModel}] ' || substr(
         |    array_to_string(list_slice(
         |      regexp_split_to_array(u, '\\r\\n|\\r|\\n'), 1, 3), ' '),
         |    1, 200) AS chat_response
         |FROM up""".stripMargin,

    // rag(numContext) retrieval: windowSize = limit*5 (shared
    // Queries.ragNumContext keeps the engine and replay in lockstep).
    "vz_rag_retrieve" ->
      s"""WITH q AS (
         |  SELECT CAST(rag_qvec AS DOUBLE[]) AS v
         |  FROM read_parquet('__AUX__/vz_aux_query.parquet')),
         |scored AS (
         |  SELECT pkey,
         |    list_cosine_similarity(CAST(embeddings AS DOUBLE[]), (SELECT v FROM q)) AS sim
         |  FROM read_parquet('__AUX__/vz_aux_embeddings.parquet')),
         |top AS (
         |  SELECT pkey, sim FROM scored WHERE sim IS NOT NULL
         |  ORDER BY 1.0 - sim ASC, pkey ASC LIMIT ${Queries.ragNumContext * 5}),
         |hits AS (
         |  SELECT d.doc_id, t.sim, md5(d.text) AS content_md5
         |  FROM documents d JOIN top t ON CAST(d.doc_id AS VARCHAR) = t.pkey
         |  ORDER BY t.sim DESC, t.pkey ASC LIMIT ${Queries.ragNumContext})
         |SELECT doc_id, round(sim, 4) AS similarity_score, content_md5
         |FROM hits ORDER BY similarity_score DESC, doc_id ASC""".stripMargin
  )

  /** The PERSISTED-model serving path (r19) shares the trained
    * entry's oracle VERBATIM: LangId.saveModel's raw-double rows
    * round-trip exactly, so routing from the loaded artifact is
    * byte-identical to the in-session model — answer-equality is the
    * contract (the decontaminate_bloom / sample_percentile_snapshot
    * convention), and any divergence in the store/load/validate path
    * reds the driver gate.
    */
  val sql: Map[String, String] =
    base + ("text_language_id_stored" -> base("text_language_id_trained"))
}
