package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRAINED language identification (r18 — the r17 verdict's #5):
  * a fastText-style supervised classifier served through the same
  * declared-scorer-swap slot as the heuristic
  * ([[graft.functions.GraftFunctions.withDetectedLanguage]]), closing
  * the loop the r17 routing pin left open — a scorer that is actually
  * LEARNED flowing through the routing surface end-to-end.
  *
  * Recipe mirrors [[QualityFilter]] (the repo's one other genuinely
  * learned artifact): training is the one MLlib stage (multinomial
  * logistic regression over hashed word-bigram presence buckets — the
  * [[QualityFilter.featureBuckets]] feature space, which for
  * language ID is a proxy for the stopword/function-word signal a
  * fastText model keys on); SERVING is deliberately relational —
  * explode buckets, broadcast-join the (lang, bk, w) coefficient
  * table, per-(doc, lang) sum + intercept, argmax — so the DuckDB
  * oracle replays routing bit-for-bit from the dumped coefficients
  * and the pipeline persists a table, not a model object.
  *
  * Determinism across engines: coefficients and intercepts are
  * scaled ONCE, driver-side, to 12-dp INTEGERS (HALF_UP — the
  * text_token_entropy rounding), and both engines sum plain integers
  * from there — zero floating arithmetic anywhere in serving, so
  * partition/row order can never perturb low bits and flip an argmax
  * between Spark and DuckDB (and the integer sums codegen ~2× faster
  * than the DECIMAL aggregate they replaced). Boundedness is
  * ENFORCED, not assumed (review r18): every serving surface
  * requires the worst per-doc score — all 16^hexLen buckets at
  * max|w| plus the max intercept — to fit a Long with 4× margin, so
  * a pathological model fails loudly at construction instead of
  * wrapping into a silent cross-engine argmax divergence (Spark's
  * Long sums wrap, DuckDB's promote to HUGEINT). The argmax
  * tie-break is total
  * ((score, lang) descending, matching the heuristic's
  * maxBy((score, lang))).
  *
  * 100 TB posture: the coefficient table is bounded at
  * |langs| × 16^hexLen rows forever (a broadcast); scoring is one
  * linear gram scan + broadcast probe + map-side-combinable
  * groupBy(doc, lang) — the DSIR/QualityFilter shape. Training cost
  * is bounded by sampling the labeled corpus; the classifier needs
  * calibrated contrast, not the whole crawl.
  */
object LangId {

  /** Learned artifact: per-language intercepts + dense bucket
    * coefficient rows (lang-major; bucket index = the hexLen-digit
    * md5 prefix parsed as an int). Languages sorted, so the
    * label↔index mapping is deterministic. The FULL feature geometry
    * rides with the model — `hexLen` AND the n-gram order `n` (review
    * r18: a scorer probing n=2 buckets against n=3-trained
    * coefficients is silently garbage, the batchSig-geometry-drift
    * failure class) — so [[detect]]/[[scorer]] can never featurize
    * differently than training did.
    */
  case class Model(langs: Array[String], intercepts: Array[Double],
      weights: Array[Array[Double]], hexLen: Int, n: Int,
      featKind: String = FeatWord)

  /** Featurization kinds (r20, the r19 verdict's #7): `word` hashes
    * distinct word n-grams ([[Dedup.ngramSet]] — the stopword/
    * function-word signal); `char` hashes distinct character n-grams
    * of the SPACE-JOINED token stream (' ' + tokens.mkString(" ") +
    * ' ') — the Cavnar–Trenkle (1994) n-gram-categorization /
    * langid.py construction, where boundary-spanning grams (end of
    * one word, space, start of the next) carry word-pair signal at
    * character grain. That cross-token span is the load-bearing
    * choice: within-token subword grams measured 0.41 label recovery
    * on the shared-vocabulary fixture (every language draws the same
    * token inventory, so token-interior grams are distribution-blind)
    * vs 0.99 for the joined-stream form at n = 5 — and on natural
    * corpora the same grams carry the morphology/alphabet signal
    * fastText's subwords key on. Char grams give SHORT documents
    * evidence the empty word-bigram space cannot (one token already
    * emits grams at n ≤ len+2). The kind is part of the model's
    * feature GEOMETRY: it rides in the store properties and every serving surface
    * featurizes by the artifact's own kind — a scorer hashing word
    * grams against char-trained coefficients is silently garbage,
    * the same drift class hexLen/n already guard.
    */
  val FeatWord = "word"
  val FeatChar = "char"
  private def requireFeatKind(featKind: String, caller: String): Unit =
    require(featKind == FeatWord || featKind == FeatChar,
      s"$caller: featKind must be '$FeatWord' or '$FeatChar', got '$featKind'")

  /** Distinct char n-grams of the space-joined token stream (see
    * [[FeatChar]]) — LinkedHashSet keeps first-occurrence order like
    * the word path. Gram-less docs (no tokens, or a stream shorter
    * than n) return empty and rout to 'und' downstream. */
  private[graft] def charNgramSetScala(text: String, n: Int): Seq[String] = {
    val toks = graft.functions.TextAnalyzer.tokenize(text)
    if (toks.isEmpty) Seq.empty
    else {
      val s = " " + toks.mkString(" ") + " "
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= s.length) { seen.add(s.substring(i, i + n)); i += 1 }
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toSeq
    }
  }

  private val charNgramSetUdf =
    udf((text: String, n: Int) => charNgramSetScala(text, n))

  /** (id, bk) distinct feature buckets under the model's kind — the
    * ONE dispatcher every path (train, detect) featurizes through. */
  private def featureBucketsOf(df: DataFrame, idCol: String,
      textCol: String, n: Int, hexLen: Int, featKind: String): DataFrame =
    featKind match {
      case FeatChar =>
        df.select(col(idCol).as("id"),
            explode(charNgramSetUdf(col(textCol), lit(n))).as("g"))
          .select(col("id"), substring(md5(col("g")), 1, hexLen).as("bk"))
          .distinct()
      case _ => QualityFilter.featureBuckets(df, idCol, textCol, n, hexLen)
    }

  /** Train one multinomial LR over hashed-bigram presence features
    * from a LABELED corpus (langCol supervises — a trusted labeled
    * slice in production, the generator's stored column in tests).
    * Null-lang rows carry no supervision and are dropped.
    *
    * `sampleFraction` (r19, the r18 verdict's #6) bounds the training
    * cost on a large labeled corpus — the scaladoc's "training cost
    * is bounded by sampling" claim, now an actual knob: a uniform
    * per-row Bernoulli sample (seeded, so a retrain is reproducible)
    * BEFORE featurization, so the gram explode + MLlib fit see only
    * the sample. The classifier needs calibrated contrast, not the
    * whole crawl — ScaleSpec pins that label recovery holds when
    * trained on a 10% sample of a 10× corpus. The language inventory
    * comes from the SAMPLE (the model can only learn classes it saw
    * evidence for), so a sampled train COMPARES that inventory
    * against the full labeled corpus's and fails loudly on ANY
    * dropped language (ADVICE r19: the earlier >= 2-classes bound
    * alone let a sample that lost only a minority language ship a
    * model that routes its rows elsewhere) — raise the fraction or
    * stratify upstream.
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, n: Int = 2, hexLen: Int = 3,
      regParam: Double = 0.01, maxIter: Int = 30,
      tol: Double = 1e-6, sampleFraction: Double = 1.0,
      sampleSeed: Long = 42L, featKind: String = FeatWord): Model = {
    QualityFilter.requireHexLen(hexLen)
    requireFeatKind(featKind, "LangId.train")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"LangId.train: sampleFraction must be in (0, 1], got $sampleFraction")
    val dim = QualityFilter.bucketDim(hexLen)
    val allLabeled = docs.filter(col(langCol).isNotNull)
    val labeled =
      if (sampleFraction >= 1.0) allLabeled
      else allLabeled.sample(withReplacement = false, sampleFraction,
        sampleSeed)
    val langs = labeled.select(col(langCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    require(langs.length >= 2,
      s"LangId.train needs >= 2 labeled languages, got ${langs.mkString(", ")}")
    // the inventory must survive the sample INTACT (ADVICE r19): a
    // sample that still covers >= 2 classes but dropped a minority
    // language would pass the bound above and silently ship a model
    // that routes that language's rows elsewhere — compare against
    // the FULL labeled corpus's inventory (one cheap distinct) and
    // fail loudly: raise sampleFraction, or stratify upstream
    if (sampleFraction < 1.0) {
      val allLangs = allLabeled.select(col(langCol).cast("string"))
        .distinct().collect().map(_.getString(0)).sorted
      val dropped = allLangs.diff(langs)
      require(dropped.isEmpty,
        s"LangId.train: the $sampleFraction sample dropped labeled " +
          s"language(s) ${dropped.mkString(", ")} entirely — the model " +
          "could never route them; raise sampleFraction or stratify the " +
          "sample upstream")
    }
    val langIdx = langs.zipWithIndex.toMap
    val idxUdf = udf((l: String) => langIdx(l).toDouble)
    val toVec = QualityFilter.toVecUdf(dim)
    val training = featureBucketsOf(labeled, idCol, textCol, n, hexLen,
        featKind)
      .groupBy("id").agg(collect_set(col("bk")).as("bks"))
      .join(labeled.select(col(idCol).as("id"),
        col(langCol).cast("string").as("__lang")), Seq("id"))
      .select(idxUdf(col("__lang")).as("label"), toVec(col("bks")).as("features"))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(maxIter).setRegParam(regParam).setTol(tol)
      .setFamily("multinomial").setStandardization(false)
    val fit = lr.fit(training)
    val m = fit.coefficientMatrix
    Model(langs, fit.interceptVector.toArray,
      Array.tabulate(langs.length)(r =>
        Array.tabulate(dim)(c => m(r, c))), hexLen, n, featKind)
  }

  /** Store property keys for a persisted model table ([[saveModel]]): the
    * FULL serving geometry rides with the artifact — langs inventory,
    * bucket hexLen, n-gram order, and the 12-dp integer serving scale
    * — so a consumer can require-match ALL of it before any corpus
    * work (the signature indexes' store-property discipline; reference
    * shape: the job-scoped model/provenance checks of
    * core/src/init.rs:122-269).
    */
  private[graft] val MetaFn = "langid.model.fn"
  private[graft] val MetaLangs = "langid.model.langs"
  private[graft] val MetaHexLen = "langid.model.hexLen"
  private[graft] val MetaN = "langid.model.n"
  private[graft] val MetaScale = "langid.model.scale"
  private[graft] val MetaFeat = "langid.model.feat"

  /** Version stamp of the featurization + serving arithmetic a
    * persisted model assumes — bump when [[QualityFilter
    * .featureBuckets]]'s hashing or the scaled-integer serving
    * changes, so a stale artifact is rejected rather than silently
    * routing garbage.
    */
  private[graft] val FnVersion = "langid-lr-grambuckets-v1"

  /** The 12-dp integer scale every serving path assumes ([[scaled]]).
    * Recorded in the artifact and require-matched on load: scores
    * from a model trained against a different scale are not
    * comparable to this build's arithmetic.
    */
  private[graft] val ServingScale = 12

  /** Persist a trained model as a store table — one row per language
    * (lang, icept, w array, RAW doubles: parquet round-trips IEEE
    * doubles exactly, where persisting the scaled integers would bake
    * one serving scale into the artifact) — with the full feature
    * geometry as the snapshot's properties, committed with the data
    * ([[graft.sources.ParquetStore.overwrite]] — a model
    * refresh is a full replace, never a merge, like the CDF
    * calibration snapshots).
    */
  def saveModel(store: graft.sources.ParquetStore, table: String,
      model: Model): Unit = {
    require(model.langs.forall(!_.contains(",")),
      s"LangId.saveModel: language labels must not contain ',' " +
        s"(the property inventory separator): ${model.langs.mkString("|")}")
    requireFeatKind(model.featKind, "LangId.saveModel")
    // the STORE's session, not SparkSession.active (review r19): the
    // frame must be built where it will be written, and active() is
    // wrong (or absent) whenever the caller's context differs
    val spark = store.session
    import spark.implicits._
    val rows = model.langs.indices.map(i =>
      (model.langs(i), model.intercepts(i), model.weights(i).toSeq))
    store.overwrite(table,
      rows.toDF("lang", "icept", "w"),
      Map(MetaFn -> FnVersion,
        MetaLangs -> model.langs.mkString(","),
        MetaHexLen -> model.hexLen.toString,
        MetaN -> model.n.toString,
        MetaScale -> ServingScale.toString,
        MetaFeat -> model.featKind))
  }

  /** Validate AND read a persisted model as one consistent pair (the
    * [[QualityCal.loadCdf]] convention): version stamp present and
    * matching this build, geometry keys present and self-consistent
    * with the DATA (langs inventory equals the rows', every weight
    * row spans exactly 16^hexLen buckets), serving scale matching
    * this build's integer arithmetic. Any drift fails HERE — the
    * caller's stream `.start()` — never inside a micro-batch.
    */
  def loadModel(store: graft.sources.ParquetStore, table: String,
      caller: String): Model = {
    require(store.exists(table),
      s"$caller: language-ID model table '$table' does not exist — train " +
        "one (LangId.train) and persist it with LangId.saveModel(...)")
    val (df, meta) = store.readSnapshotWithMeta(table)
    val fn = meta.get(MetaFn)
    if (fn.isEmpty) throw new IllegalStateException(
      s"$caller: model table '$table' records no version (store properties) — " +
        "rewrite it with LangId.saveModel; routing on a model of unknown " +
        "provenance mislabels every language")
    require(fn.contains(FnVersion),
      s"$caller: model table '$table' was written by '${fn.get}' but this " +
        s"build serves '$FnVersion' — featurization/serving drift; retrain")
    def metaInt(key: String): Int = {
      val v = meta.getOrElse(key, throw new IllegalStateException(
        s"$caller: model table '$table' records no '$key' — geometry of " +
          "unknown provenance; rewrite it with LangId.saveModel"))
      try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalStateException(
          s"$caller: model table '$table' has non-numeric '$key'='$v'")
      }
    }
    val hexLen = metaInt(MetaHexLen)
    val n = metaInt(MetaN)
    val scale = metaInt(MetaScale)
    // featurization kind is geometry like hexLen/n (r20): absent or
    // unknown kinds are provenance failures, not defaults — a char-
    // trained artifact served with word grams routes garbage silently
    val featKind = meta.getOrElse(MetaFeat, throw new IllegalStateException(
      s"$caller: model table '$table' records no '$MetaFeat' — " +
        "featurization of unknown provenance; rewrite it with " +
        "LangId.saveModel"))
    requireFeatKind(featKind, s"$caller: model table '$table'")
    require(scale == ServingScale,
      s"$caller: model table '$table' assumes serving scale $scale but " +
        s"this build's integer arithmetic is $ServingScale-dp — scores " +
        "are not comparable; retrain/rewrite the artifact")
    QualityFilter.requireHexLen(hexLen)
    val dim = QualityFilter.bucketDim(hexLen)
    val metaLangs = meta.getOrElse(MetaLangs, throw new IllegalStateException(
      s"$caller: model table '$table' records no '$MetaLangs' — geometry " +
        "of unknown provenance; rewrite it with LangId.saveModel"))
      .split(",").toSeq
    // re-enforce train()'s invariant (review r19): a one-language
    // artifact routes 100% of rows to its single class — the argmax
    // is vacuous and the per-language gates downstream degenerate
    // silently, where every other drift in this loader fails loudly
    require(metaLangs.size >= 2,
      s"$caller: model table '$table' carries ${metaLangs.size} " +
        "language(s) — routing needs >= 2 classes; retrain (LangId.train " +
        "enforces the same bound)")
    val rows = df.select(col("lang"), col("icept"), col("w"))
      .collect() // |langs| rows — driver-bounded at any corpus size
      .map(r => (r.getString(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
      .sortBy(_._1)
    require(rows.map(_._1).toSeq == metaLangs.sorted,
      s"$caller: model table '$table' rows name languages " +
        s"[${rows.map(_._1).mkString(",")}] but its properties record " +
        s"[${metaLangs.mkString(",")}] — a partial overwrite or foreign " +
        "table; rewrite the artifact")
    rows.foreach { case (l, _, w) =>
      require(w.length == dim,
        s"$caller: model table '$table' row '$l' spans ${w.length} buckets " +
          s"but the recorded hexLen=$hexLen implies $dim — geometry drift; retrain")
    }
    Model(rows.map(_._1), rows.map(_._2), rows.map(_._3), hexLen, n,
      featKind)
  }

  /** A coefficient as its 12-dp scaled integer (HALF_UP, computed
    * ONCE on the driver) — the single rounding in the whole serving
    * path; every downstream sum on either engine is exact integer
    * arithmetic over these.
    */
  private[graft] def scaled(x: Double): Long =
    BigDecimal(x).setScale(ServingScale, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue().longValueExact()

  /** The boundedness claim, ENFORCED (review r18): the worst per-doc
    * score — every bucket present at the max-magnitude coefficient,
    * plus the max intercept — must fit a Long with 4× margin, or the
    * engine's wrapping Long sums would diverge from DuckDB's exact
    * HUGEINT sums precisely where the design claims they cannot.
    * Checked exactly in BigInt; a violating model (pathological
    * coefficients at hexLen 4) fails HERE, at serving-surface
    * construction, never as a silent wrong argmax.
    */
  private def requireScaledBounds(model: Model): Unit = {
    // a hand-constructed Model with hexLen >= 8 would silently wrap
    // the Int shift inside bucketDim (1 << 32 == 1) and size BOTH the
    // wide serving table and this bound check wrong (ADVICE r18) —
    // train() validates its own hexLen, so guard the serving surfaces
    // here, where every path (detect, scorer) already passes through
    QualityFilter.requireHexLen(model.hexLen)
    requireFeatKind(model.featKind, "LangId serving")
    val dim = QualityFilter.bucketDim(model.hexLen)
    val maxW = model.weights.iterator.flatten
      .foldLeft(0L)((m, w) => m.max(math.abs(scaled(w))))
    val maxI = model.intercepts
      .foldLeft(0L)((m, i) => m.max(math.abs(scaled(i))))
    val worst = BigInt(dim) * BigInt(maxW) + BigInt(maxI)
    require(worst <= BigInt(Long.MaxValue / 4),
      s"LangId: scaled-integer score bound $worst exceeds Long range / 4 " +
        s"(dim=$dim, max|w|·1e12=$maxW, max|icept|·1e12=$maxI) — integer " +
        "sums could wrap and silently disagree with the oracle; retrain " +
        "with stronger regularization or a smaller hexLen")
  }

  /** Coefficient table for dumping/serving: (lang, bk, w) — one row
    * per (language, bucket), bk zero-padded hex, w the 12-dp SCALED
    * INTEGER coefficient ([[scaled]]). Bounded at |langs| × 16^hexLen
    * rows (a broadcast at any corpus size).
    */
  def weightsTable(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    (for {
      (lang, li) <- model.langs.zipWithIndex
      (w, bi) <- model.weights(li).zipWithIndex
    } yield (lang, ("%0" + model.hexLen + "x").format(bi), scaled(w)))
      .toSeq.toDF("lang", "bk", "w")
  }

  /** Intercept table: (lang, icept) — icept 12-dp scaled integer. */
  def interceptsTable(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.langs.zip(model.intercepts.map(scaled))
      .toSeq.toDF("lang", "icept")
  }

  /** Relational routing: (id, detected) per document — explode the
    * distinct n-gram buckets (the model's OWN n and hexLen — feature
    * geometry rides with the artifact), broadcast-join the WIDE
    * coefficient table (one row per bucket, one column per language —
    * r18 perf: the long (lang, bk, w) join fanned every (doc, bucket)
    * row out |langs|× before the aggregate, 2.4× the wall of the
    * binary classifier's identical scan), ONE per-doc aggregate of
    * |langs| scaled-INTEGER sums, then a columnar argmax:
    * greatest(struct(score, lang)…) — struct ordering compares score
    * then lang, exactly the (score, lang)-descending tie-break of the
    * long form and the DuckDB replay (which keeps the long shape;
    * integer sums are order-independent, so the results are
    * identical). Documents with NO grams produce no
    * evidence and rout to 'und' (the heuristic's convention).
    * The aggregate is |langs| columns wide — bounded and fine for
    * any real language inventory; a thousands-of-classes model wants
    * the long shape back.
    */
  def detect(docs: DataFrame, model: Model, idCol: String,
      textCol: String): DataFrame = {
    requireScaledBounds(model)
    val spark = docs.sparkSession
    val dim = QualityFilter.bucketDim(model.hexLen)
    val li = model.langs.indices
    val wideRows = (0 until dim).map { b =>
      org.apache.spark.sql.Row.fromSeq(
        ("%0" + model.hexLen + "x").format(b) +:
          li.map(l => scaled(model.weights(l)(b))))
    }
    val wideSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("bk",
        org.apache.spark.sql.types.StringType, nullable = false) +:
        li.map(l => org.apache.spark.sql.types.StructField(s"__w$l",
          org.apache.spark.sql.types.LongType, nullable = false)))
    // LocalRelation, not parallelize (review r18): the rows already
    // live on the driver, and an RDD-backed frame schedules a 1-task
    // job just so the broadcast can collect them back
    val wide = spark.createDataFrame(
      java.util.Arrays.asList(wideRows: _*), wideSchema)
    val sums = featureBucketsOf(docs, idCol, textCol,
        model.n, model.hexLen, model.featKind)
      .join(broadcast(wide), Seq("bk"))
      .groupBy(col("id"))
      .agg(sum(col(s"__w${li.head}")).as(s"__z${li.head}"),
        li.tail.map(l => sum(col(s"__w$l")).as(s"__z$l")): _*)
    val best = sums.select(col("id"),
      greatest(li.map(l => struct(
        (col(s"__z$l") + lit(scaled(model.intercepts(l)))).as("score"),
        lit(model.langs(l)).as("lang"))): _*).as("__b"))
      .select(col("id"), col("__b.lang").as("detected"))
    docs.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id"), coalesce(col("detected"), lit("und")).as("detected"))
  }

  /** The model as a `Column => Column` scorer for
    * [[graft.functions.GraftFunctions.withDetectedLanguage]] — the
    * declared-scorer-swap slot. The coefficient table collapses into
    * the closure (|langs| × 16^hexLen doubles — broadcast-sized), and
    * the UDF reproduces [[detect]]'s arithmetic exactly (same
    * distinct-bucket features, same DECIMAL-rounded sums, same
    * (score, lang) tie-break), pinned by TextSpec. Per-row, so it
    * slots anywhere a column expression does; prefer [[detect]]'s
    * relational form when the plan can join instead.
    */
  def scorer(model: Model): Column => Column = {
    requireScaledBounds(model)
    val langs = model.langs
    // the SAME driver-side 12-dp scaling as detect/weightsTable —
    // serving arithmetic is pure integers on every path
    val weights = model.weights.map(_.map(scaled))
    val icepts = model.intercepts.map(scaled)
    val hexLen = model.hexLen
    val n = model.n
    val featKind = model.featKind
    // bucket = the first hexLen hex DIGITS of the md5 — computed
    // straight from the digest's nibbles (r20: the former per-byte
    // "%02x".format hex string measured ~4x the whole scorer's wall;
    // identical value to Integer.parseInt(hex.substring(0, hexLen),
    // 16) because hex digits ARE the digest nibbles in order)
    val nBytes = (hexLen + 1) / 2
    val shift = (2 * nBytes - hexLen) * 4
    val f = udf { (text: String) =>
      val grams =
        if (featKind == FeatChar) charNgramSetScala(text, n)
        else Dedup.ngramSetScala(text, n)
      if (grams.isEmpty) "und"
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val buckets = grams.map { g =>
          md.reset()
          val d = md.digest(g.getBytes("UTF-8"))
          var acc = 0
          var bi = 0
          while (bi < nBytes) { acc = (acc << 8) | (d(bi) & 0xFF); bi += 1 }
          acc >>> shift
        }.toArray.distinct
        var bestLang = ""
        var bestScore = Long.MinValue
        var first = true
        for (li <- langs.indices) {
          var z = icepts(li)
          buckets.foreach(b => z += weights(li)(b))
          if (first || z > bestScore ||
              (z == bestScore && langs(li) > bestLang)) {
            bestScore = z; bestLang = langs(li); first = false
          }
        }
        bestLang
      }
    }
    f(_)
  }
}
