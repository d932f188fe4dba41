package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text analysis operators for training-data pipelines: language ID,
 * quality scoring, token counting, and rolling-hash fingerprinting
 * (builder brief; absent from the reference, SURVEY §2.2).
 *
 * All pure column expressions — per-row, shuffle-free, codegen'd; at
 * 100 TB these run at scan speed and the only shuffles are the explicit
 * aggregations a caller adds on top.
 */
object TextAnalysis {

  /** Per-language stopword lists for the scoring heuristic (shared with
    * the generated DuckDB oracle — TextQueries). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "y", "es", "uno", "una", "en", "que", "por"))

  /** Langs scored by stopwords, in deterministic tie-break priority. */
  val scoredLangs: Seq[String] = Seq("en", "de", "fr", "es")

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Space-joined word n-grams of an array column — guarded with CASE
    * because `sequence(1, 0)` DESCENDS in Spark (the round-9 trap): a
    * doc shorter than n grams contributes an empty array, never a
    * reversed spine. */
  private[operators] def gramArray(tokArrayCol: String, n: Int): Column =
    expr(s"""case when size($tokArrayCol) >= $n then
        transform(sequence(1, size($tokArrayCol) - ${n - 1}),
          i -> array_join(slice($tokArrayCol, i, $n), ' '))
      else array() end""")

  /** [[gramArray]] straight off a text column (tokenize + n-gram in one
    * expression) — the public form callers without a pre-tokenized
    * frame use. */
  def wordGrams(textColName: String, n: Int): Column =
    gramArray(s"split(lower($textColName), '\\\\s+')", n)

  /** Multiset count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Count of CJK characters (Java regex unicode block). */
  def cjkChars(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))

  /**
   * Language prediction: CJK-ratio gate for zh, then argmax of stopword
   * hit counts with fixed priority (en > de > fr > es) on ties; "und" when
   * no stopword hits at all.
   */
  def predictedLang(text: Column): Column = {
    val toks = tokens(text)
    val scores = scoredLangs.map(l => l -> stopwordHits(toks, stopwords(l)))
    val m = greatest(scores.map(_._2): _*)
    val argmax = scores.init.foldRight(lit(scoredLangs.last)) { case ((l, s), els) =>
      when(s === m, lit(l)).otherwise(els)
    }
    when(cjkChars(text) > length(text) * 0.05, "zh")
      .when(m === 0, "und")
      .otherwise(argmax)
  }

  /** Count of chars matched by a (both-engine-compatible) char class. */
  def charClassCount(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, charClass, ""))

  /**
   * Per-document quality features + composite score: the standard
   * length / punctuation / stopword-ratio heature set used for corpus
   * filtering. Ratios are double divisions of integer counts —
   * bit-deterministic cross-engine.
   */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("toks", tokens(t))
      .withColumn("n_chars_m", length(t).cast(LongType))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("avg_token_len",
        (col("n_chars_m") - charClassCount(t, "\\s")).cast(DoubleType)
          / col("n_tokens").cast(DoubleType))
      .withColumn("punct_ratio",
        charClassCount(t, "[.,!?;:]").cast(DoubleType) / col("n_chars_m").cast(DoubleType))
      .withColumn("digit_ratio",
        charClassCount(t, "[0-9]").cast(DoubleType) / col("n_chars_m").cast(DoubleType))
      .withColumn("stopword_ratio",
        stopwordHits(col("toks"), stopwords("en")).cast(DoubleType)
          / col("n_tokens").cast(DoubleType))
      .withColumn("quality_score",
        lit(0.4) * col("stopword_ratio")
          + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.2) * when(col("n_tokens") >= 10, 1.0).otherwise(0.0)
          + lit(0.1) * (lit(1.0) - col("digit_ratio")))
      .drop("toks")
  }

  /** Whitespace token count (the trivial estimator). */
  def wsTokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** Canonical text normalization for dedup/digest purposes: ASCII
    * control characters (tabs/newlines included) become spaces, space
    * runs collapse to one, ends trim, case folds to lower. Both regex
    * steps use patterns with identical Java-regex/RE2 semantics (ASCII
    * classes only), so the generated DuckDB oracles replay the exact
    * transformation. Deliberately ASCII-scope: Unicode NFC/NFKC has no
    * cross-engine-identical SQL surface — a production corpus would
    * normalize encodings upstream at ingest. */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f]", " "), " +", " ")))

  /** BPE-ish wordpiece count: alnum runs are pieces, everything else
    * separates (the regex stand-in for a learned BPE vocab). */
  def wordpieceCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), p => length(p) > 0)).cast(LongType)

  /** chars/4 BPE token estimate (the usual budgeting rule of thumb). */
  def bpeEstimate(nChars: Column): Column =
    floor((nChars + lit(3)).cast(DoubleType) / lit(4.0)).cast(LongType)

  /**
   * Repetition / boilerplate metrics per document (the Gopher-rule
   * family): word n-gram multiset statistics — the fraction of the
   * document covered by its single most frequent n-gram, and the
   * duplicate-gram fraction (1 − distinct/total). Shape: explode grams →
   * one (doc, gram) count aggregate → one per-doc aggregate, both
   * map-side combined; only (doc_id, gram) pairs shuffle. Ratios are
   * integer-count divisions — bit-deterministic cross-engine.
   */
  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String,
      n: Int = 2): DataFrame = {
    val counts = df
      .select(col(idCol).as("doc_id"),
        explode(TextDedup.shingles(col(textCol), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("c")).as("top_gram_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        (col("top_gram_count").cast(DoubleType)
          / col("n_grams").cast(DoubleType)).as("top_gram_fraction"),
        (lit(1.0) - col("n_distinct_grams").cast(DoubleType)
          / col("n_grams").cast(DoubleType)).as("dup_gram_fraction"))
  }

  /** Rolling polynomial hash over characters: h = (h·31 + codepoint) mod P.
    * Strict left fold — identical in the DuckDB oracle. */
  val FingerprintMod = 1000000007L
  def rollingFingerprint(text: Column): Column = {
    val chars = filter(split(text, ""), c => length(c) > 0)
    when(size(chars) === 0, lit(0L))
      .otherwise(aggregate(chars, lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % FingerprintMod))
  }

  /**
   * BPE vocabulary-induction primitive: corpus-weighted adjacent
   * symbol-pair frequencies at the character stage — the statistic a BPE
   * trainer maximizes on every merge iteration. Words are ASCII-letter
   * runs (the q60 tokenizer, lowered AFTER splitting for cross-engine
   * casefold parity); word frequencies are aggregated FIRST so pair
   * explosion runs over the DISTINCT vocabulary, not the corpus — the
   * standard trainer rewrite (vocab ≪ corpus by orders of magnitude at
   * 100 TB), and why only (word, n) then (pair, n) rows ever shuffle.
   * Full BPE training is K sequential iterations of this primitive with
   * the winning pair merged into one symbol; this per-iteration statistic
   * is the part that must scale.
   */
  def bpePairFrequencies(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df
      .select(explode(split(col(textCol), "[^A-Za-z]+")).as("raw"))
      .filter(length(col("raw")) >= 2)
      .select(lower(col("raw")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
    // `word` sits behind the Aggregate boundary, so the pair expressions
    // below cannot be re-inlined into anything heavier than themselves
    vocab
      .select(col("n_word"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n_word")).as("n_pair"))
  }

  /** Fixed-point quality-classifier weights/threshold (milli-units). */
  val QcWeightStopword = 400L
  val QcWeightCleanliness = 300L
  val QcWeightLength = 300L
  val QcLengthSaturation = 200L
  val QcKeepThresholdMilli = 450L

  /**
   * Model-based corpus filtering — the fastText-style quality-classifier
   * stage of a pretraining pipeline, as a FIXED-POINT linear model so the
   * decision is bit-identical cross-engine (q70's hash gate): every
   * feature is a milli-scaled integer rational of exact counts
   * (stopword ratio, digit cleanliness, saturating length), the score one
   * integer dot product, the keep decision one threshold compare. The
   * float path (qualityFeatures' composite) stays for human inspection;
   * THIS is the one a 100 TB filter job gates on — pure per-row
   * projection, no shuffle, codegen-friendly integer ops.
   */
  /** Train a capped word-bigram "language model": the `topK` most
    * frequent bigrams (count desc, bigram asc — total order, so the K
    * boundary is deterministic cross-engine). `TakeOrderedAndProject`,
    * not a global sort: at any corpus size only K rows reach the driver
    * side of the plan. Occurrence counts (not distinct-per-doc): a
    * language model weights by frequency. Documents shorter than two
    * tokens have no bigrams and drop out here and in [[bigramUnseenScore]]
    * by the same `size ≥ 2` filter (which also guards Spark's descending
    * `sequence(1, 0)` corner inside the shingle transform). */
  def trainBigramLm(df: DataFrame, textCol: String, topK: Int): DataFrame =
    bigramStream(df.select(col(textCol).as("__text")), "__text")
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(topK)

  /** The shared bigram-occurrence stream: tokenize ONCE (the regex split
    * over multi-KB text is the dominant per-row cost — filtering on a
    * re-tokenized copy measured ~2× on the scoring scan), filter
    * single-token docs, emit one row per adjacent pair. The transform
    * body is byte-identical to TextDedup.shingles' n = 2 branch, so the
    * gram strings match the index/dedup family exactly. */
  private def bigramStream(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__t", tokens(col(textCol)))
      .where(size(col("__t")) >= 2)
      .select(df.columns.filter(_ != textCol).map(col) :+
        explode(expr(
          """transform(sequence(1, size(__t) - 1),
             i -> concat_ws(' ', slice(__t, i, 2)))""")).as("g"): _*)

  /**
   * Perplexity-proxy quality scoring against a trained bigram table —
   * the fluency filter of an LLM data pipeline without the cross-engine
   * `ln` lottery a real log-likelihood would lose: a document's score is
   * the ppm of its bigram OCCURRENCES not present in the top-K model
   * (gibberish, boilerplate-free rare phrasing, wrong-language text all
   * push it up). Exact integers end to end.
   *
   * The model is an argument, not retrained per call — the q90/q91
   * model-artifact discipline: train once ([[trainBigramLm]]), land the
   * K-row table, score any number of corpora against the stored copy.
   * Scale shape: the model is ≤ topK rows → broadcast hash join against
   * the exploded bigram stream; the only shuffle is the per-doc rollup.
   */
  def bigramUnseenScore(df: DataFrame, idCol: String, textCol: String,
      lm: DataFrame): DataFrame =
    bigramStream(df.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "__text")
      .join(broadcast(lm.select(col("g"), lit(1L).as("seen"))),
        Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        expr("(n_unseen * 1000000) div n_bigrams").as("unseen_ppm"))

  /**
   * Collocation mining by association lift — the phrase-detection step
   * of tokenizer/vocabulary construction ("new york", "machine
   * learning") scored WITHOUT log-PMI's cross-engine `ln` lottery: the
   * statistic is DEFINED as ⌊10⁶ · c_xy · N / (c_x · c_y)⌋ where c_xy
   * is the bigram's occurrence count, c_x/c_y the member words' token
   * counts and N the total token count over the same ≥2-token documents
   * (PMI's exponent, in exact ppm — rank-equivalent to PMI since log is
   * monotone). A lift ≫ 10⁶ means the pair co-occurs far above chance.
   *
   * `minCount` floors c_xy (lift of a hapax pair is noise); top-K by
   * (lift desc, bigram asc) — a total order, so the K boundary is
   * deterministic cross-engine.
   *
   * Scale shape: two counting aggregates over one tokenize pass family
   * (bigram stream + unigram stream), a vocabulary-keyed equi-join per
   * member word, and a 1-row total broadcast (the q71/q94 shape). The
   * lift product runs in DECIMAL(38,0): 10⁶·c_xy·N reaches 10³⁰ on a
   * 10¹²-token corpus — a long wraps at 9.2·10¹⁸.
   */
  def collocationLift(df: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    val bg = bigramStream(df.select(col(textCol).as("__text")), "__text")
      .groupBy("g").agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
    val words = df.withColumn("__t", tokens(col(textCol)))
      .where(size(col("__t")) >= 2)
      .select(explode(col("__t")).as("w"))
    val wc = words.groupBy("w").agg(count(lit(1)).as("c_w"))
    val totals = wc.agg(sum("c_w").cast("long").as("n_tokens"))
    bg
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(wc.select(col("w").as("w1"), col("c_w").as("c_x")), Seq("w1"))
      .join(wc.select(col("w").as("w2"), col("c_w").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("g"), col("c_xy"), col("c_x"), col("c_y"),
        expr("""cast((cast(c_xy as decimal(38,0)) * n_tokens * 1000000)
          div (cast(c_x as decimal(38,0)) * c_y) as bigint)""").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("g")).limit(topK)
  }

  def qualityClassify(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("toks", tokens(t))
      .withColumn("n_tokens", size(col("toks")).cast(LongType))
      .withColumn("sw_hits",
        stopwordHits(col("toks"), stopwords("en")).cast(LongType))
      .withColumn("digit_chars", charClassCount(t, "[0-9]").cast(LongType))
      .withColumn("n_chars", length(t).cast(LongType))
      .withColumn("sw_ratio_m",
        when(col("n_tokens") > 0, expr("(1000 * sw_hits) div n_tokens"))
          .otherwise(lit(0L)))
      .withColumn("clean_m",
        when(col("n_chars") > 0,
          lit(1000L) - expr("(1000 * digit_chars) div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("len_m",
        least(lit(1000L), expr(s"(1000 * n_tokens) div $QcLengthSaturation")))
      .withColumn("score_m",
        expr(s"($QcWeightStopword * sw_ratio_m + " +
          s"$QcWeightCleanliness * clean_m + " +
          s"$QcWeightLength * len_m) div 1000"))
      .withColumn("keep", col("score_m") >= QcKeepThresholdMilli)
      .drop("toks")
  }

  /**
   * Boilerplate-block detection — the CCNet/RefinedWeb cleaning step a
   * web corpus needs before any dedup or quality scoring: headers,
   * footers, cookie banners and navigation chrome repeat VERBATIM
   * across a source's documents, and counting them as content poisons
   * both the dedup signal (every page pairs with every page) and the
   * token statistics. A block (fixed `blockWords`-word aligned window;
   * the partial tail is content by definition — repetition can't be
   * established on a fragment) is boilerplate when it appears in ≥
   * `minDf` DISTINCT documents of the SAME source — within-source, not
   * global: two sources legitimately sharing a phrase is corpus
   * diversity, one source repeating its banner 10 000× is chrome.
   *
   * Emits per doc: total words, block counts, boilerplate block count,
   * boiler_ratio_ppm (of complete blocks), and clean_words (total
   * minus boilerplate words — what downstream token budgets should
   * see). Every occurrence of a flagged block is removed (a doc
   * repeating its own banner loses both copies).
   *
   * Scale shape: one explode to (doc, block-hash) rows — the md5 is
   * taken per block so only (source, 16-byte hash, doc) ever shuffles,
   * never block text (the q22/q23 hash discipline); document frequency
   * is a two-phase (src, hash) aggregate off a (doc, src, hash)
   * dedup; flags join back on the same (src, hash) key and the final
   * rollup is per doc. Three keyed shuffles, all map-side combined.
   */
  def boilerplateBlocks(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, blockWords: Int, minDf: Int): DataFrame = {
    require(blockWords >= 1 && minDf >= 2,
      s"need blockWords >= 1, minDf >= 2; got $blockWords/$minDf")
    val base = docs.select(col(idCol).as("doc"), col(srcCol).as("src"),
        split(col(textCol), " ").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_blocks",
        expr(s"cast(size(words) div $blockWords as long)"))
    val blocks = base
      .select(col("doc"), col("src"), col("n_words"), col("n_blocks"),
        // CASE guards the empty doc: Spark's sequence(0, -1) would
        // DESCEND, fabricating phantom blocks
        explode(expr(
          s"""CASE WHEN n_blocks > 0 THEN
                transform(sequence(0, cast(n_blocks as int) - 1),
                  i -> md5(concat_ws(' ',
                    slice(words, i * $blockWords + 1, $blockWords))))
              ELSE array() END"""))
          .as("h"))
    val flagged = blocks.select(col("src"), col("h"), col("doc"))
      .distinct()
      .groupBy(col("src"), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("src"), col("h"))
    blocks
      .join(flagged, Seq("src", "h"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_boiler"))
      .join(base.select(col("doc"), col("src"), col("n_words"),
        col("n_blocks")), Seq("doc"), "right")
      .select(col("doc"), col("src"), col("n_words"), col("n_blocks"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio_ppm",
        when(col("n_blocks") > 0,
          expr("(1000000L * n_boiler) div n_blocks")).otherwise(lit(0L)))
      .withColumn("clean_words",
        col("n_words") - col("n_boiler") * blockWords)
  }

  /**
   * Per-group Zipf-slope estimate — the rank-frequency naturalness
   * probe of a corpus: natural language follows freq ∝ rank^(−s) with
   * s ≈ 1 (slope_milli ≈ −1000 on the log-log line), while template-
   * generated, shuffled or vocabulary-truncated corpora flatten toward
   * 0 — the cheap aggregate signal that flags a SYNTHETIC or corrupted
   * source feed before any model sees it (and exactly what it reports
   * on this driver's uniform-vocabulary fixture; the spec proves the
   * discriminating direction on a constructed Zipfian corpus).
   *
   * Exactness: x = log2q20(rank), y = log2q20(freq) on the native
   * [[graft.functions.Log2Q20]] lattice; the least-squares slope
   * (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) runs in decimal(38,0) sums with
   * one truncating division (toward zero in BOTH engines — the
   * documented signed-div parity), emitted as slope_milli. Groups
   * with fewer than 2 ranked terms emit null (no line to fit).
   *
   * Scale shape: one token explode + two keyed aggregates; the ranked
   * window rides the same (group) exchange as the final rollup; only
   * (group, term, count) rows shuffle. `topK` bounds the fit to the
   * curve's head, where Zipf is defined and rank noise is lowest.
   */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 25, minTermLen: Int = 3): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Log2Q20
    import org.apache.spark.sql.graft.Bridge
    def lg(c: Column): Column =
      Bridge.column(Log2Q20(Bridge.expression(c.cast(LongType))))
    val D = DecimalType(38, 0)
    val tok = df.select(col(groupCol).as("g"),
        explode(split(col(textCol), "[^A-Za-z]+")).as("t"))
      .filter(length(col("t")) >= minTermLen)
      .select(col("g"), lower(col("t")).as("term"))
    val w = Window.partitionBy("g").orderBy(col("freq").desc, col("term"))
    val xy = tok.groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("g"), lg(col("rank")).as("x"), lg(col("freq")).as("y"))
    xy.groupBy(col("g"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
        sum(col("x").cast(D) * col("y").cast(D)).as("sxy"),
        sum(col("x").cast(D) * col("x").cast(D)).as("sxx"))
      .withColumn("slope_milli",
        when(col("n_terms") >= 2, expr(
          "cast((1000 * (n_terms * sxy - sx * sy)) div " +
            "(n_terms * sxx - sx * sx) as bigint)")))
      .select(col("g"), col("n_terms"), col("slope_milli"))
  }

  /**
   * Heaps'-law vocabulary-growth exponent — Zipf's (q194) companion
   * naturalness probe, reading the OTHER distributional law natural
   * text obeys: V(N) ≈ K·N^β with β ≈ 0.5–0.7 (new vocabulary keeps
   * arriving sublinearly forever), while templated/synthetic feeds
   * saturate (β → 0) and id-stuffed feeds go linear (β → 1). Terms are
   * word n-grams (`gramN`, default bigrams — a closed unigram
   * vocabulary saturates instantly and measures nothing; the gram
   * space keeps the growth regime observable). The growth curve is
   * sampled at `nCheckpoints` equal slices of the doc-order span:
   * every term's first-occurrence doc and every doc's gram count map
   * CLOSED-FORM to the smallest checkpoint containing them
   * (jmin = ⌈cp·(ord+1)/(mx+1)⌉ — pure integer arithmetic off a 1-row
   * bounds frame, no inequality join against the corpus), so V_j and
   * N_j are two tiny (group × checkpoint) aggregates with an ≤
   * checkpoint-squared prefix fan-out. The fit is q194's exact Q20
   * lattice regression of log₂V on log₂N; slope_milli ≈ 1000·β.
   *
   * Scale shape: one gram explode feeding two map-side-combined
   * aggregates (first-occurrence min, per-doc counts); everything
   * after is checkpoint-bounded. No window touches the corpus.
   */
  def heapsSlope(df: DataFrame, groupCol: String, ordCol: String,
      textCol: String, gramN: Int = 2, nCheckpoints: Int = 8): DataFrame = {
    require(gramN >= 1 && nCheckpoints >= 2)
    import org.apache.spark.sql.graft.Bridge
    import graft.functions.Log2Q20
    def lg(c: Column): Column =
      Bridge.column(Log2Q20(Bridge.expression(c.cast(LongType))))
    val D = DecimalType(38, 0)
    val cp = nCheckpoints
    val toks = df.select(col(groupCol).as("g"), col(ordCol).as("ord"),
      tokens(col(textCol)).as("t"))
    val grams = toks
      .select(col("g"), col("ord"), explode(gramArray("t", gramN)).as("b"))
    val bounds = df.agg(max(col(ordCol)).as("mx"))
    def jmin(ordName: String): Column =
      expr(s"($cp * ($ordName + 1) + mx) div (mx + 1)")
    // V: first-occurrence doc per term -> counts per smallest checkpoint
    val vadd = grams.groupBy(col("g"), col("b"))
      .agg(min(col("ord")).as("fo"))
      .crossJoin(broadcast(bounds))
      .select(col("g"), jmin("fo").as("jm"))
      .groupBy(col("g"), col("jm")).agg(count(lit(1)).as("c"))
    // N: per-doc gram count -> sums per smallest checkpoint
    val nadd = grams.groupBy(col("g"), col("ord"))
      .agg(count(lit(1)).as("tc"))
      .crossJoin(broadcast(bounds))
      .select(col("g"), jmin("ord").as("jm"), col("tc"))
      .groupBy(col("g"), col("jm")).agg(sum(col("tc")).as("c"))
    val spine = broadcast(df.sparkSession.range(1, cp + 1)
      .select(col("id").as("j")))
    def cum(add: DataFrame, out: String) =
      add.join(spine, col("jm") <= col("j"))
        .groupBy(col("g"), col("j")).agg(sum(col("c")).as(out))
    val xy = cum(vadd, "v").join(cum(nadd, "n"), Seq("g", "j"))
      .filter(col("v") > 0 && col("n") > 0)
      .select(col("g"), lg(col("n")).as("x"), lg(col("v")).as("y"))
    xy.groupBy(col("g"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
        sum(col("x").cast(D) * col("y").cast(D)).as("sxy"),
        sum(col("x").cast(D) * col("x").cast(D)).as("sxx"))
      .withColumn("heaps_milli",
        when(col("n_points") >= 2 &&
          expr("n_points * sxx - sx * sx") =!= 0, expr(
          "cast((1000 * (n_points * sxy - sx * sy)) div " +
            "(n_points * sxx - sx * sx) as bigint)")))
      .select(col("g"), col("n_points"), col("heaps_milli"))
  }

  /**
   * Class-TF-IDF distinctive terms (the BERTopic c-TF-IDF readout) —
   * "what does each class talk about that the corpus at large
   * doesn't": per class, terms ranked by tf_class · log2(1 + A/f_term)
   * where f is the CORPUS-wide term frequency and A the average class
   * token mass — a term owned by one class scores high, a ubiquitous
   * term collapses toward log2(1) regardless of tf. q60's raw
   * frequency top-terms can't separate "frequent here" from "frequent
   * everywhere"; this is the readout that can. Exact Q20 form:
   * w_q20 = tf_c · (log2_q20(f + A) − log2_q20(f)) with
   * A = ⌊total/|classes|⌋ — the defined integer lattice, hash-gated.
   *
   * Scale shape: one term explode into TWO map-side-combined
   * aggregates ((class, term) and (term)); the corpus-frequency join
   * runs on the term key (vocabulary-sized), the top-k window rides
   * the (class) partition of the vocab-bounded weight frame
   * (WindowGroupLimit prunes map-side), and the A scalar is a 1-row
   * broadcast. Nothing corpus-sized shuffles twice.
   */
  def classTfidfTopTerms(terms: DataFrame, classCol: String,
      termCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.Bridge
    import graft.functions.Log2Q20
    def lg(c: Column): Column =
      Bridge.column(Log2Q20(Bridge.expression(c.cast(LongType))))
    val tfc = terms
      .select(col(classCol).as("cls"), col(termCol).as("term"))
      .groupBy(col("cls"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ft = tfc.groupBy(col("term")).agg(sum(col("tf")).as("f"))
    val a = tfc
      .agg(sum(col("tf")).as("tt"), countDistinct(col("cls")).as("nc"))
      .select(expr("tt div nc").as("am"))
    val w = Window.partitionBy("cls")
      .orderBy(col("w_q20").desc, col("term"))
    tfc
      .join(ft, Seq("term"))
      .crossJoin(broadcast(a))
      .withColumn("w_q20",
        col("tf") * (lg(col("f") + col("am")) - lg(col("f"))))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= topK)
      .select(col("cls"), col("rnk"), col("term"), col("tf"),
        col("w_q20"))
  }

  /**
   * Hapax-legomena vocabulary profile — the third corpus-naturalness
   * probe beside Zipf (q194) and Heaps (q212), reading the vocabulary
   * frequency SPECTRUM per group: natural text keeps ~40–60% of its
   * vocabulary at frequency 1 (hapax) and ~10–15% at frequency 2
   * (dis legomena) at any size; a templated feed's spectrum collapses
   * (few rare types), a scraped-id feed inverts it (nearly all hapax).
   * Emits per group: token count N, vocabulary V, hapax/dis counts,
   * type-token ratio ppm, and hapax share of vocabulary ppm — exact
   * integers end to end.
   *
   * Scale shape: one term explode into a (group, term) count (the
   * counts-of-counts discipline of q106's skew profile, pointed at
   * terms), then one |vocab|-frame rollup. Nothing else shuffles.
   */
  def hapaxProfile(df: DataFrame, groupCol: String, textCol: String,
      gramN: Int = 1): DataFrame =
    // tokenize into a materialized column FIRST: gramArray references
    // its array three times and once per lambda element, so an inline
    // split would re-tokenize ~|tokens| times per row (measured 3×
    // slower via wordGrams at sf0.1)
    df.select(col(groupCol).as("g"), tokens(col(textCol)).as("__t"))
      .select(col("g"), explode(gramArray("__t", gramN)).as("term"))
      .groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
      .select(col("g"), col("n_tokens"), col("vocab"), col("hapax"),
        col("dis"),
        expr("(1000000 * vocab) div n_tokens").as("ttr_ppm"),
        expr("(1000000 * hapax) div vocab").as("hapax_share_ppm"))

  /**
   * Cross-source n-gram novelty — the corpus-curation acquisition
   * signal ("how much does source S add that reference R doesn't
   * already have?"): per source, the share of distinct word n-grams —
   * and of gram OCCURRENCES — absent from the reference source's gram
   * set. The distinct-type rate reads vocabulary novelty; the
   * occurrence-weighted rate reads how much of the source's actual
   * token mass is new (a source can be 50% novel by type but 2% by
   * mass when its novelty is a rare tail). The reference's own row
   * reads 0/0 — an in-result sanity anchor.
   *
   * Scale shape: one gram explode into a map-side-combined
   * (source, gram-hash) count — gram TEXT never shuffles, only the
   * 64-bit md5-prefix key ([[TextDedup.hash64]], the house join-key
   * discipline) — then a hash-keyed left join against the reference's
   * distinct gram hashes (both sides partition on the hash; the ref
   * side is vocabulary-sized, not corpus-sized) and a per-source
   * rollup. Nothing corpus-sized shuffles twice.
   */
  def gramNovelty(df: DataFrame, srcCol: String, textCol: String,
      refSource: String, gramN: Int = 2): DataFrame = {
    require(gramN >= 1)
    val grams = df.select(col(srcCol).as("src"),
        tokens(col(textCol)).as("t"))
      .select(col("src"), explode(gramArray("t", gramN)).as("b"))
      .select(col("src"), TextDedup.hash64(col("b")).as("gh"))
    val counts = grams.groupBy(col("src"), col("gh"))
      .agg(count(lit(1)).as("cnt"))
    val ref = counts.filter(col("src") === refSource)
      .select(col("gh"), lit(1L).as("seen"))
    counts
      .join(ref, Seq("gh"), "left")
      .withColumn("nov", when(col("seen").isNull, 1L).otherwise(0L))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("distinct_grams"),
        sum(col("nov")).as("novel_distinct"),
        sum(col("cnt")).as("occurrences"),
        sum(col("nov") * col("cnt")).as("novel_occurrences"))
      .select(col("src"), col("distinct_grams"), col("novel_distinct"),
        col("occurrences"), col("novel_occurrences"),
        expr("(1000000 * novel_distinct) div distinct_grams")
          .as("nov_distinct_ppm"),
        expr("(1000000 * novel_occurrences) div occurrences")
          .as("nov_occ_ppm"))
  }

  /** The shared trigram-occurrence stream (the [[bigramStream]]
    * discipline at n = 3): tokenize once, filter < 3-token docs, one
    * row per adjacent word triple with its backoff contexts already
    * split out — g3 = "a b c", g2p = "a b" (the rule-1 denominator
    * context), g2c = "b c" (the rule-2 gram), g1p = "b", g1c = "c". */
  private def trigramStream(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__t", tokens(col(textCol)))
      .where(size(col("__t")) >= 3)
      .select(df.columns.filter(_ != textCol).map(col) :+
        explode(expr(
          """transform(sequence(1, size(__t) - 2),
             i -> named_struct(
               'g3', concat_ws(' ', slice(__t, i, 3)),
               'g2p', concat_ws(' ', slice(__t, i, 2)),
               'g2c', concat_ws(' ', slice(__t, i + 1, 2)),
               'g1p', element_at(__t, i + 1),
               'g1c', element_at(__t, i + 2)))""")).as("__s"): _*)
      .select(col("*"), col("__s.g3"), col("__s.g2p"), col("__s.g2c"),
        col("__s.g1p"), col("__s.g1c"))
      .drop("__s")

  /**
   * Train the three-level stupid-backoff model — the CCNet-style
   * fluency filter's model artifact, one tall (level, g, cnt) table:
   * level 3 = top-K3 trigrams, level 2 = top-K2 bigrams, level 1 =
   * top-K1 unigrams (each by cnt desc, gram asc — a total order, exact
   * K boundaries cross-engine), plus the single (0, '', N) row holding
   * the total token count. Train once, land, score any corpus against
   * the stored copy (the q90/q91/q110 model-artifact discipline).
   */
  def trainBackoffLm(df: DataFrame, textCol: String, topK3: Int,
      topK2: Int, topK1: Int): DataFrame = {
    val base = df.select(col(textCol).as("__text"))
    val tri = trigramStream(base, "__text")
      .groupBy(col("g3").as("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(topK3)
      .select(lit(3).as("level"), col("g"), col("cnt"))
    val bi = bigramStream(base, "__text")
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g")).limit(topK2)
      .select(lit(2).as("level"), col("g"), col("cnt"))
    val words = base.withColumn("__t", tokens(col("__text")))
      .select(explode(col("__t")).as("g"))
    val uni = words.groupBy("g").agg(count(lit(1)).as("cnt"))
    val top1 = uni.orderBy(col("cnt").desc, col("g")).limit(topK1)
      .select(lit(1).as("level"), col("g"), col("cnt"))
    val total = uni.agg(sum(col("cnt")).cast("long").as("cnt"))
      .select(lit(0).as("level"), lit("").as("g"), col("cnt"))
    tri.unionByName(bi).unionByName(top1).unionByName(total)
  }

  /**
   * Stupid-backoff trigram scoring against a landed [[trainBackoffLm]]
   * model — the perplexity-proxy fluency score WITHOUT the
   * cross-engine `ln` lottery (the q110 discipline, one level deeper):
   * each trigram occurrence (a, b, c) scores on the exact ppm lattice
   *   rule 3: "a b c" ∈ LM₃ and "a b" ∈ LM₂ →
   *           ⌊10⁶·c₃(abc) / c₂(ab)⌋            (c₃ ≤ c₂ ⇒ ≤ 10⁶)
   *   rule 2: else "b c" ∈ LM₂ and "b" ∈ LM₁ →
   *           ⌊2·10⁶·c₂(bc) / (5·c₁(b))⌋        (backoff 0.4 as 2/5)
   *   rule 1: else "c" ∈ LM₁ → ⌊4·10⁶·c₁(c) / (25·N)⌋   (0.4²)
   *   rule 0: else 0                             (unseen tail)
   * — Brants et al.'s S(wᵢ|wᵢ₋₂wᵢ₋₁) with λ = 0.4, every division a
   * single integer floor, the backoff factor folded in as a rational.
   * A document's readout is the mean occurrence score plus the rule
   * mix (how much of the text needed backing off — the fluency
   * signal itself).
   *
   * Output: (doc, n_tri, mean_score_ppm, n_rule3, n_rule2, n_rule1,
   * n_unseen), one row per ≥3-token document.
   *
   * Scale shape: the model is ≤ K₃+K₂+K₁+1 rows → FIVE broadcast hash
   * joins against the exploded trigram stream (g3, both bigram roles,
   * both unigram roles — the stream never shuffles); the only exchange
   * is the per-doc rollup. N rides the broadcast level-0 row, never a
   * driver collect.
   */
  def backoffScore(df: DataFrame, idCol: String, textCol: String,
      lm: DataFrame): DataFrame = {
    val lm3 = lm.filter(col("level") === 3)
      .select(col("g").as("g3"), col("cnt").as("c3"))
    val lm2p = lm.filter(col("level") === 2)
      .select(col("g").as("g2p"), col("cnt").as("c2p"))
    val lm2c = lm.filter(col("level") === 2)
      .select(col("g").as("g2c"), col("cnt").as("c2c"))
    val lm1p = lm.filter(col("level") === 1)
      .select(col("g").as("g1p"), col("cnt").as("c1p"))
    val lm1c = lm.filter(col("level") === 1)
      .select(col("g").as("g1c"), col("cnt").as("c1c"))
    val n = lm.filter(col("level") === 0)
      .select(col("cnt").as("n_tok"))
    // r17 OPTIMIZATION (guide §2.5): the tokenize + trigram Generate +
    // five broadcast probes + partial rollup all run BEFORE the first
    // exchange, i.e. at the parquet split count (one task on a small
    // corpus file). Spread the scan to session parallelism first
    // (streaming inputs pass through untouched).
    trigramStream(ScanOps.spreadSmallInput(
        df.select(col(idCol).as("doc"), col(textCol).as("__text")),
        col("doc")), "__text")
      .join(broadcast(lm3), Seq("g3"), "left")
      .join(broadcast(lm2p), Seq("g2p"), "left")
      .join(broadcast(lm2c), Seq("g2c"), "left")
      .join(broadcast(lm1p), Seq("g1p"), "left")
      .join(broadcast(lm1c), Seq("g1c"), "left")
      .crossJoin(broadcast(n))
      .withColumn("rule",
        when(col("c3").isNotNull && col("c2p").isNotNull, 3)
          .when(col("c2c").isNotNull && col("c1p").isNotNull, 2)
          .when(col("c1c").isNotNull, 1)
          .otherwise(0))
      .withColumn("s_ppm",
        when(col("rule") === 3, expr("(1000000 * c3) div c2p"))
          .when(col("rule") === 2,
            expr("(2000000 * c2c) div (5 * c1p)"))
          .when(col("rule") === 1,
            expr("(4000000 * c1c) div (25 * n_tok)"))
          .otherwise(0L))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tri"),
        sum(col("s_ppm")).as("ssum"),
        sum(when(col("rule") === 3, 1L).otherwise(0L)).as("n_rule3"),
        sum(when(col("rule") === 2, 1L).otherwise(0L)).as("n_rule2"),
        sum(when(col("rule") === 1, 1L).otherwise(0L)).as("n_rule1"),
        sum(when(col("rule") === 0, 1L).otherwise(0L)).as("n_unseen"))
      .select(col("doc"), col("n_tri"),
        expr("ssum div n_tri").as("mean_score_ppm"),
        col("n_rule3"), col("n_rule2"), col("n_rule1"), col("n_unseen"))
  }

  /**
   * Perplexity-gated corpus filter — the CCNet-style quality gate
   * built on [[backoffScore]]: score every document against the
   * landed LM, find each source's lower-quartile fluency threshold
   * (counts-domain exact: the smallest score s with 4·cum(s) ≥ n —
   * the [[StatsOps.madScale]] rule at the 25th percentile), and keep
   * the documents at or above it. Per-source thresholds — not one
   * global line — because sources have different registers; a global
   * gate would silently empty the most idiosyncratic source (the
   * CCNet design point). Documents under 3 tokens never score and
   * are counted separately (n_docs − n_scored), not silently dropped —
   * and totals DRIVE the manifest, so a source whose every document
   * is short still emits its row (n_scored = 0, null threshold and
   * means) instead of vanishing from the report.
   *
   * Output, one row per source: (source, n_docs, n_scored, thr_ppm,
   * n_kept, kept_permille, mean_kept_ppm, mean_dropped_ppm) — the
   * kept/dropped means are emitted so the gate's separation is READ
   * (mean_kept > thr > mean_dropped), not assumed. Sources where
   * every scored doc ties at one score keep everything (cum rule) and
   * emit null mean_dropped.
   *
   * Scale shape: scoring is [[backoffScore]]'s broadcast-join pass
   * (one per-doc rollup is its only exchange); the quartile runs on
   * the (source, score) count frame — bounded by distinct scores, not
   * facts; the manifest is a source-grain rollup. Nothing here holds
   * per-doc state on the driver.
   */
  def perplexityGate(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, lm: DataFrame): DataFrame = {
    val docs = df.select(col(idCol).as("doc"),
      col(srcCol).as("source"), col(textCol).as("__text"))
    val sc = backoffScore(docs.select(col("doc"), col("__text")),
        "doc", "__text", lm)
      .join(docs.select(col("doc"), col("source")), Seq("doc"))
      .groupBy(col("source"), col("mean_score_ppm").as("s"))
      .agg(count(lit(1)).as("cnt"))
    val total = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    fluencyGateFromCounts(sc, total)
  }

  /**
   * The gate derivation of [[perplexityGate]] factored onto its STATE
   * representation — per-source (score, count) histograms plus
   * per-source document totals. Everything the gate
   * emits is a function of the counts: the quartile threshold (min s
   * with 4·cum ≥ n), kept/dropped tallies (Σcnt each side of thr) and
   * their means (Σs·cnt div Σcnt — decimal128, scores re-weight by
   * multiplicity exactly as per-doc rows would).
   *
   * Input: `sc` = (source, s, cnt) score histogram; `totals` =
   * (source, n_docs) arrival counts (shorts included). `totals` is
   * the DRIVING side of the final join: a source present in totals
   * but absent from the histogram (every document too short to
   * score) emits (source, n_docs, 0, null, 0, null, null, null)
   * rather than being dropped from the manifest. Output schema is
   * [[perplexityGate]]'s.
   */
  def fluencyGateFromCounts(sc: DataFrame,
      totals: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val wCum = Window.partitionBy("source").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy("source")
    val thr = sc
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wTot))
      .filter(col("cum") * 4 >= col("n"))
      .groupBy(col("source"))
      .agg(min(col("s")).as("thr_ppm"))
    val gated = sc
      .join(broadcast(thr), Seq("source"))
      .withColumn("keep", (col("s") >= col("thr_ppm")).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_scored"),
        max(col("thr_ppm")).as("thr_ppm"),
        sum(col("keep") * col("cnt")).as("n_kept"),
        sum(dec(col("keep") * col("cnt")) * col("s")).as("kept_sum"),
        sum(dec((lit(1L) - col("keep")) * col("cnt")) * col("s"))
          .as("drop_sum"))
    totals.join(gated, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("thr_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_scored") > 0,
          expr("(1000 * n_kept) div n_scored")).as("kept_permille"),
        when(col("n_kept") > 0,
          expr("cast(kept_sum div n_kept as bigint)")).as("mean_kept_ppm"),
        when(col("n_scored") > col("n_kept"),
          expr("cast(drop_sum div (n_scored - n_kept) as bigint)"))
          .as("mean_dropped_ppm"))
  }

  /**
   * DSIR-style importance selection (Xie et al., Data Selection with
   * Importance Resampling, restated on the engine's exact lattice):
   * given a TARGET language model (trained on the slice you want more
   * of) and a RAW model (trained on the whole corpus), each document's
   * importance weight is its target-vs-raw fluency ratio
   *   w_ppm = ⌊10⁶·(s_target + 1) / (s_raw + 1)⌋
   * (per-doc [[backoffScore]] means; +1 add-one smoothing keeps
   * unseen-everywhere docs defined at w ≈ 10⁶·1/1). The deterministic
   * counterpart of DSIR's resampling keeps the top quarter: the
   * global threshold is the smallest w with 4·cum(w) ≥ 3·n (the upper
   * quartile's lower edge, counts-domain exact), selection is
   * w ≥ thr. Output is per-doc — (doc, s_target_ppm, s_raw_ppm,
   * w_ppm, thr_ppm, sel) — so callers roll up by any dimension
   * (the q262 registry reads per-language selection rates: the
   * target-language docs should select at a multiple of the rest,
   * which is the whole point of importance weighting).
   *
   * Scale shape: two broadcast-LM scoring passes over the corpus; the
   * global quartile runs on the (w, count) distinct-weight frame via
   * the [[StatsOps.bucketPrefixOffsets]] discipline — weights bucket
   * by an exact width-division, the per-bucket count table gets
   * exclusive prefix offsets through a triangular broadcast join of a
   * ≤ nBuckets-row frame, and the cumulative runs inside
   * bucket-partitioned windows: NO single-partition window, matching
   * the repo-wide q171/q174 ban. The threshold and total ride 1-row
   * broadcasts. No per-doc driver state, no sort of the corpus.
   */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      lmTarget: DataFrame, lmRaw: DataFrame,
      nBuckets: Int = 256): DataFrame = {
    val docs = df.select(col(idCol).as("doc"), col(textCol).as("__text"))
    // r17 OPTIMIZATION (guide §1.2 — don't do two passes where one
    // suffices): both models score the SAME trigram occurrence stream,
    // and the tokenize + Generate dominates the scoring cost; one pass
    // probes both models' broadcast tables (ten left joins instead of
    // two× five) and rolls both sums up in a single per-doc aggregate.
    // Arithmetic per occurrence is byte-identical to two backoffScore
    // passes joined on doc (same rules, same lattice, and n_tri is the
    // same stream both ways), so the oracle is untouched.
    def lmSides(lm: DataFrame, sfx: String) = Seq(
      lm.filter(col("level") === 3)
        .select(col("g").as("g3"), col("cnt").as(s"c3$sfx")),
      lm.filter(col("level") === 2)
        .select(col("g").as("g2p"), col("cnt").as(s"c2p$sfx")),
      lm.filter(col("level") === 2)
        .select(col("g").as("g2c"), col("cnt").as(s"c2c$sfx")),
      lm.filter(col("level") === 1)
        .select(col("g").as("g1p"), col("cnt").as(s"c1p$sfx")),
      lm.filter(col("level") === 1)
        .select(col("g").as("g1c"), col("cnt").as(s"c1c$sfx")))
    def sPpm(sfx: String, nTok: String) =
      when(col(s"c3$sfx").isNotNull && col(s"c2p$sfx").isNotNull,
        expr(s"(1000000 * c3$sfx) div c2p$sfx"))
        .when(col(s"c2c$sfx").isNotNull && col(s"c1p$sfx").isNotNull,
          expr(s"(2000000 * c2c$sfx) div (5 * c1p$sfx)"))
        .when(col(s"c1c$sfx").isNotNull,
          expr(s"(4000000 * c1c$sfx) div (25 * $nTok)"))
        .otherwise(0L)
    val nT = lmTarget.filter(col("level") === 0)
      .select(col("cnt").as("n_tok_t"))
    val nR = lmRaw.filter(col("level") === 0)
      .select(col("cnt").as("n_tok_r"))
    val joinKeys = Seq("g3", "g2p", "g2c", "g1p", "g1c")
    val stream = (lmSides(lmTarget, "_t") ++ lmSides(lmRaw, "_r"))
      .zip(joinKeys ++ joinKeys)
      .foldLeft(trigramStream(ScanOps.spreadSmallInput(docs, col("doc")),
        "__text")) { case (acc, (side, key)) =>
        acc.join(broadcast(side), Seq(key), "left")
      }
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
    val w = stream
      .select(col("doc"), sPpm("_t", "n_tok_t").as("s_t"),
        sPpm("_r", "n_tok_r").as("s_r"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tri"), sum(col("s_t")).as("ssum_t"),
        sum(col("s_r")).as("ssum_r"))
      .select(col("doc"),
        expr("ssum_t div n_tri").as("s_target_ppm"),
        expr("ssum_r div n_tri").as("s_raw_ppm"))
      .withColumn("w_ppm", expr(
        "(1000000 * (s_target_ppm + 1)) div (s_raw_ppm + 1)"))
      .localCheckpoint(true)
    val wc = w.groupBy(col("w_ppm").as("wv"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val bounds = wc.agg(min(col("wv")).as("_mn"), max(col("wv")).as("_mx"),
      sum(col("cnt")).as("_n"))
    val bucketed = wc
      .crossJoin(broadcast(bounds))
      .withColumn("_bk",
        expr(s"(wv - _mn) div (((_mx - _mn) div $nBuckets) + 1)"))
    val bcnt = bucketed.groupBy(col("_bk"))
      .agg(sum(col("cnt")).as("_bn"))
    val off = bcnt
      .join(broadcast(bcnt.select(col("_bk").as("_bk2"),
          col("_bn").as("_bn2"))),
        col("_bk2") < col("_bk"), "left")
      .groupBy(col("_bk"))
      .agg(coalesce(sum(col("_bn2")), lit(0L)).as("_off"))
    val wIn = Window.partitionBy("_bk").orderBy("wv")
      .rowsBetween(Window.unboundedPreceding, 0)
    val thr = bucketed
      .join(broadcast(off), Seq("_bk"))
      .withColumn("cum", col("_off") + sum(col("cnt")).over(wIn))
      .filter(col("cum") * 4 >= col("_n") * 3)
      .agg(min(col("wv")).as("thr_ppm"))
    w.crossJoin(broadcast(thr))
      .select(col("doc"), col("s_target_ppm"), col("s_raw_ppm"),
        col("w_ppm"), col("thr_ppm"),
        (col("w_ppm") >= col("thr_ppm")).cast("int").as("sel"))
  }

  /**
   * Vocabulary richness / coverage ESTIMATOR panel — the three
   * classic what-haven't-we-seen readouts [[hapaxProfile]]'s raw
   * counts stop short of, per source, on the same whitespace-token
   * frequency frame:
   *  - Good–Turing missing mass P₀ = N₁/N in ppm — the probability
   *    the NEXT token drawn from this source is a never-seen type:
   *    the direct "has this source more to give" acquisition signal
   *    (coverage_ppm = 10⁶ − missing is its complement);
   *  - Chao1 richness V + N₁²/(2N₂) — the lower-bound estimate of
   *    the TRUE type count including unseen types (the bias-corrected
   *    V + N₁(N₁−1)/2 form when N₂ = 0, per Chao 1984), emitted with
   *    unseen_types_est = chao1 − V so the gap is read directly;
   *  - Yule's K = 10⁴·(Σf² − N)/N² (milli lattice: (10⁷·(S₂−N)) div
   *    N²) — vocabulary CONCENTRATION, length-invariant where raw TTR
   *    is not: a templated/boilerplate source reads high K at any
   *    sample size, the repetitiveness complement to the coverage
   *    estimators' novelty.
   * All integer-exact: N, V, N₁, N₂, S₂ are counts; every derived
   * stat is one flooring division on decimal128.
   *
   * Output: (g, n_tokens, v_types, n1_hapax, n2_dis,
   * missing_mass_ppm, coverage_ppm, chao1_est, unseen_types_est,
   * yule_k_milli).
   *
   * Scale shape: one token explode into a map-side-combined
   * (g, term) count, one per-source rollup — [[hapaxProfile]]'s
   * exact plan with a wider aggregate row. S₂ ≤ N·max f keeps
   * decimal128 at any corpus this engine targets.
   */
  def vocabRichness(df: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    df.select(col(groupCol).as("g"), tokens(col(textCol)).as("__t"))
      .select(col("g"), explode(col("__t")).as("term"))
      .groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("v_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2_dis"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      .select(col("g"), col("n_tokens"), col("v_types"),
        col("n1_hapax"), col("n2_dis"),
        expr("(1000000 * n1_hapax) div n_tokens").as("missing_mass_ppm"),
        (lit(1000000L) - expr("(1000000 * n1_hapax) div n_tokens"))
          .as("coverage_ppm"),
        when(col("n2_dis") > 0, expr(
          "v_types + (n1_hapax * n1_hapax) div (2 * n2_dis)"))
          .otherwise(expr(
            "v_types + (n1_hapax * (n1_hapax - 1)) div 2"))
          .as("chao1_est"),
        when(col("n2_dis") > 0, expr(
          "(n1_hapax * n1_hapax) div (2 * n2_dis)"))
          .otherwise(expr("(n1_hapax * (n1_hapax - 1)) div 2"))
          .as("unseen_types_est"),
        expr("""cast((10000000 * (s2 - n_tokens)) div
             (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)""")
          .as("yule_k_milli"))
}
