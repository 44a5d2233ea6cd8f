package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NativeFunctions, WindowMinima}

/** Text analysis for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring (length/punctuation/stopword
  * ratios), token counting (whitespace + BPE-ish regex), and document
  * fingerprinting (rolling hash winnowing). All per-row `functions._`
  * expressions — no UDFs, no shuffles; at 100 TB these run as a single
  * codegen'd projection over the corpus scan.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles (public common-word lists).
    * Deliberately small and hardcoded: the operator contract is a
    * deterministic heuristic, not a model.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "los"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que", "pour", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "他", "有", "这", "个"))

  private def words(text: Column): Column = split(lower(text), "\\s+")

  /** Per-language stopword hit ratio. */
  def langScore(text: Column, lang: String): Column = {
    val list = stopwords.toMap.apply(lang)
    size(filter(words(text), w => w.isInCollection(list))).cast("double") /
      greatest(size(words(text)), lit(1)).cast("double")
  }

  /** Predicted language: argmax of the stopword ratios, first-listed wins
    * ties (deterministic; "und" for unknown when all scores are 0).
    */
  def langId(text: Column): Column = {
    val scored = stopwords.map { case (l, _) => (l, langScore(text, l)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (l, s)) =>
      when(s > 0 && s === best, lit(l)).otherwise(acc)
    }
    pick
  }

  /** Quality metrics: char/word counts, mean word length, punctuation
    * ratio, English-stopword ratio, and a composite [0,1] score of the
    * classic Gopher/C4-style shape (length in range, low punct noise,
    * some stopwords).
    */
  def qualityMetrics(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nWords = size(split(t, "\\s+"))
    val avgWordLen = round((nChars - nWords + 1).cast("double") /
      greatest(nWords, lit(1)).cast("double"), 6)
    val punct = size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val punctRatio = round(punct.cast("double") / greatest(nChars, lit(1)).cast("double"), 6)
    val stopRatio = round(langScore(t, "en"), 6)
    val score = round(
      when(nWords >= 5 && nWords <= 10000, lit(0.4)).otherwise(lit(0.0)) +
        when(punctRatio <= 0.2, lit(0.3)).otherwise(lit(0.0)) +
        when(stopRatio >= 0.05, lit(0.3)).otherwise(lit(0.0)), 6)
    df.select(col(idCol), nChars.as("n_chars"), nWords.as("n_words"),
      avgWordLen.as("avg_word_len"), punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"), score.as("quality_score"))
  }

  /** Repetition metrics — the Gopher-style duplication filters that
    * [[qualityMetrics]] doesn't cover: a boilerplate or degenerate
    * document repeats itself, so the fraction of duplicated words, the
    * share of the most frequent word bigram, and the duplicated-bigram
    * fraction are the standard signals. Per-row higher-order expressions
    * over short word arrays — no shuffle, rides the scan like every
    * other text metric.
    */
  def repetitionMetrics(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // word and bigram arrays materialize as their own projections — the
    // downstream lambdas then index cheap attributes instead of
    // re-splitting the document per element (CollapseProject leaves
    // multi-referenced non-cheap projections alone, so this sticks).
    val withW = df.select(col(idCol), split(col(textCol), "\\s+").as("_w"))
    val withBg = withW.select(col(idCol), col("_w"),
      // guard: a single-word doc has NO bigrams (wordNgrams would emit
      // one truncated gram — shingle semantics, wrong here)
      when(size(col("_w")) >= 2, Dedup.wordNgrams(col("_w"), 2))
        .otherwise(array().cast("array<string>")).as("_bg"))
    val nWords = size(col("_w"))
    val nBg = size(col("_bg"))
    // top bigram count in one O(n log n) pass: sort, then fold run
    // lengths — not filter-per-distinct-bigram (quadratic in distincts)
    val topBgCount = aggregate(
      array_sort(col("_bg")),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    def ratio(num: Column, den: Column) =
      round(num.cast("double") / greatest(den, lit(1)).cast("double"), 6)
    withBg.select(col(idCol),
      nWords.as("n_words"),
      ratio(nWords - size(array_distinct(col("_w"))), nWords).as("dup_word_frac"),
      ratio(topBgCount, nBg).as("top_bigram_frac"),
      ratio(nBg - size(array_distinct(col("_bg"))), nBg).as("dup_bigram_frac"))
  }

  /** PII redaction: mask emails, dotted-quad IPs, and phone-shaped digit
    * runs with typed placeholders. Pure regexp_replace chain — codegen'd,
    * per-row, no shuffle; the regexes stay inside the RE2-compatible
    * subset so an external engine (or the DuckDB oracle) applies the
    * identical policy.
    */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d().-]{7,}\\d", "<PHONE>")
  }

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
    * marks — the standard byte-pair pre-split shape.
    */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCounts(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol),
      size(split(col(textCol), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(TokenPattern), lit(0))).as("bpe_tokens"))

  /** Corpus vocabulary: document frequency and total term frequency per
    * whitespace token. Two cascaded hash aggregations, both map-side
    * combinable: the first collapses each document's token stream to
    * (doc, token, tf) — so the shuffle payload is one row per distinct
    * doc-token, never the token stream — and the second reduces to one
    * row per token. Nothing document-sized enters an exchange.
    */
  def vocabulary(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("_id"), explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("_id", "token").agg(count(lit(1)).as("_tf"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"), sum("_tf").as("term_freq"))

  /** Unigram-LM quality proxy — the CCNet-style perplexity filter with an
    * honest corpus-frequency model instead of a trained LM: per document,
    * the mean corpus term frequency of its token occurrences and the
    * share of occurrences whose token appears in at most `rareDocsMax`
    * documents. Common-token documents score high (fluent or
    * boilerplate); rare-token-heavy documents score low (noise, OCR
    * garbage, wrong language) — the same decision axis a perplexity
    * filter provides, derived from corpus statistics alone.
    *
    * Exactness: both passes aggregate INTEGER occurrence counts, so every
    * sum is order-independent; the only double division happens once per
    * document at the end. Scale: the vocabulary is Zipf-bounded (≪
    * corpus) — AQE broadcasts it when it fits, and past the broadcast
    * threshold the join sort-merges on short token keys; either way the
    * aggregation keys are doc ids and nothing document-sized enters an
    * exchange.
    */
  def frequencyStats(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", rareDocsMax: Long = 1): DataFrame = {
    val vocab = vocabulary(df, textCol, idCol)
    val toks = df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    toks.join(vocab, "token")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("term_freq").as("sum_tf"),
        sum(when(col("doc_freq") <= rareDocsMax, 1L).otherwise(0L)).as("_n_rare"))
      .select(col(idCol), col("n_tokens"), col("sum_tf"),
        round(col("sum_tf").cast("double") / col("n_tokens").cast("double"), 6)
          .as("mean_tf"),
        round(col("_n_rare").cast("double") / col("n_tokens").cast("double"), 6)
          .as("rare_frac"))
  }

  /** Per-document top-k keywords by tf-idf. The idf is the RATIONAL form
    * (n_docs + 1) / (df + 1) rather than its logarithm: log is monotone,
    * so the per-document ranking is identical, and a log-free score is
    * bit-reproducible across engines (IEEE multiply/divide are exact
    * operations; libm logs differ in the last ulp), which lets the
    * DuckDB oracle hash-check the full ranking. The ranking window is
    * partitioned by document, so it scales horizontally; the corpus-level
    * document count joins in as a broadcast single-row aggregate (no
    * driver action).
    */
  def tfidfKeywords(df: DataFrame, k: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tf = df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * (col("n_docs") + 1.0) / (col("df") + 1.0), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** Unigram language-model perplexity scoring — the CCNet/KenLM-style
    * quality filter: train an add-one-smoothed unigram LM on the corpus
    * itself (token count / corpus total, vocabulary-smoothed), then
    * score every document by its mean per-token negative log-likelihood
    * and perplexity. Low-perplexity documents look like the corpus;
    * high-perplexity ones are outliers (boilerplate, noise, other
    * languages) — the classic "keep what looks like the reference
    * corpus" signal.
    *
    * Determinism across engines (FIXTURES.md §4): each distinct
    * (token, corpus-count) surprisal `ln((cnt+1)/(T+V))` is computed
    * once in double (both engines evaluate the identical double
    * division, ln agrees within 1 ulp), rounded to 6 decimals and cast
    * to DECIMAL — so the per-document sum is exact-decimal,
    * order-independent arithmetic, and only the final mean/exp is a
    * rounded double.
    *
    * Scale: token explode → (doc,token) count with map-side combine →
    * one token-keyed join against the vocabulary → doc aggregate. The
    * corpus totals join in as a broadcast single-row aggregate; no
    * driver action, no vector of state — at 100 TB the vocabulary join
    * is the only wide exchange.
    */
  def unigramPerplexity(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tc = df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val vocab = tc.groupBy("token").agg(sum("tf").cast("long").as("cnt"))
    val totals = vocab.agg(sum("cnt").cast("long").as("T"), count(lit(1)).as("V"))
    tc.join(vocab, "token")
      .crossJoin(broadcast(totals))
      .withColumn("l", round(log((col("cnt") + lit(1)).cast("double") /
        (col("T") + col("V")).cast("double")), 6).cast(DecimalType(18, 6)))
      .groupBy(col(idCol))
      .agg(
        sum("tf").cast("long").as("n_tokens"),
        sum(col("tf").cast(DecimalType(18, 6)) * col("l")).as("s"))
      .select(col(idCol), col("n_tokens"),
        round((-col("s")).cast("double") / col("n_tokens"), 6).as("avg_nll"),
        round(exp((-col("s")).cast("double") / col("n_tokens")), 3).as("ppl"))
  }

  /** Sparse TF-IDF cosine near-duplicate pairs — the SPARSE-vector
    * complement of the dense embedding ops ([[Similarity]]): documents
    * as tf·idf vectors over their own tokens, pairwise cosine computed
    * through an INVERTED-INDEX self-join (pairs meet only on shared
    * tokens — no all-pairs product, no dense vectors anywhere).
    * `maxDf` is the scale lever: tokens in more than `maxDf` documents
    * are dropped from the vector space (they carry ~zero idf signal
    * and quadratic posting lists), which caps every posting length and
    * bounds the join. Weights are rounded-then-DECIMAL
    * (`round(tf·ln((N+1)/(df+1)), 6)`), so dots and norms are exact
    * order-independent sums and the emitted cosines are
    * bit-reproducible. Output: (id_a, id_b, cos) for cosine ≥
    * `threshold`, id_a < id_b.
    */
  def sparseCosinePairs(df: DataFrame, threshold: Double,
      maxDf: Int = Int.MaxValue, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 6)
    val tf = df.select(col(idCol).as("id"),
        explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = df.agg(count(lit(1)).as("N"))
    val w = tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col("id"), col("token"),
        round(col("tf").cast("double") *
          log((col("N") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")), 6)
          .cast(dec).as("w"))
    val norms = w.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))
    val a = w.select(col("id").as("id_a"), col("token"), col("w").as("wa"))
    val b = w.select(col("id").as("id_b"), col("token"), col("w").as("wb"))
    a.join(b, Seq("token")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Interpolated BIGRAM language-model perplexity (Jelinek–Mercer
    * smoothing) — the KenLM-shaped upgrade of [[unigramPerplexity]]'s
    * CCNet filter: `p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·p_uni(w2)`
    * with the add-one unigram as the backoff, trained on the corpus
    * itself and scored per document as
    * `NLL = −[ln p_uni(t1) + Σ ln p(t_i|t_{i−1})] / n`. `c(w1·)` is the
    * history count (occurrences of w1 that have a successor), so the
    * bigram MLE is properly normalized.
    *
    * Distributed shape: bigram extraction is a scan-stage transform
    * over the word array (no document shuffles); the model is two
    * map-side-combinable count aggregates ((w1,w2) and its w1 rollup);
    * scoring joins per-doc bigram counts against the model on the
    * bigram key — the one wide exchange, same as the unigram twin.
    * Per-term logs are rounded then summed as exact DECIMALs, so doc
    * scores are bit-reproducible across engines and row orders.
    */
  def bigramPerplexity(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", lambda: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    val dec = DecimalType(18, 6)
    val toks = df.select(col(idCol),
        filter(split(col(textCol), "\\s+"), w => w =!= "").as("_w"))
      .filter(size_(col("_w")) > 0)
    val uni = toks.select(explode(col("_w")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = uni.agg(sum("cnt").cast("long").as("T"), count(lit(1)).as("V"))
    val uniP = uni.crossJoin(broadcast(totals))
      .select(col("token"), ((col("cnt") + lit(1)).cast("double") /
        (col("T") + col("V")).cast("double")).as("p_uni"))
    // per-doc bigram instance counts — adjacency built in the scan stage
    val bi = toks.filter(size_(col("_w")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size_(col("_w")) - 1),
        i => struct(element_at(col("_w"), i.cast("int")).as("w1"),
          element_at(col("_w"), (i + 1).cast("int")).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val c12 = bi.groupBy("w1", "w2").agg(sum("tf").cast("long").as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").cast("long").as("c1"))
    val biL = c12.join(c1, "w1")
      .join(uniP.withColumnRenamed("token", "w2"), "w2")
      .select(col("w1"), col("w2"),
        round(log(lit(lambda) * col("c12").cast("double") / col("c1").cast("double") +
          lit(1 - lambda) * col("p_uni")), 6).cast(dec).as("l"))
    val first = toks
      .select(col(idCol), element_at(col("_w"), 1).as("token"),
        size_(col("_w")).as("n"))
      .join(uniP, "token")
      .select(col(idCol), col("n"),
        round(log(col("p_uni")), 6).cast(dec).as("l1"))
    val biSum = bi.join(biL, Seq("w1", "w2"))
      .groupBy(col(idCol)).agg(sum(col("tf").cast(dec) * col("l")).as("sb"))
    first.join(biSum, Seq(idCol), "left_outer")
      .select(col(idCol), col("n").cast("long").as("n_tokens"),
        (col("l1") + coalesce(col("sb"), lit(0).cast(dec))).as("s"),
        col("n"))
      .select(col(idCol), col("n_tokens"),
        round((-col("s")).cast("double") / col("n"), 6).as("avg_nll"),
        round(exp((-col("s")).cast("double") / col("n")), 3).as("ppl"))
  }

  /** Multinomial Naive Bayes text classifier, trained and applied in
    * one distributed job — the fasttext-shaped quality/domain/language
    * classifier step of a curation pipeline (CCNet/Dolma both gate
    * documents on exactly this kind of linear model). Add-one
    * smoothing; whitespace tokens; tokens outside the training
    * vocabulary are skipped (standard OOV handling).
    *
    * Distributed shape, built for 100 TB: training is one
    * map-side-combinable (class, token) count over the train split —
    * no document ever shuffles, only token counts; the MODEL is a
    * dense (class × vocab) table of smoothed log-likelihoods — a
    * DataFrame, never a driver structure — capped at `vocabCap`
    * most-frequent tokens (deterministic ties by token) so its size is
    * bounded regardless of corpus scale; scoring joins the test
    * split's (doc, token) counts against the model on `token` (Catalyst
    * broadcasts the model when it is small) and folds per-(doc, class)
    * sums. Per-token log-likelihoods are rounded then summed as exact
    * DECIMALs (the [[unigramPerplexity]] recipe), so scores — and the
    * argmax — are bit-reproducible across engines and row orders; the
    * argmax breaks score ties toward the lexicographically smallest
    * class.
    *
    * Returns one row per test document: (idCol, pred, score) — the
    * winning class and its joint log-probability (rounded double). A
    * test document with no in-vocabulary token yields no row.
    */
  def naiveBayesClassify(train: DataFrame, test: DataFrame, labelCol: String,
      textCol: String = "text", idCol: String = "doc_id",
      vocabCap: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 6)
    val ct = train.select(col(labelCol).as("cls"),
        explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("cls", "token").agg(count(lit(1)).as("ctk"))
    // vocabulary cap: the top-`vocabCap` train tokens by total count
    // (ties by token asc) — TakeOrdered, no global sort materializes
    val vocab = ct.groupBy("token").agg(sum("ctk").cast("long").as("_tot"))
      .orderBy(col("_tot").desc, col("token"))
      .limit(vocabCap)
      .select("token")
    val ctCapped = ct.join(vocab, "token")
    val classTotals = ctCapped.groupBy("cls").agg(sum("ctk").cast("long").as("ctot"))
    val vsize = vocab.agg(count(lit(1)).as("V"))
    val nTrain = train.agg(count(lit(1)).as("N"))
    val prior = train.groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(nTrain))
      .select(col("cls"),
        round(log(col("n_docs").cast("double") / col("N").cast("double")), 6)
          .cast(dec).as("prior"))
    // dense model: EVERY (class, vocab token) pair — the smoothed
    // likelihood of a token a class never saw is (0+1)/(ctot+V), so the
    // zero-count rows are load-bearing, not padding
    val model = vocab.crossJoin(classTotals.crossJoin(broadcast(vsize)))
      .join(ctCapped, Seq("cls", "token"), "left_outer")
      .select(col("cls"), col("token"),
        round(log((coalesce(col("ctk"), lit(0L)) + lit(1)).cast("double") /
          (col("ctot") + col("V")).cast("double")), 6).cast(dec).as("l"))
    val testTokens = test.select(col(idCol),
        explode(split(col(textCol), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val scores = testTokens.join(model, "token")
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("tf").cast(dec) * col("l")).as("s"))
      .join(prior, "cls")
      .select(col(idCol), col("cls"), (col("prior") + col("s")).as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_score").desc, col("cls"))
    scores.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col(idCol), col("cls").as("pred"),
        round(col("_score").cast("double"), 6).as("score"))
  }

  /** Distributed LOGISTIC-REGRESSION quality classifier — the
    * fastText-style learned corpus filter (KenLM/fastText quality
    * classifiers in CCNet/GPT-3-style pipelines) trained ON the
    * cluster: `iters` full-batch gradient-descent steps, each ONE
    * map-side-combined aggregate producing a 5-term gradient, with
    * O(features) driver state per step. At 100 TB: `iters` passes over
    * a cached feature projection; no per-row driver work, no shuffle
    * beyond the partial-aggregate exchange.
    *
    * Features are the classic quality shape (length, word length,
    * punctuation noise, stopword density), each ROUNDED to the
    * 6-decimal grid; the per-row sigmoid is rounded to 6 decimals and
    * the gradient accumulates in DECIMAL(28,12) — exact and
    * order-independent — so training is reproducible bit-for-bit and a
    * SQL oracle can replay every iteration. Weight updates round to 9
    * decimals (`w' = round(w + lr·g/N, 9)`).
    *
    * Returns the TEST rows scored: (id, p, pred) with
    * `p = round(σ(w·x), 6)` and `pred = p > 0.5`.
    */
  def logisticQuality(train: DataFrame, test: DataFrame, label: Column,
      iters: Int = 3, lr: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      charsCol: String = "n_chars"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // residuals and features are 6-decimal values in [-1, 1]:
    // DECIMAL(8,6) holds them exactly, the product is an EXACT
    // DECIMAL(17,12) (no precision-loss rounding in either engine),
    // and the sum stays order-independent
    val fdec = DecimalType(8, 6)
    val enStops = stopwords.toMap.apply("en")
    def featurize(df: DataFrame, withLabel: Option[Column]): DataFrame = {
      val ws = filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")
      val nw = size(ws)
      val nc = col(charsCol).cast("double")
      val x1 = round(least(nw.cast("double"), lit(400.0)) / lit(400.0), 6)
      val x2 = round(
        least(nc / greatest(nw, lit(1)).cast("double"), lit(20.0)) / lit(20.0), 6)
      val punct = size(regexp_extract_all(col(textCol),
        lit("[^A-Za-z0-9\\s]"), lit(0)))
      val x3 = round(punct.cast("double") / greatest(nc, lit(1.0)), 6)
      val hits = size(filter(ws, w => w.isInCollection(enStops)))
      val x4 = round(hits.cast("double") / greatest(nw, lit(1)).cast("double"), 6)
      df.select(Seq(col(idCol), x1.as("x1"), x2.as("x2"), x3.as("x3"),
        x4.as("x4")) ++
        withLabel.map(l => when(l, 1.0).otherwise(0.0).as("y")): _*)
    }
    val feats = featurize(train, Some(label)).persist()
    try {
      val n = feats.count()
      require(n > 0, "logisticQuality needs a non-empty training set")
      var w = Array.fill(5)(0.0) // bias, x1..x4
      def z(ws: Array[Double]): Column =
        lit(ws(0)) + lit(ws(1)) * col("x1") + lit(ws(2)) * col("x2") +
          lit(ws(3)) * col("x3") + lit(ws(4)) * col("x4")
      def sigma(ws: Array[Double]): Column =
        round(lit(1.0) / (lit(1.0) + exp(-z(ws))), 6)
      for (_ <- 1 to iters) {
        val resid = (col("y") - sigma(w)).cast(fdec)
        val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"), col("x4"))
        val g = feats.agg(
          sum(resid * xs.head.cast(fdec)).as("g0"),
          xs.tail.zipWithIndex.map { case (x, i) =>
            sum(resid * x.cast(fdec)).as(s"g${i + 1}")
          }: _*).head()
        w = w.indices.map { k =>
          val gk = g.getDecimal(k).doubleValue()
          BigDecimal(w(k) + lr * gk / n)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toArray
      }
      featurize(test, None)
        .select(col(idCol), sigma(w).as("p"))
        .withColumn("pred", col("p") > 0.5)
    } finally feats.unpersist()
  }

  /** Fixed-size document chunking with overlap — the pretraining /
    * retrieval prep op: each document becomes ⌈max(n−size,0)/stride⌉+1
    * chunks of `size` words starting every `stride` words (the last
    * chunk is the tail remainder; a doc shorter than `size` yields one
    * chunk). Pure scan-stage explode — chunk rows inherit the scan's
    * partitioning, nothing shuffles.
    */
  def chunk(df: DataFrame, size: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    // the word array is materialized as an attribute — an expression
    // captured inside the transform lambda would re-split the document
    // once per chunk. sequence(0, X, stride) emits the stride multiples
    // ≤ X, so X = max(n−size, 0) + stride−1 lands the last start at
    // ⌈max(n−size,0)/stride⌉·stride — integer arithmetic only.
    val starts = sequence(lit(0),
      greatest(size_(col("_w")) - size, lit(0)) + lit(stride - 1), lit(stride))
    df.select(col(idCol), split(col(textCol), "\\s+").as("_w"))
      .select(col(idCol), posexplode(transform(starts,
        s => slice(col("_w"), s + 1, lit(size)))).as(Seq("chunk_idx", "_cw")))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("_cw"), " ").as("chunk"),
        size_(col("_cw")).as("n_words"))
  }

  // `size` the function, shadowed by `chunk`'s parameter
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Winnowing-style fingerprint: per-window minima over the word hash
    * sequence (codegen'd `window_minima`), keeping the minimum per window and
    * fingerprint = the k smallest distinct window minima. Two documents
    * sharing long runs share fingerprint elements.
    */
  def fingerprint(text: Column, window: Int = 4, k: Int = 8): Column =
    fingerprintFromHashes(transform(split(text, "\\s+"), s => xxhash64(s)), window, k)

  /** Fingerprint of a materialized word-hash array; on the hot path pass
    * an attribute so the per-window lambda doesn't re-hash the document.
    */
  def fingerprintFromHashes(hs: Column, window: Int = 4, k: Int = 8): Column =
    slice(array_sort(array_distinct(
      NativeFunctions.call(WindowMinima.FnName, hs, lit(window)))), 1, k)

  /** `wordHash` defaults to `xxhash64` (production); pass
    * [[Dedup.md5WordHash]] to make the identical windowing/minima/k-smallest
    * pipeline replayable by an external SQL engine.
    */
  def fingerprints(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      wordHash: Column => Column = w => xxhash64(w)): DataFrame = {
    df.select(col(idCol),
        transform(split(col(textCol), "\\s+"), wordHash).as("_h"))
      .select(col(idCol), fingerprintFromHashes(col("_h")).as("fingerprint"))
  }

  /** Winnowing over the raw word sequence — identical algorithm to
    * `fingerprint` but the per-window minimum is the lexicographically
    * smallest *word* instead of the smallest hash. Production uses the
    * hashed variant (uniform distribution); this one exists because every
    * step (windowing, minima, distinct, k-smallest) is expressible in
    * plain SQL on both engines, so the winnowing logic itself is
    * hash-checked against the DuckDB oracle rather than rows-only.
    */
  def fingerprintWords(text: Column, window: Int = 4, k: Int = 8): Column =
    slice(array_sort(array_distinct(NativeFunctions.call(
      WindowMinima.FnName, split(text, "\\s+"), lit(window)))), 1, k)
}
