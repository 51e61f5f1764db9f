package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines (SURVEY §2.5 E4):
  * token statistics, quality scoring, stopword-profile language ID, and
  * content fingerprinting.
  *
  * All per-row logic is codegen'd built-ins / higher-order functions —
  * one narrow projection over the scan, no UDFs, no shuffles except
  * where an aggregation is the point. At 100 TB each of these is a
  * map-only pass that pipelines with the parquet scan.
  */
object TextOps {

  def tokens(text: Column): Column = split(text, " ")

  /** Unicode normalization (UAX #15) via the codegen'd
    * [[graft.functions.UnicodeNormalize]] expression — the canonical
    * first pass before any fingerprint/tokenize stage, so visually
    * identical strings ("é" composed vs "e"+U+0301) hash identically. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    call_function("graft_unicode_norm", text, lit(form))

  /** BPE-ish subword count: word-piece tokens ≈ runs of letters, digits,
    * or single punctuation (the usual pre-tokenizer regex shape). */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[a-z0-9])(?=[^a-z0-9])|(?<=[^a-z0-9])(?=[a-z0-9])|\\s+"),
      t => length(t) > 0))

  /** BPE-ish pre-tokenizer class counts — letter runs, digit runs,
    * single other marks, and their total (the alternation
    * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` the DuckDB oracle restates).
    * ONE native byte pass ([[graft.functions.SubwordClasses]],
    * codegen'd) instead of four `regexp_extract_all` scans: at sf10 the
    * regex flavor was the suite's slowest text anchor (110 s — Java
    * regex ~5M chars/s/core × 4 scans); the fused pass counts at
    * memory speed. Counts are per CODEPOINT (identical on the native
    * pass, Java regex char classes, and the RE2 oracle — spec-pinned);
    * [[subwordClassesRegex]] keeps the regex formulation for the
    * property spec. Map-only. */
  def subwordClasses(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = call_function("graft_subword_classes", col(textCol))
    df.select(
      col(idCol),
      element_at(c, 1).as("n_subwords"),
      element_at(c, 2).as("n_alpha_runs"),
      element_at(c, 3).as("n_digit_runs"),
      element_at(c, 4).as("n_marks"))
  }

  /** The original 4-regex formulation of [[subwordClasses]] — kept as
    * the property-spec reference the native pass is checked against
    * (they agree on every string, astral codepoints included). */
  private[graft] def subwordClassesRegex(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast(LongType)
    df.select(
      col(idCol),
      cnt("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]").as("n_subwords"),
      cnt("[A-Za-z]+").as("n_alpha_runs"),
      cnt("[0-9]+").as("n_digit_runs"),
      cnt("[^A-Za-z0-9 ]").as("n_marks"))
  }

  /** Token statistics: counts, distinct types, mean token length. */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = tokens(col(textCol))
    df.select(
      col(idCol),
      size(tok).cast(LongType).as("n_tokens"),
      size(array_distinct(tok)).cast(LongType).as("n_types"),
      length(col(textCol)).cast(LongType).as("n_chars_calc"),
      // Σ token lengths ≡ length(text) − #separators for ANY text (split
      // segments partition the non-space characters), so the mean stays
      // exact integer arithmetic WITHOUT the aggregate HOF — a lambda
      // here kicks the whole projection out of whole-stage codegen
      ((length(col(textCol)) - (size(tok) - 1)).cast(DoubleType) /
        size(tok)).as("mean_token_len"))
  }

  /** Small public stopword profiles for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "dans", "pour"))

  /** Count of tokens equal to any of `words`. Kept as the filter
    * lambda over the split array: a boundary-anchored regex count over
    * the raw text is semantically identical but measured 2-4x SLOWER
    * (the lookbehind + 10-way alternation backtracks per character,
    * and the 4 language profiles each rescan the full text), while the
    * HOF's interpreted per-token equality over an already-split array
    * is cheap — codegen purity is not free performance. */
  private def hitCount(tok: Column, words: Seq[String]): Column =
    size(filter(tok, t => t.isin(words.map(lit(_)): _*)))

  // ---- shared signal definitions (langId / qualityScore / qualityFilter
  // all read THESE, so the three oracle-checked queries cannot drift) ----

  /** Argmax language over per-profile score columns (ties by language
    * code order, 'und' when no profile hits). */
  private def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, sc), acc) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  private def langScores(tok: Column): Seq[(String, Column)] =
    stopwords.keys.toSeq.sorted.map(l => l -> hitCount(tok, stopwords(l)))

  private def punctRatioCol(txt: Column): Column = {
    val nChars = length(txt).cast(DoubleType)
    (nChars - length(regexp_replace(txt, "[.,!?;:]", ""))).cast(DoubleType) / nChars
  }

  private def digitRatioCol(txt: Column): Column = {
    val nChars = length(txt).cast(DoubleType)
    (nChars - length(regexp_replace(txt, "[0-9]", ""))).cast(DoubleType) / nChars
  }

  private def stopRatioCol(tok: Column): Column =
    hitCount(tok, stopwords("en")).cast(DoubleType) / size(tok)

  // private[ext]: e26's keep-best selection reuses the exact e09 signal
  // rather than restating the formula (no drift between the two
  // oracle-checked queries)
  private[ext] def lengthScoreCol(tok: Column): Column =
    least(lit(1.0), size(tok).cast(DoubleType) / 100)

  /** Stopword-hit-rate language ID: score each profile, pick the argmax
    * (ties broken by language code order — deterministic). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = tokens(col(textCol))
    val scored = df.select(
      col(idCol) +: langScores(tok).map { case (l, sc) =>
        sc.cast(LongType).as(s"score_$l") }: _*)
    val guess = argmaxLang(
      stopwords.keys.toSeq.sorted.map(l => l -> col(s"score_$l")))
    scored.withColumn("lang_guess", guess)
  }

  /** Quality signals: punctuation/digit/stopword ratios + composite
    * score in [0,1] (heavier text with sane punctuation scores higher —
    * the usual pre-filter shape for LLM corpora). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    val tok = tokens(txt)
    df.select(
      col(idCol),
      length(txt).cast(DoubleType).as("n_chars_calc"),
      punctRatioCol(txt).as("punct_ratio"),
      digitRatioCol(txt).as("digit_ratio"),
      stopRatioCol(tok).as("stopword_ratio"),
      lengthScoreCol(tok).as("length_score"))
  }

  /** The canonical pre-training corpus filter: keep documents in the
    * target language whose quality signals clear the given floors — the
    * composition of [[langId]] and [[qualityScore]] a real pipeline runs
    * before tokenization, as ONE map-only projection (no join between
    * the two signal frames); the filter rides the scan. The token floor
    * gates on the raw token count (`minTokens` above 100 works; the
    * reported `length_score` saturates at 1.0 independently). */
  def qualityFilter(
      df: DataFrame, idCol: String, textCol: String,
      lang: String = "en", minTokens: Int = 20,
      maxPunctRatio: Double = 0.15, minStopwordRatio: Double = 0.01,
      keep: Seq[String] = Nil): DataFrame = {
    val txt = col(textCol)
    val tok = tokens(txt)
    df.select((Seq(col(idCol)) ++ keep.map(col) ++ Seq(
        argmaxLang(langScores(tok)).as("lang_guess"),
        punctRatioCol(txt).as("punct_ratio"), stopRatioCol(tok).as("stopword_ratio"),
        lengthScoreCol(tok).as("length_score"),
        size(tokens(txt)).as("__n_tokens"))): _*)
      .filter(col("lang_guess") === lang &&
        col("__n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio &&
        col("stopword_ratio") >= minStopwordRatio)
      .drop("__n_tokens")
  }

  /** Intra-document repetition signals — the Gopher-style duplicate
    * n-gram fractions a pre-training filter gates on (boilerplate and
    * looped generations repeat internally long before they collide with
    * other documents): per doc, the fraction of n-gram POSITIONS whose
    * n-gram already occurred earlier in the document (n = 2, 3), plus
    * the duplicate-token fraction. 0 = no internal repetition.
    *
    * Map-only: the native [[graft.functions.ShingleHashes]] multiset
    * (one 64-bit hash per position, whole stage stays codegen) sized
    * against its distinct form. Spark counts duplicate HASHES — an
    * xxhash64 collision (~2⁻⁶⁴ per pair) could over-count by one; the
    * DuckDB oracle builds the n-gram strings themselves and confirms. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def dupFrac(n: Int): Column = {
      val sh = call_function("graft_shingle_hashes", col(textCol), lit(n))
      (size(sh) - size(array_distinct(sh))).cast(DoubleType) / size(sh)
    }
    val tok = tokens(col(textCol))
    df.select(
      col(idCol),
      dupFrac(2).as("dup_2gram_ratio"),
      dupFrac(3).as("dup_3gram_ratio"),
      ((size(tok) - size(array_distinct(tok))).cast(DoubleType) / size(tok))
        .as("dup_token_ratio"))
  }

  /** Token-window chunking with overlap — the standard training-data
    * prep step between filtering and tokenization: split each document
    * into chunks of `chunkTokens` whitespace tokens, consecutive chunks
    * sharing `overlapTokens`. The final chunk absorbs the tail (it may
    * be shorter but always carries at least one new token, so no chunk
    * is pure overlap and every token lands in ≥1 chunk).
    *
    * Map-only — tokens + posexplode(sequence) + slice ride the scan, no
    * shuffle: at 100 TB chunking is a streaming pass like every other
    * TextOps projection, and the output explodes rows (not bytes: each
    * token is copied at most ⌈chunk/step⌉ ≈ 1+overlap/step times).
    * Pure integer position arithmetic → restatable by the SQL oracle.
    *
    * A document with fewer than `chunkTokens` tokens yields exactly one
    * chunk (empty text included: `split` yields a single empty token —
    * same convention both engines). */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64, overlapTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"chunk geometry out of range: chunk=$chunkTokens overlap=$overlapTokens")
    val step = chunkTokens - overlapTokens
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0),
          greatest(size(col("__toks")) - overlapTokens - 1, lit(0)), lit(step)))
          .as(Seq("chunk_id", "__start")))
      .select(
        col(idCol),
        col("chunk_id").cast(LongType),
        least(lit(chunkTokens), size(col("__toks")) - col("__start"))
          .cast(LongType).as("n_tokens"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Deterministic TF-IDF top-k search — the relevance-ranking /
    * corpus-query primitive (quality-aware retrieval, targeted corpus
    * slicing) as one declarative plan:
    *
    *  - `tf`: per-(doc, term) counts from one exploded scan — the
    *    inverted index, partitioned by its natural key;
    *  - `df` → integer idf weight `(N · idfScale) div df` per QUERY
    *    term only (floor division on int64: exact, order-independent,
    *    restatable by any SQL engine — the reason this flavor is
    *    hash-checkable where a float `ln(N/df)` would drift in the
    *    last ulp across engines);
    *  - score: Σ tf·w per doc, accumulated in DECIMAL(38,0) (exact at
    *    any corpus size; the declared output casts to long), ranked
    *    desc with doc_id tie-break, top-k via TakeOrdered.
    *
    * Scale shape — ONE exploded corpus scan: the token stream is
    * filtered to the query terms BEFORE the (doc, term) aggregate, and
    * both consumers (the per-term df aggregate and the scoring join)
    * sit on the identical subplan, so the exchange is computed once
    * and reused (plan-asserted in PlanSpec; an inner join against the
    * query-term weights restricts tf to those terms anyway, so the
    * early filter is a pure optimization). Weights join back BROADCAST
    * (|terms| rows). `N` (the idf numerator) is a `count(*)` over the
    * docs frame cross-joined broadcast into the weights side — column
    * pruning makes that a zero-data-column parquet scan, not a second
    * pass over the text. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, idfScale: Long = 1000000L): DataFrame = {
    require(terms.nonEmpty && k > 0 && idfScale > 0,
      s"tfidf geometry out of range: terms=${terms.size} k=$k scale=$idfScale")
    val tfQ = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val nDf = docs.agg(count(lit(1)).as("__n"))
    val weights = tfQ
      // df = count of (doc, term) rows; phrased over tf (≥ 1 by
      // construction, so the value is identical to count(*)) to keep
      // this branch's subplan bit-equal to the scoring side — column
      // pruning would otherwise rewrite it distinct-only and the
      // shared exchange could not be reused
      .groupBy(col("term")).agg(count(when(col("tf") >= 1, 1)).as("df"))
      .crossJoin(broadcast(nDf))
      .withColumn("w", expr(s"(__n * ${idfScale}L) div df"))
      .select(col("term"), col("w"))
    val scored = tfQ.join(broadcast(weights), "term")
      .groupBy(col(idCol))
      // widen BEFORE the multiply: w reaches N·idfScale when df=1, so
      // tf*w in LongType could wrap silently in non-ANSI mode at large N
      // — casting tf to decimal first keeps the whole accumulation
      // overflow-free (exact at any corpus size, as documented)
      .agg(sum(col("tf").cast(DecimalType(38, 0)) * col("w"))
        .cast(LongType).as("score"))
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("score").desc, col(idCol))).cast(LongType))
  }

  /** Unigram LM surprisal filter — the language-model quality gate of a
    * training pipeline (the CCNet-shaped perplexity filter, Wenzek et
    * al. 2019, reduced to the unigram model the corpus itself trains):
    * the corpus is its own LM (token → corpus count), every doc is
    * scored by total and mean token surprisal `-ln(c_t / T)`, and docs
    * whose mean surprisal exceeds the gate are flagged (gibberish and
    * boilerplate-free noise sit in the high-surprisal tail).
    *
    * Float discipline (the suite's rule): each token's surprisal is
    * floored to integer micro-nats — `floor(-ln(c/T)·1e6)` is three
    * correctly-rounded-or-1ulp ops on values fixed by the data, so both
    * engines land the same integer barring a ~1e-10 floor-boundary
    * coincidence — and every cross-row aggregate (`sum`, the integer
    * `div`) is exact and order-free. Surprisal is kept POSITIVE so the
    * integral division is floor==truncate on both engines.
    *
    * Shape: ONE exploded token scan feeds the vocab aggregate
    * (map-side-partial on the term); the count table joins back with an
    * adaptive strategy (AQE broadcasts real-corpus vocabularies after
    * the frequency floor; co-partitioned shuffle join when huge), and
    * the per-doc rollup shuffles compact (id, long) pairs. The 1-row
    * corpus total is the e30 broadcast-crossJoin pattern. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
      flagAboveMicro: Long, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"surprisal scale must be positive, got $scale")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("__t"))
    val weights = counts.crossJoin(broadcast(total))
      .withColumn("s_micro",
        floor(-log(col("c").cast(DoubleType) / col("__t")) * scale))
      .select(col("term"), col("s_micro"))
    tok.join(weights, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s_micro")).as("surprisal_micro"))
      .withColumn("avg_surprisal_micro",
        expr("surprisal_micro div n_tokens"))
      .withColumn("verdict",
        when(col("avg_surprisal_micro") > flagAboveMicro, lit("flag"))
          .otherwise(lit("keep")))
  }

  /** BM25 top-k retrieval — the standard lexical ranking function
    * (Robertson & Zaragoza 2009) the suite's e30 TF-IDF is the integer
    * precursor of; BM25 adds tf saturation (k1) and doc-length
    * normalization (b). Fixed at the canonical k1 = 1.2, b = 0.75,
    * which makes the whole score a ratio of INTEGERS: with
    * T = total corpus tokens, N = docs, dl = doc tokens,
    *
    *   tfNorm = tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/T))
    *          = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)
    *
    * (both sides scaled by 10·T), so each (doc, term) contribution is
    * `floor(idf_micro · num / den)` — one correctly-rounded double
    * division of two exactly-known integers, floored to micro units —
    * and the per-doc score is an exact BIGINT sum. idf_micro =
    * `floor(ln(1 + (N − df + ½)/(df + ½))·1e6)` (the Lucene-shaped
    * non-negative BM25 idf). No order-dependent float summation
    * anywhere, so the oracle restates it bit-for-bit.
    *
    * Shape mirrors [[tfidfTopK]]: the token stream filters to the query
    * terms BEFORE the (doc, term) aggregate; df and the scoring join
    * share that subplan; weights and the 1-row corpus totals broadcast;
    * per-doc lengths are a second narrow aggregate over the SAME
    * pre-filter token scan only when needed — here dl must count ALL
    * tokens, so lengths come from a map-side `size(split)` projection,
    * no extra exchange. Top-k is TakeOrderedAndProject. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, idfScale: Long = 1000000L): DataFrame = {
    require(terms.nonEmpty && k > 0 && idfScale > 0,
      s"bm25 geometry out of range: terms=${terms.size} k=$k scale=$idfScale")
    val toks = tokens(col(textCol))
    val withDl = docs.select(col(idCol),
      size(filter(toks, t => length(t) > 0)).cast(LongType).as("dl"),
      col(textCol))
    val tfQ = withDl.select(col(idCol), col("dl"),
        explode(toks).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    // corpus totals: N docs and T tokens — one zero-width scan for N,
    // one map-side length sum for T, broadcast as a single row
    val totals = docs
      .select(size(filter(toks, t => length(t) > 0)).cast(LongType).as("__dl"))
      .agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__t"))
    val weights = tfQ
      // df phrased over BOTH tf and dl (each ≥ its bound by
      // construction, so the value is count(*)): referencing dl keeps
      // this branch's subplan bit-equal to the scoring side — column
      // pruning would otherwise drop dl here, the two tfQ subtrees
      // would differ, and the token scan + its exchange would run twice
      // instead of reusing (the tfidfTopK device, extended to the
      // extra grouping column; ReusedExchange plan-asserted)
      .groupBy(col("term"))
      .agg(count(when(col("tf") >= 1 && col("dl") >= 0, 1)).as("df"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_micro",
        floor(log(lit(1.0) +
          (col("__n").cast(DoubleType) - col("df") + lit(0.5)) /
            (col("df").cast(DoubleType) + lit(0.5))) * idfScale))
      .select(col("term"), col("idf_micro"), col("__t"), col("__n"))
    val scored = tfQ.join(broadcast(weights), "term")
      // numerator split so the int64 factor stays small: idf·22·tf is
      // ≤ ~3e12 at any realistic idf/tf, then ONE widening multiply by
      // T in Double (both factors exact, product correctly rounded —
      // engine-identical). The fused int64 product idf·22·T·tf would
      // overflow past T ≈ 3e10 tokens — a few-TB corpus — and ANSI mode
      // turns that into a runtime error. The denominator stays int64
      // (exact to T·tf ≈ 9e17; document-bounded dl keeps 9·dl·N far
      // below) and widens once at the division.
      .withColumn("contrib",
        floor(
          (col("idf_micro") * lit(22L) * col("tf")).cast(DoubleType) *
            col("__t").cast(DoubleType) /
          (lit(10L) * col("__t") * col("tf") + lit(3L) * col("__t") +
            lit(9L) * col("dl") * col("__n")).cast(DoubleType)))
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("score_micro"))
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col("score_micro").desc, col(idCol)).limit(k)
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("score_micro").desc, col(idCol))).cast(LongType))
  }

  /** Corpus-frequency novelty score — the counts-based rarity signal
    * (inverse bigram frequency) quality pipelines use next to
    * [[repetitionStats]]: boilerplate scores near 0 (its bigrams occur
    * corpus-wide), novel text scores high. Per document:
    * `novelty = round(mean over bigram positions of (scale div cf), 4)`
    * where cf is the bigram's corpus occurrence count — integer floor
    * division keeps every contribution exact and engine-portable; the
    * single final division is one IEEE op (no order-dependent float
    * summation).
    *
    * Scale shape: the gram stream is the native codegen'd
    * [[graft.functions.ShingleHashes]] expression (one 64-bit hash per
    * bigram position, no string allocation — a transform/concat HOF
    * here kicks the projection out of whole-stage codegen and measured
    * 4× slower at sf0.1), the corpus counts are a map-side-partial
    * hash aggregate on those longs, and the count table joins back
    * with an ADAPTIVE strategy: AQE broadcasts it when the vocabulary
    * is small, co-partitioned shuffle join when it isn't. Counting by
    * hash equals counting by string barring an xxhash64 collision
    * (~2⁻⁶⁴ per pair) — same trade e24 declares, and the DuckDB oracle
    * counts the bigram STRINGS, so a collision would break the hash
    * compare rather than hide. A pathologically hot bigram is the
    * usual n-gram skew; its contribution is `scale div cf ≈ 0`, so a
    * production run can salt or drop ultra-hot grams without moving
    * scores — the declared query keeps the exact unbounded
    * semantics. */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"novelty scale must be positive, got $scale")
    val grams = docs
      .select(col(idCol),
        explode(call_function("graft_shingle_hashes", col(textCol), lit(2))).as("gram"))
    val cf = grams.groupBy(col("gram")).agg(count(lit(1)).as("cf"))
    grams.join(cf, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(s"${scale}L div cf")).as("__nv"))
      .select(col(idCol),
        col("n_bigrams").cast(LongType),
        round(col("__nv").cast(DoubleType) / col("n_bigrams"), 4).as("novelty"))
  }

  /** PII patterns, restricted to constructs Java regex and RE2 read
    * identically (character classes, bounded repeats, `\b` — no
    * lookaround), so an external engine can restate the scrub
    * verbatim. */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  final val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** PII scrub: redact email addresses, dotted-quad IPs and SSN-shaped
    * ids to typed placeholders, counting each class — the privacy pass
    * a public-corpus pipeline runs before training. Counts are taken on
    * the raw text, per pattern independently — a span matching two
    * classes (an SSN-shaped local part inside an email) counts once in
    * EACH, deterministically on both engines. Replacement order
    * (email → id → ip) is fixed so both engines chain identically (a
    * placeholder never creates a later match).
    * Map-only and codegen'd: three chained `regexp_replace` and
    * three `regexp_extract_all` counts ride one projection over the
    * scan — at 100 TB this pipelines with the parquet read, no shuffle,
    * no UDF. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast(LongType)
    df.select(
      col(idCol),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        EmailRe, "<EMAIL>"), SsnRe, "<ID>"), Ipv4Re, "<IP>").as("clean"),
      cnt(EmailRe).as("n_emails"),
      cnt(Ipv4Re).as("n_ips"),
      cnt(SsnRe).as("n_ids"))
  }

  /** Vocabulary builder: the tokenizer-training precursor — corpus term
    * counts with a frequency floor, the top `k` most frequent terms
    * (count desc, term asc — a total, engine-neutral order) assigned
    * dense token ids 0..k-1.
    *
    * Scale shape: one explode + one hash agg on the term, then top-k via
    * `orderBy.limit`, which Spark plans as TakeOrderedAndProject —
    * per-partition partial top-k merged once, NO global sort of the
    * term distribution (plan-asserted). The id-assignment window runs
    * on the k survivors only — k is the vocab size (bounded by design,
    * like the IVF centroid collects), so its single-partition exchange
    * carries k rows, never the corpus. */
  def vocabulary(df: DataFrame, textCol: String, minCount: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df.select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("term"))
      .limit(k)
    top.withColumn("token_id",
      row_number().over(Window.orderBy(col("n").desc, col("term"))).cast(LongType) - 1)
  }

  /** Tokenize against a built [[vocabulary]]: the corpus→ids step that
    * feeds training. Every token joins the vocab MAP-SIDE (`broadcast`
    * — the vocab is k rows, the corpus is the 100 TB side; no shuffle
    * of the exploded tokens for the lookup), out-of-vocabulary tokens
    * become -1, and each document's ids reassemble in position order.
    * The one shuffle is the per-document reassembly on the id key. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val toks = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
    toks.join(broadcast(vocab.select(col("term"), col("token_id"))), Seq("term"), "left")
      .select(col(idCol), col("pos"), coalesce(col("token_id"), lit(-1L)).as("tid"))
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
        x => x.getField("tid")).as("token_ids"))
  }

  /** BPE word front: word-TYPE counts with each type's symbol sequence
    * seeded at single characters. Words are e16's pre-tokenizer classes
    * (lowercased letter runs and digit runs — the alternation both Java
    * regex and RE2 read identically), so the symbol alphabet is clean
    * [a-z0-9] and the sequence separator (space) can never collide with
    * a symbol. ONE exchange (the term agg); the result is bounded by
    * the vocabulary of word TYPES, not the corpus — the standard reason
    * BPE training scales: every later round works on this table. */
  private[ext] def bpeWordFront(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+|[0-9]+"), lit(0))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .withColumn("seq",
        concat_ws(" ", filter(split(col("term"), ""), x => length(x) > 0)))

  /** One BPE round's pair distribution: adjacent symbol pairs of every
    * word type, weighted by the type's corpus count. The pair is
    * represented AS its space-joined text ("a b") — exactly the search
    * string [[bpeApplyMerge]] uses. ONE exchange (the pair agg); the
    * top-1 a caller takes from this is TakeOrderedAndProject, not a
    * global sort. */
  private[ext] def bpePairCounts(cur: DataFrame): DataFrame =
    cur.select(col("n"), split(col("seq"), " ").as("ws"))
      .select(col("n"), explode(transform(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        (x, i) => concat(x, lit(" "), element_at(col("ws"), i + lit(2))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).cast(LongType).as("cnt"))

  /** Apply one merge to every word type's symbol sequence — map-only.
    * Semantics: separator-padded plain-string replace, run twice.
    * `replace` scans leftmost-first, non-overlapping, continuing AFTER
    * each replacement in Spark and DuckDB alike, so the oracle restates
    * the application verbatim. The padding makes the pair match WHOLE
    * symbols only (a symbol ending in "a" can never match pair "a b");
    * the second pass catches occurrences whose leading space the
    * previous replacement consumed. Equivalent to the classic greedy
    * left-to-right scan for every pair with distinct symbols; for a
    * self-pair (a,a) inside an odd run it can differ from the classic
    * scan in which residual symbol is left unmerged — deterministic and
    * identical on both engines, which is the property that matters. */
  private[ext] def bpeApplyMerge(cur: DataFrame, pair: String): DataFrame = {
    val merged = pair.replace(" ", "")
    def rep(c: Column): Column =
      call_function("replace", c, lit(s" $pair "), lit(s" $merged "))
    cur.withColumn("seq",
      trim(rep(rep(concat(lit(" "), col("seq"), lit(" "))))))
  }

  final case class BpeMerge(round: Long, pair: String, merged: String, freq: Long)

  /** Distributed BPE merge training — the subword-tokenizer step above
    * [[vocabulary]]'s word level: `rounds` iterations of count-adjacent-
    * pairs → merge-the-top-pair over the word-type front, ties on the
    * pair text. Per round: ONE exchange (the pair agg, plan-asserted)
    * plus a single-row driver collect of the winner — the same bounded-
    * collect discipline as the IVF Lloyd passes. The front persists
    * across rounds (word types, not corpus rows); released before
    * returning. Returns the merge table (round, pair, merged, freq) —
    * the artifact a tokenizer ships. */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    val merges = bpeFit(df, textCol, rounds).merges
    import spark.implicits._
    merges.toDF("round", "pair", "merged", "freq")
  }

  /** A fitted BPE tokenizer: the merge table plus the subword-symbol
    * vocabulary (symbol → dense id by corpus count desc, symbol; ids
    * assigned over the FINAL front, weighted by word-type counts). Both
    * sides are BOUNDED — merges by `rounds`, symbols by the seed
    * alphabet (≤36 for the [a-z0-9] pre-tokenizer classes) plus one new
    * symbol per merge — so the model lives on the driver and encoding
    * is stateless: a map-only merge application plus one broadcast join
    * against ≤ alphabet+rounds rows. The persistence-free build/serve
    * split of the ANN index ([[Similarity]]), at tokenizer scale. */
  final case class BpeModel(merges: Seq[BpeMerge], symbols: Seq[(String, Long)])

  /** Train a [[BpeModel]]: [[bpeMerges]]' loop (one pair-count exchange
    * + a one-row collect per round, over the persisted word-TYPE front),
    * then the symbol vocabulary from the final front — a bounded
    * collect (≤ alphabet + rounds rows), the IVF-centroid discipline.
    * The front is released before returning; the model holds no cluster
    * state. */
  def bpeFit(df: DataFrame, textCol: String, rounds: Int): BpeModel = {
    require(rounds > 0, s"bpe rounds out of range: $rounds")
    val front = bpeWordFront(df, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val merges = Seq.newBuilder[BpeMerge]
      var cur = front
      var r = 1
      var dry = false
      while (r <= rounds && !dry) {
        val top = bpePairCounts(cur)
          .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
        if (top.isEmpty) dry = true // every word fully merged: nothing left
        else {
          val (p, c) = (top(0).getString(0), top(0).getLong(1))
          merges += BpeMerge(r.toLong, p, p.replace(" ", ""), c)
          cur = bpeApplyMerge(cur, p)
          r += 1
        }
      }
      val symbols = cur
        .select(col("n"), explode(split(col("seq"), " ")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("n")).cast(LongType).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"))
        .collect().map(r0 => (r0.getString(0), r0.getLong(1))).toSeq
      BpeModel(merges.result(), symbols)
    } finally { front.unpersist(blocking = false); () }
  }

  /** Encode the corpus with a fitted [[BpeModel]] — the serve path:
    * word occurrences keep their document position, each occurrence's
    * character seed runs the learned merges IN ORDER (map-only: the
    * bounded merge list folds into nested `replace` columns, no per-row
    * driver state), subwords take their dense ids through a broadcast
    * join against the ≤ alphabet+rounds symbol table, and documents
    * reassemble in (word, subword) position order — the ONE exchange.
    * Every input word is covered by construction when the model was
    * fitted on the same pre-tokenizer classes; a genuinely unseen
    * SYMBOL (model fitted elsewhere) drops its subword — feed the
    * training corpus through [[bpeFit]] on the same class regex.
    * Output: (id, token_ids array, n_subwords, n_words). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame =
    bpeEncode(df, Seq(idCol), textCol, model)

  /** [[bpeEncode]] over a COMPOSITE key (e.g. `(doc_id, chunk_id)` when
    * encoding chunked corpora) — same plan, grouped on all key
    * columns. */
  def bpeEncode(df: DataFrame, idCols: Seq[String], textCol: String,
      model: BpeModel): DataFrame = {
    require(idCols.nonEmpty, "bpeEncode needs at least one id column")
    val spark = df.sparkSession
    import spark.implicits._
    val symDf = broadcast(model.symbols.zipWithIndex
      .map { case ((s, _), i) => (s, i.toLong) }.toDF("sym", "sym_id"))
    // r21: the merge-chain application (2·rounds nested replaces per
    // word occurrence) is CPU-bound map work on the scan — fan a
    // sub-split corpus out to the cluster first (no-op at scale)
    val seeded = Adaptive.fanOutSmall(df)
      .select(idCols.map(col) :+
        posexplode(regexp_extract_all(lower(col(textCol)),
          lit("[a-z]+|[0-9]+"), lit(0))).as(Seq("pos", "term")): _*)
      .withColumn("seq",
        concat_ws(" ", filter(split(col("term"), ""), x => length(x) > 0)))
    val merged = model.merges.foldLeft(seeded)((d, m) => bpeApplyMerge(d, m.pair))
    merged
      .select(idCols.map(col) ++ Seq(col("pos"),
        posexplode(split(col("seq"), " ")).as(Seq("j", "sym"))): _*)
      .join(symDf, "sym")
      .groupBy(idCols.map(col): _*)
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("j"), col("sym_id")))),
          x => x.getField("sym_id")).as("token_ids"),
        count(lit(1)).cast(LongType).as("n_subwords"),
        count(when(col("j") === 0, 1)).cast(LongType).as("n_words"))
  }

  /** Decode subword ids back to text — the DETOKENIZATION half of the
    * tokenizer handoff (inspection, sample dumps, contamination spot
    * checks all read tokens back as text). Map-only + one broadcast
    * join against the bounded symbol table + the per-document
    * reassembly exchange — the exact mirror of [[bpeEncode]]'s plan.
    * The encoder flattens a document's subwords into one id array, so
    * decode reconstructs the NORMALIZED character stream (the
    * pre-tokenizer classes concatenated in order); word segmentation
    * rides separately in `n_words` where a caller needs it.
    * Round-trip contract (declared e99 hash-checks it): for a model
    * fitted on the same pre-tokenizer classes,
    * `decode(encode(text)) == concat(classes(lower(text)))` — subword
    * ids are lossless. Documents with zero pre-tokenizer matches have
    * no encoded row to decode (same as [[bpeEncode]]).
    * Output: idCols ++ (text_rt). */
  def bpeDecode(df: DataFrame, idCols: Seq[String], tokensCol: String,
      model: BpeModel): DataFrame = {
    require(idCols.nonEmpty, "bpeDecode needs at least one id column")
    val spark = df.sparkSession
    import spark.implicits._
    val symDf = broadcast(model.symbols.zipWithIndex
      .map { case ((s, _), i) => (i.toLong, s) }.toDF("sym_id", "sym"))
    df.select(idCols.map(col) :+
        posexplode(col(tokensCol)).as(Seq("j", "sym_id")): _*)
      .join(symDf, "sym_id")
      .groupBy(idCols.map(col): _*)
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("j"), col("sym")))),
          x => x.getField("sym"))).as("text_rt"))
  }

  /** Content fingerprint: md5 of the case-folded text — the exact-dup
    * key for E1 at scale (hash once, group by 16 bytes, never by the
    * full text). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol).cast(BinaryType)).as("fp"),
      length(col(textCol)).cast(LongType).as("n_chars_calc"))

  /** Sequence packing — the step between chunking ([[chunk]]) and the
    * trainer: group chunks into fixed token-budget training sequences
    * so batch assembly wastes no padding. This is the deterministic,
    * shuffle-bounded flavor real pipelines run at scale:
    *
    *  - chunks are first scattered across `buckets` independent packing
    *    streams by a portable hash of the document id — packing
    *    parallelism is `buckets`, and each bucket's running total is
    *    ONE window partition (no global sort, no single-partition
    *    cumsum: the classic scale-killer of naive packing);
    *  - within a bucket, chunks pack GREEDY-SEQUENTIALLY in
    *    (doc, chunk) order: `seq_id = tokens_before div budget`.
    *    A chunk crossing the boundary stays with its earlier sequence
    *    (bounded overflow of at most one chunk — the standard
    *    chunk-boundary convention; callers wanting hard caps size
    *    `chunkTokens ≤ budget` so overflow ≤ chunkTokens).
    *
    * Every step is integer arithmetic over a portable hash, so the SQL
    * oracle restates packing exactly (e39). First-fit-decreasing would
    * pack marginally tighter but is inherently sequential — the greedy
    * bucket-stream shape is what parallelizes to 100 TB. */
  def packSequences(chunks: DataFrame, docCol: String, chunkCol: String,
      tokenCol: String, budget: Int, buckets: Int = 64,
      keep: Seq[String] = Nil): DataFrame = {
    require(budget > 0 && buckets > 0,
      s"packing geometry out of range: budget=$budget buckets=$buckets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col(docCol), col(chunkCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    chunks
      .withColumn("bucket",
        pmod(Dedup.portableHash64(col(docCol).cast(StringType)), lit(buckets))
          .cast(IntegerType))
      .withColumn("__before", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"__before div $budget").cast(LongType))
      .select((Seq(col(docCol), col(chunkCol), col("bucket"), col("seq_id"),
        col(tokenCol)) ++ keep.map(col)): _*)
  }

  /** FEATURE HASHING (the HashingVectorizer / hashing-trick shape):
    * tokens hash into a fixed `dim`-bucket feature space, term
    * frequency per (doc, bucket) — the vocabulary-free featurizer for
    * linear models and similarity over unbounded token spaces. No
    * vocabulary state exists at all, so the operator is one pass at
    * any corpus size and features are stable across shards and reruns
    * by construction (the property that makes the trick the standard
    * at-scale featurizer).
    *
    * Buckets come from [[Dedup.portableHash64]] (engine-neutral md5
    * bridge, positive, so `pmod` ≡ SQL `%`). The only exchange carries
    * `(doc_id, bucket, count)` triples with map-side combine — never
    * tokens. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "TextOps.featureHash: dim must be positive")
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("bucket", pmod(Dedup.portableHash64(col("tok")), lit(dim.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }
}
