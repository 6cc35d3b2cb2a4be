package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language ID, fingerprinting.
  *
  * All operators are pure `Column` expressions (whole-stage codegen'd, no
  * UDFs) so they scale linearly over a 100 TB `documents` table: a single
  * narrow map stage, no shuffle, pushdown-friendly.
  */
object TextAnalysis {

  /** Whitespace-delimited tokens (lowercased). `\S+` rather than
    * `split(' ')` so runs of whitespace / leading blanks don't produce
    * empty tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\S+"), lit(0))

  /** Token count without materializing the token array twice. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small + public-knowledge word lists. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "por", "con"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "que", "pour", "dans", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"))

  /** Exact-phrase occurrence count per document — the in-memory twin
    * of [[LexIndex.phraseTopKIndexed]] (same shift-to-start
    * set-intersection over token positions, derived from the text
    * instead of stored position lists). Emits only matching docs. */
  def phraseMatches(docs: DataFrame, id: Column, text: Column,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val ph = phrase.zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("term", "off")
    docs.select(id.as("doc_id"),
        posexplode(tokens(text)).as(Seq("pos", "term")))
      .join(broadcast(ph), Seq("term"))
      .select(col("doc_id"), (col("pos") - col("off")).as("start"),
        col("off"))
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_off"))
      .filter(col("n_off") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Count of tokens belonging to `words` — a codegen'd array filter,
    * no explode, no shuffle. */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, t)))
  }

  /** Language-ID: argmax of per-language stopword hit counts with a
    * deterministic first-wins tiebreak in `stopwords` order; "und"
    * (undetermined) when no list scores a hit. */
  def languageId(text: Column): Column = {
    val toks = tokens(text)
    val scores = stopwords.map { case (lang, words) =>
      lang -> stopwordHits(toks, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // when-chain: first matching language wins ties (stable stopwords order)
    scores.foldLeft(when(best <= 0, lit("und"))) {
      case (acc, (lang, sc)) => acc.when(sc === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Ratio of punctuation chars to total chars (0 for empty text). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
        length(text).cast("double"))

  /** English-stopword token ratio — a standard fluency proxy. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      stopwordHits(toks, stopwords.head._2).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: rewards stopword density and
    * length, penalizes punctuation soup. Weights are the operator's
    * contract — the DuckDB oracle replicates them verbatim. Floor-scaled
    * (not rounded) to 4 decimals: see [[Num.floor4]]. */
  def qualityScore(text: Column): Column =
    Num.floor4(
      lit(0.4) * stopwordRatio(text) +
        lit(0.3) * (lit(1.0) - punctRatio(text)) +
        lit(0.3) * least(tokenCount(text).cast("double") / lit(100.0), lit(1.0)))

  /** Strip HTML/XML markup: remove comments, then script/style blocks
    * with their contents, then remaining tags, then decode the five
    * predefined XML entities, then collapse whitespace runs. A regex
    * pass, not a parser — the standard first-cut web-text cleanup (a
    * full parser belongs in a [[Multimodal]]-style codec seam). Plain
    * `regexp_replace` chain: codegen'd, narrow, and reproducible in any
    * engine with the same patterns (ASCII classes only). */
  def stripMarkup(text: Column): Column = {
    val noComment = regexp_replace(text, "<!--.*?-->", " ")
    val noBlock = regexp_replace(noComment,
      "(?i)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTag = regexp_replace(noBlock, "<[^>]+>", " ")
    val decoded = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'").foldLeft(noTag) {
      case (c, (ent, ch)) => regexp_replace(c, ent, ch)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Encoding-damage flags: U+FFFD replacement chars (decode failures)
    * and C0/C1 control chars (mojibake debris) per document — the
    * cheap pre-filter that catches broken charset conversions before
    * they poison a training mix. Counts, not booleans, so thresholds
    * stay a caller policy. */
  def encodingFlags(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"),
      size(regexp_extract_all(text, lit("�"), lit(0)))
        .cast("long").as("n_replacement"),
      size(regexp_extract_all(text,
        lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"), lit(0)))
        .cast("long").as("n_control"))

  /** Content fingerprint: md5 over case- and whitespace-normalized text.
    * The exact-dedup key for `documents`. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** BPE-ish subword segmentation: the GPT-2-style pre-tokenizer pattern
    * (contractions | space+letter-run | space+digit-run | space+symbol-run
    * | whitespace-run), restricted to ASCII classes so Java regex and
    * RE2 (DuckDB) agree. The resulting count approximates LLM token
    * counts without a vocabulary — the standard budget estimator for
    * training-data pipelines. */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Winnowing signature (Schleimer et al.): the minimum shingle hash
    * per window of `w` consecutive shingles; documents sharing any
    * selected fingerprint are near-dup candidates. One native codegen'd
    * expression ([[graft.functions.ShingleWinnow]]) does tokenhash →
    * shingle combine → sliding min → dedup in a primitive loop — a
    * 100 TB corpus winnows in one narrow map stage with NO shuffle; the
    * only wide op is whatever the caller does with the fingerprints
    * (e.g. the candidate equi-join). */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
      k: Int = 5, w: Int = 4): DataFrame =
    docs.select(id.as("doc_id"), explode(
      graft.functions.ShingleWinnow.winnow(tokens(text), k, w)).as("fp"))

  /** Gopher-style repetition + symbol heuristics (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1 — public filtering rules for web-scale
    * training corpora): duplicate-token fraction, most-frequent-token
    * dominance, and symbol-to-char ratio. The per-token counts take ONE
    * shuffle on doc_id (map-side combined); everything else is a narrow
    * codegen'd projection, so the pass scales like any token-stats scan.
    * Ratios floor to 4 decimals ([[Num.floor4]]) for cross-engine
    * stability; token-less docs report 0 ratios. */
  def repetitionStats(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("_text"))
    val counts = base
      .select(col("doc_id"), explode(tokens(col("_text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"), max(col("c")).as("max_c"))
    val n = size(tokens(col("_text"))).cast("long")
    base.join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(n > 0, Num.floor4(lit(1.0) -
            coalesce(col("n_distinct"), lit(0L)).cast("double") /
              n.cast("double")))
          .otherwise(lit(0.0)).as("dup_ratio"),
        when(n > 0, Num.floor4(
            coalesce(col("max_c"), lit(0L)).cast("double") / n.cast("double")))
          .otherwise(lit(0.0)).as("top_share"),
        when(length(col("_text")) > 0, Num.floor4(
            length(regexp_replace(col("_text"), "[^#@~^|]", ""))
              .cast("double") / length(col("_text")).cast("double")))
          .otherwise(lit(0.0)).as("symbol_ratio"))
  }

  /** PII detection flags: counts of email / phone / SSN-shaped spans per
    * document plus an aggregate boolean — the training-data twin of the
    * reference's PHI-header rejection (validate.py HIPAA list), applied
    * to content instead of column names. Patterns are RE2-compatible
    * (no backreferences/lookaround) so Java regex and DuckDB/RE2 agree;
    * pure narrow projection, codegen'd, no shuffle. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
  val ssnPattern = "\\d{3}-\\d{2}-\\d{4}"

  def piiFlags(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("doc_id"),
      size(regexp_extract_all(text, lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(text, lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(text, lit(ssnPattern), lit(0)))
        .cast("long").as("n_ssns"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ssns") > 0)

  /** PII span REDACTION — the scrub that follows [[piiFlags]]'s detect:
    * email / phone / SSN spans are replaced in sequence with typed
    * placeholders (`<EMAIL>`, `<PHONE>`, `<SSN>`), per-type match counts
    * reported alongside (counted on the ORIGINAL text — occurrences, not
    * replacement events, so the numbers are order-independent and an
    * external engine reproduces them without replaying the replacement
    * chain). Same RE2-compatible patterns as [[piiFlags]]; pure narrow
    * codegen'd projection, no shuffle — at 100 TB this is a map-only
    * pass fused into whatever scan precedes it. */
  def piiRedact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(text,
        lit(emailPattern), lit("<EMAIL>")),
        lit(phonePattern), lit("<PHONE>")),
        lit(ssnPattern), lit("<SSN>")).as("text_redacted"),
      size(regexp_extract_all(text, lit(emailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(text, lit(phonePattern), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(text, lit(ssnPattern), lit(0)))
        .cast("long").as("n_ssns"))

  /** Within-document repeated-line removal — the boilerplate scrub
    * (nav bars, cookie banners, repeated headers) that web-pipeline
    * curation applies BEFORE cross-document dedup, so a page's own
    * chrome doesn't dominate its fingerprint. Keeps the FIRST occurrence
    * of each exact line, preserving order (`array_distinct` is
    * first-occurrence-stable, and the oracle reproduces that via
    * min-position grouping). Reports the original line count and how
    * many lines were dropped. Pure narrow codegen'd projection —
    * split / distinct / rejoin per row, no shuffle, fuses into the
    * preceding scan at 100 TB. */
  def dedupLines(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = split(text, "\n")
    val kept = array_distinct(lines)
    docs.select(id.as("doc_id"),
      array_join(kept, "\n").as("clean"),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(kept)).cast("long").as("n_dup_lines"))
  }

  /** Per-document OUT-OF-VOCABULARY rate against the corpus's own
    * top-`vocabSize` token vocabulary — the tokenizer-coverage check
    * that catches domains a fixed vocabulary would shred into bytes.
    * Vocabulary selection is deterministic (count desc, token asc);
    * the vocabulary is broadcast (it's `vocabSize` rows by
    * construction), so the scoring pass is one corpus-keyed
    * aggregation — no corpus shuffle for the join. */
  def oovRate(docs: DataFrame, id: Column, text: Column,
      vocabSize: Int): DataFrame = {
    val toks = docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(vocabSize)
      .select(col("w").as("_vw"))
    toks.join(broadcast(vocab), col("w") === col("_vw"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_vw").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", Num.floor4(
        col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /** ENGINE-PORTABLE winnowing fingerprints — the md5 twin of
    * [[winnowFingerprints]] (whose xxhash64 rolling hashes no external
    * engine reproduces; same portable-twin move as the qd24/qd51
    * sketches). `k`-token shingles hash to the first unsigned-32 slice
    * of md5("wf:" + shingle); each complete window of `w` consecutive
    * shingles selects its minimum-hash shingle (leftmost on hash ties);
    * selections dedup to the document's fingerprint set.
    *
    * Runs the NATIVE single-pass expression
    * ([[graft.functions.ShingleWinnowMd5]]): one md5 per shingle inside
    * one narrow codegen'd map stage — no shuffle at all (the composed
    * window form this replaces shuffled every token on the doc id and
    * ran k lead() chains + two window passes). Output is byte-identical
    * to [[winnowFingerprintsComposed]] (spec-pinned) and to the DuckDB
    * oracle's window-SQL derivation. */
  def winnowFingerprintsPortable(docs: DataFrame, id: Column,
      text: Column, k: Int = 4, w: Int = 5): DataFrame =
    docs.select(id.as("doc_id"), explode(
        graft.functions.ShingleWinnowMd5.winnow(tokens(text), k, w))
        .as("mk"))
      .select(col("doc_id"), expr("mk div 1048576").as("fp"),
        (col("mk") % lit(1048576L)).as("pos"))

  /** The window-algebra COMPOSED form of [[winnowFingerprintsPortable]]
    * — `k`-token shingles via a lead() chain, the argmin encoded as one
    * integer key `h·2^20 + pos` so a plain window `min` is exact on any
    * engine (positions must stay under 2^20 tokens per document, ample
    * for chunked corpora), all window algebra over (doc, pos) with one
    * shuffle on the doc id. Kept as the executable specification the
    * native expression is byte-equality-pinned against (and as the
    * shape an external SQL engine would run). */
  private[graft] def winnowFingerprintsComposed(docs: DataFrame, id: Column,
      text: Column, k: Int = 4, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs.select(id.as("doc_id"),
      posexplode(tokens(text)).as(Seq("pos", "tok")))
    val sh = toks
      .withColumn("shingle", concat_ws(" ",
        (0 until k).map(j =>
          if (j == 0) col("tok") else lead(col("tok"), j).over(wd)): _*))
      .withColumn("_last", lead(col("tok"), k - 1).over(wd))
      .filter(col("_last").isNotNull)
      .withColumn("h", conv(substring(md5(concat(lit("wf:"),
        col("shingle"))), 1, 8), 16, 10).cast("long"))
    sh
      .withColumn("_full", lead(col("pos"), w - 1).over(wd).isNotNull)
      .withColumn("mk", min(col("h") * lit(1048576L) + col("pos"))
        .over(wd.rowsBetween(0, w - 1)))
      .filter(col("_full"))
      .select(col("doc_id"), expr("mk div 1048576").as("fp"),
        (col("mk") % lit(1048576L)).as("pos"))
      .distinct()
  }

  /** Top-k characteristic terms per document by TF-IDF. One (doc, token)
    * count pass (map-side combined), document frequency derived from the
    * SAME frame (one row per (doc, token) already), a broadcast join of
    * the tiny token-df side, then a doc-partitioned window for the top-k
    * — every wide op keys on doc_id or token, nothing global. `nDocs` is
    * taken as a parameter (the caller usually knows it; counting here
    * would force an extra action). Scores floor to 4 decimals and ties
    * break on the term so ranks are stable across engines. */
  def tfidfTopTerms(docs: DataFrame, id: Column, text: Column,
      nDocs: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df_), "w")
      .withColumn("score", Num.floor4(col("tf").cast("double") *
        log(lit(nDocs.toDouble) / col("df").cast("double"))))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w"))
    scored.withColumn("rank", row_number().over(byDoc).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("w"), col("tf"), col("df"),
        col("score"))
  }

  /** Unigram negative-log-likelihood: the perplexity-proxy quality
    * signal — rare-token-heavy (gibberish, boilerplate-free) documents
    * score high, stopword soup scores low. Two passes: (1) corpus
    * unigram counts — one hash aggregation on the token, map-side
    * combined; (2) per-token -ln(c/N) joined back and summed per doc.
    * The vocabulary side of the join is millions of rows at worst (heaps
    * smaller than the corpus) — Catalyst/AQE broadcasts it when it fits
    * and falls back to sort-merge when it doesn't, so no hint is pinned.
    * Each term floors to 1e-4 units (long) BEFORE the per-doc sum, so
    * the result is exact integer math — independent of partitioning and
    * engine (the float-sum discipline every oracle query here follows).
    * Docs with zero tokens have no likelihood and are omitted. */
  def unigramNll(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totalDf = counts.agg(sum(col("c")).as("n_total"))
    toks.join(counts, "w")
      .crossJoin(broadcast(totalDf))
      .select(col("doc_id"),
        floor(-log(col("c").cast("double") / col("n_total").cast("double"))
          * lit(10000.0)).cast("long").as("t_e4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("t_e4")).as("nll_sum_e4"))
  }

  /** Corpus-wide adjacent character-pair frequencies — the candidate
    * table for the first BPE merge (tokenizer training's inner loop).
    * Pairs stay inside the row (one `transform` over the token's char
    * positions) until a single explode feeds ONE hash aggregation —
    * map-side combined, so each partition emits at most |alphabet|²
    * rows no matter how many tokens it read. The top-k rank runs over
    * the already-aggregated pair table (≤ |alphabet|² rows — dim-sized
    * by construction) after a distributed orderBy().limit(). */
  def charPairCounts(docs: DataFrame, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = docs
      .select(explode(tokens(text)).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
    val counts = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
    // rank over the k-row result only (post-limit, driver-sized)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("pair")))
        .cast("long"))
  }

  /** Per-document stats frame: the §2-style profile of a text column. */
  def textStats(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(
      id.as("doc_id"),
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      round(punctRatio(text), 4).as("punct_ratio"),
      qualityScore(text).as("quality"),
      languageId(text).as("lang_pred"),
      fingerprint(text).as("fp"))

  /** Boilerplate pruning — the C4-style "remove duplicated lines from
    * every document" pass at k-token passage granularity: any k-shingle
    * whose document frequency exceeds `maxDocFreq` is boilerplate, and
    * every token it covers is removed from every document (surviving
    * tokens keep their order). Detection's sibling is
    * [[graft.ops.Dedup.sharedPassages]]; this one REWRITES the corpus.
    *
    * Scale shape: shingles are built in-row (one `transform`, no
    * cross-row state); the df aggregation is one map-side-combined
    * shuffle; the hot list is df-bounded boilerplate (small by
    * construction — it is the content repeated across >maxDocFreq docs)
    * so it broadcasts; and the rewrite is a per-document regroup — one
    * shuffle on doc_id. Nothing is quadratic, unlike pair emission.
    *
    * Output: (doc_id, text_pruned, n_kept, n_removed); a fully-pruned
    * document survives with empty text, never disappears. */
  def prunePassages(docs: DataFrame, id: Column, text: Column,
      k: Int, maxDocFreq: Long): DataFrame = {
    val base = docs.select(id.as("doc_id"), tokens(text).as("ws"))
    val tok = base.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "w")))
    // k-shingles with their 0-based start position, built in-row
    val sh = base.select(col("doc_id"), posexplode(
      when(size(col("ws")) >= k,
        transform(sequence(lit(0), size(col("ws")) - k),
          p => concat_ws(" ", slice(col("ws"), p + 1, lit(k)))))
        .otherwise(array().cast("array<string>"))).as(Seq("p", "s")))
    val hot = sh.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("s"))
    // positions covered by any hot shingle occurrence
    val covered = sh.join(broadcast(hot), Seq("s"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
    val kept = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x("w")), " ").as("text_pruned"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_pruned"), lit("")).as("text_pruned"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
  }

  /** Score documents against a linear bag-of-words model — the
    * fastText-shaped quality-classifier pass every production corpus
    * runs. `weights` is the trained model, a (w, weight) dimension
    * frame: per-document score = Σ weight(token) / n_tokens, with
    * out-of-vocabulary tokens scoring 0. The model broadcasts (a
    * vocabulary is dim-sized by definition); the corpus takes one
    * map-side-combined shuffle on doc_id — the same scan shape as
    * every other token-stats pass, so it composes with them.
    *
    * `score_sum` stays an exact integer; `score_e4` floors the mean to
    * 1e-4 (`weight` must be integral — scale the model accordingly). */
  def linearScore(docs: DataFrame, id: Column, text: Column,
      weights: DataFrame): DataFrame =
    docs.select(id.as("doc_id"), explode(tokens(text)).as("w"))
      .join(broadcast(weights), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0L))).as("score_sum"))
      .withColumn("score_e4",
        floor(col("score_sum").cast("double") /
          col("n_tokens").cast("double") * lit(10000.0)).cast("long"))

  /** Bigram-LM negative log-likelihood per document (the step up from
    * [[unigramNll]] as a perplexity-proxy quality signal). MLE bigram
    * model estimated on the corpus itself: P(b|a) = c(a,b) / c(a,·),
    * with c(a,·) derived from the bigram table (so it counts only
    * non-final occurrences of `a` — every observed bigram has a
    * well-defined probability, no smoothing needed). Per-bigram NLL is
    * floored to 1e-4 integers BEFORE the per-document sum, so the
    * result is engine-exact. Bigrams are built in-row; the model is
    * two hash aggregations; docs with fewer than 2 tokens report 0
    * bigrams and 0 NLL. */
  def bigramNll(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), tokens(text).as("ws"))
    val bi = base
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(2), size(col("ws"))),
          i => struct(element_at(col("ws"), i - 1).as("a"),
            element_at(col("ws"), i).as("b"))))
        .as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val scored = bi
      .join(cab, Seq("a", "b"))
      .join(ca, Seq("a"))
      .select(col("doc_id"),
        floor(-log(col("cab").cast("double") / col("ca").cast("double"))
          * lit(10000.0)).cast("long").as("t_e4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("t_e4")).as("nll_sum_e4"))
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("nll_sum_e4"), lit(0L)).cast("long").as("nll_sum_e4"))
  }

  /** Per-group vocabulary profile: corpus-level lexical-diversity stats
    * (vocabulary size, hapax legomena, type-token ratio) per grouping
    * key — the dashboard a tokenizer-training or data-mixing run reads
    * first. Two chained hash aggregations, both map-side combined; the
    * second input is (groups × vocab)-sized, never corpus-sized. */
  def vocabProfile(docs: DataFrame, group: Column, text: Column): DataFrame = {
    val counts = docs
      .select(group.as("grp"), explode(tokens(text)).as("w"))
      .groupBy(col("grp"), col("w"))
      .agg(count(lit(1)).as("c"))
    val byGroup = counts.groupBy(col("grp"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
    val nDocs = docs.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(byGroup, Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("hapax"),
        floor(col("vocab").cast("double") / col("n_tokens").cast("double")
          * lit(10000.0)).cast("long").as("ttr_e4"),
        floor(col("hapax").cast("double") / col("vocab").cast("double")
          * lit(10000.0)).cast("long").as("hapax_ratio_e4"))
  }

  /** BM25 (Robertson/Spärck Jones, the Okapi formulation with the
    * `ln(1 + (N - df + 0.5)/(df + 0.5))` non-negative idf) scored
    * against a LITERAL term list — the lexical half of a retrieval
    * stack next to the ANN family in [[Similarity]].
    *
    * Scale shape: per-term tf is a codegen'd array filter over the
    * token array (no explode — the corpus is scanned once, narrow);
    * the only aggregation is one single-row global stats pass
    * (N, avgdl, per-term df) that is broadcast back, and the top-k is
    * a TakeOrdered. Nothing corpus-sized ever shuffles.
    *
    * Ranking uses the 4-decimal-rounded score (desc, id asc tiebreak)
    * so the order is engine-portable and the oracle hash-checks. */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(id.as("doc_id"), tokens(text).as("toks"))
    val withTf = terms.zipWithIndex.foldLeft(
      toks.withColumn("dl", size(col("toks")).cast("double"))) {
      case (df, (term, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("toks"), t => t === lit(term))).cast("double"))
    }.drop("toks")
    val statAggs =
      Seq(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * col(s"tf$i") * lit(k1 + 1.0) /
        (col(s"tf$i") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
