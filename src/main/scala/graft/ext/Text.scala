package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2.10 X4/X5
  * plus the training-pipeline extensions: language-ID, quality scoring,
  * token counting, fingerprinting).
  *
  * All pure Catalyst expressions (regexp_extract_all / explode / md5) —
  * no UDFs, so everything stays codegen'd and scales as a plain
  * shuffle-aggregate.
  */
object Text {

  /** Word tokens, lowercased. Same regex semantics in Java regex and RE2. */
  def tokens(c: Column): Column = regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** The shared quality heuristic (≥20 tokens, has stopwords, low digit
    * ratio — each worth one point), over a `text` column with an
    * `n_chars` column in scope. ONE definition consumed by
    * [[textQualityScore]], [[graft.ext.CorpusPrep.corpusPrepPipeline]]
    * and [[graft.ext.Sampling.sampleUpweight]], so the three operators
    * can never drift apart (they are oracle-checked against the same
    * SQL spelling). */
  def qualityScore: Column = {
    val nTok = size(tokens(col("text")))
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|of|and|in|to)\\b"), lit(0)))
    val nDigit = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
    when(nTok >= 20, 1.0).otherwise(0.0) +
      when(nStop > 0, 1.0).otherwise(0.0) +
      (lit(1.0) - nDigit.cast("double") / greatest(col("n_chars"), lit(1)))
  }

  /** X4: tokenize + term stats: top-100 tokens by frequency. */
  def textTokenizeStats(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** X5: language/source slice. */
  def textFilterLang(documents: DataFrame): DataFrame =
    documents.filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Language-ID by marker-token counting (n-gram heuristic): count hits of
    * per-language stopword alternations, pick the max with a fixed
    * preference order on ties. */
  /** r7b: language-ID confusion matrix — [[textLangid]]'s per-doc
    * verdicts rolled up against the declared labels: the calibration
    * table that decides whether the cheap n-gram router is good enough
    * to GATE a corpus on (`text_filter_lang` drops docs by prediction —
    * this is what that filter costs per language). Per (true, predicted)
    * cell: doc count and its integer-ppb share of the true language's
    * row (the row-normalized recall diagonal). One map-side predictor +
    * one hash agg; the share window rides the ≤langs² cell frame. */
  def textLangConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = textLangid(documents)
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("true_lang"))
    cells
      .withColumn("row_total", sum(col("n_docs")).over(w))
      .select(col("true_lang"), col("pred_lang"), col("n_docs"),
        call_function("div",
          col("n_docs").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            1000000000L, col("row_total"))
          .cast("long").as("row_share_ppb"))
      .orderBy("true_lang", "pred_lang")
  }

  def textLangid(documents: DataFrame): DataFrame = {
    def hits(pat: String): Column =
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
    val en = hits("\\b(the|and|of|to|a)\\b")
    val es = hits("\\b(el|la|de|que|los)\\b")
    val de = hits("\\b(der|die|und|das|ist)\\b")
    val fr = hits("\\b(le|les|et|des|un)\\b")
    documents.select(
      col("doc_id"), col("lang").as("true_lang"),
      en.cast("long").as("en_n"), es.cast("long").as("es_n"), de.cast("long").as("de_n"), fr.cast("long").as("fr_n"),
      when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr").as("pred_lang")
    ).orderBy("doc_id")
  }

  /** Quality scoring: length/token/stopword/digit ratios combined into one
    * score (the classic pretraining-data heuristic filter). */
  def textQualityScore(documents: DataFrame): DataFrame = {
    val nTok = size(tokens(col("text")))
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|of|and|in|to)\\b"), lit(0)))
    val nDigit = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
    documents.select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      (col("n_chars").cast("double") / greatest(nTok, lit(1))).as("avg_token_len"),
      (nStop.cast("double") / greatest(nTok, lit(1))).as("stopword_ratio"),
      (nDigit.cast("double") / greatest(col("n_chars"), lit(1))).as("digit_ratio"),
      qualityScore.as("quality_score")
    ).orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish subword proxy (short
    * alphanumeric chunks), the usual budget estimators. */
  def textTokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]{1,4}"), lit(0))).cast("long").as("subword_tokens"),
      col("n_chars")
    ).orderBy("doc_id")

  /** Document fingerprinting: md5 of whitespace-normalized lowercase text —
    * the key for exact near-canonical dedup. */
  def textFingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ").cast("binary")).as("fingerprint")
    ).orderBy("doc_id")

  /** Positional tokenization — the table-generating (Generator) surface
    * with ordinality: the first `maxPos` tokens of each document with
    * their 0-based positions (the shape prefix-dedup and title
    * extraction consume). posexplode keeps the position without a window
    * or join; the cap bounds output at corpus scale. */
  def textTokenPositions(documents: DataFrame, maxPos: Int = 5): DataFrame =
    documents
      .select(col("doc_id"), posexplode(slice(tokens(col("text")), 1, maxPos))
        .as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy("doc_id", "pos")

  /** Training-window chunking — the op that turns cleaned documents into
    * model-ready sequences: fixed `chunkSize`-token windows every `stride`
    * tokens (overlapping when stride < chunkSize), each chunk carried as
    * (position, length, md5-of-joined-tokens) so the full chunk bytes are
    * hash-gated without shipping them. The generator child is a cheap int
    * `sequence` (the re-evaluation cliff bites expensive generator
    * children, not pass-through columns), and the whole op is one
    * map-side Generate — zero shuffles before the output sort, linear fan
    * -out ~n_tokens/stride per doc. */
  def textChunkWindows(documents: DataFrame, chunkSize: Int = 64, stride: Int = 32): DataFrame = {
    val chunk = slice(col("t"), col("i") * stride + 1, lit(chunkSize))
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), floor((size(col("t")) - 1) / stride).cast("int"))).as("i"))
      .select(
        col("doc_id"),
        col("i").cast("long").as("chunk_id"),
        (col("i") * stride).cast("long").as("start_tok"),
        size(chunk).cast("long").as("chunk_tokens"),
        md5(array_join(chunk, " ").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Bigram language-model counts — the n-gram statistics table LM-data
    * work keeps next to the corpus: top-N (w1, w2) pairs with their count
    * and the conditional probability P(w2 | w1) = n(w1,w2) / n(w1,·).
    * The pair fan-out is a cheap int-sequence Generate (as
    * [[textChunkWindows]]); the w1 marginal rides a window over the
    * already-aggregated bigram table (no second pass over the corpus);
    * cond_p is one long/long double division — exactly rounded, so the
    * whole table hash-matches cross-engine. */
  def textNgramCounts(documents: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("t"),
        explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
      .select(element_at(col("t"), col("i") + 1).as("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("w1_total", sum(col("n")).over(Window.partitionBy(col("w1"))))
      .select(col("w1"), col("w2"), col("n"),
        (col("n").cast("double") / col("w1_total").cast("double")).as("cond_p"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** PII patterns shared by the scrubber and its spec. Plain character
    * classes + bounded quantifiers only — identical semantics in Java
    * regex (Spark) and RE2 (DuckDB), no alternation-order pitfalls. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrubbing — the redaction gate every pretraining corpus runs
    * before tokenization: emails, phone numbers and IPv4 addresses are
    * counted then replaced with typed placeholders. The fixture corpus is
    * synthetic word soup, so the query embeds deterministic PII derived
    * from doc_id (the same construct-then-process pattern as
    * strip_tz_suffix / scan_csv_typed) and the oracle recomputes the
    * identical scrub; the output carries md5(scrubbed) rather than the
    * full text, so every byte of the redaction is hash-gated while the
    * result row stays narrow. Pure codegen'd expressions, map-side — at
    * corpus scale this is a zero-shuffle pass. */
  def textPiiScrub(documents: DataFrame): DataFrame = {
    val synth = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-010-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
    // email first, then phone, then IP — same fixed order as the oracle
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(synth,
      EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>")
    // match counts = placeholder occurrences in the ALREADY-scrubbed text
    // (plain substring splits — r4: halves the regex traversals vs a
    // second regexp_extract_all pass over the raw text; the placeholders
    // can't collide because each pattern's matches are consumed before
    // the next pass, and `<…>` never occurs in the token corpus).
    // The oracle keeps the extract_all spelling — values are identical.
    def n(placeholder: String): Column =
      (size(split(scrubbed, lit(java.util.regex.Pattern.quote(placeholder)))) - 1)
        .cast("long")
    documents.select(
      col("doc_id"),
      n("<EMAIL>").as("n_emails"),
      n("<PHONE>").as("n_phones"),
      n("<IP>").as("n_ips"),
      md5(scrubbed.cast("binary")).as("scrubbed_md5")
    ).orderBy("doc_id")
  }

  /** Per-document bigram occurrences via the cheap int-sequence Generate
    * (same shape as [[textNgramCounts]]: the generator child is an int
    * sequence, so the explode cliff does not apply). Docs under 2 tokens
    * drop. */
  private def bigramsOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2)).as("bigram"))

  /** Repetition-ratio quality signal (the Gopher-style "duplicate n-gram
    * fraction" pretraining filter): per document, how much of the bigram
    * mass is repeats (`dup_frac = 1 - distinct/total`) and how dominant
    * the single most frequent bigram is (`top_share`). Two partial-agg
    * hash shuffles — (doc_id, bigram) then doc_id — both map-side
    * combined, so the wide fan-out never crosses the wire unaggregated;
    * the ratios are single long/long double divisions (exactly rounded,
    * hash-stable cross-engine). */
  def textRepetitionRatio(documents: DataFrame): DataFrame =
    bigramsOf(documents)
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_n"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_bigrams").cast("double")).as("dup_frac"),
        (col("top_n").cast("double") /
          col("n_bigrams").cast("double")).as("top_share"))
      .orderBy("doc_id")

  /** Distinct token trigrams per doc, from an already-filtered slice (so
    * each corpus split is tokenized exactly once — no shared-frame double
    * scan). */
  private def distinctTrigrams(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 3)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2),
          element_at(col("t"), col("i") + 3)).as("gram"))
      .distinct()

  /** TF-IDF keyword extraction: the top-k most characteristic terms per
    * document, scored tf · (N/df). The idf factor is deliberately the
    * LINEAR rarity ratio, not log(N/df): rankings are identical (x ↦
    * log x is monotone) but N/df is one long/long double division —
    * exactly rounded in every engine — where transcendental log is
    * libm-dependent and would demote the query to rows-only. Shuffle
    * shape: (doc, token) tf agg, token df agg (both map-side combined),
    * an equi-join on token, and the top-k window on doc_id — every stage
    * keyed, nothing all-pairs, df is corpus-bounded not doc-bounded. */
  def textTfidfTopk(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = documents.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"),
        col("score"))
      .orderBy("doc_id", "rn")
  }

  /** Benchmark decontamination — the pretraining hygiene pass that flags
    * training documents sharing any token trigram with a held-out
    * benchmark set (here: `doc_id % 10 == 0` stands in for the benchmark
    * split; in production it is a separate, much smaller table). The
    * benchmark side collapses to a distinct-gram set and is BROADCAST —
    * at 100 TB the train side streams through map-side, the only
    * shuffles being the two distincts and the per-doc count. Clean docs
    * survive with `n_shared = 0` via the left join back onto the train
    * slice.
    *
    * r11 (VERDICT r10 #3): the broadcast rests on the CONTRACT that the
    * bench suite is a small constant — which the fixture spelling (10%
    * of the corpus) silently violates as the corpus grows, OOMing the
    * driver before the contract is ever stated. The gram set is now
    * localCheckpoint'd (executor-resident, ONE scan of the bench side
    * feeds both the guard count and the join) and counted BEFORE the
    * broadcast: past `maxBenchGrams` (default 10⁷ grams ≈ 0.5 GB
    * broadcast — generous for any real benchmark suite, far short of a
    * driver OOM) it fails actionably instead of degrading. The stated
    * escape for a genuinely huge probe side is the
    * `join_bloom_prefilter` machinery (constant-size filter, re-verify
    * hits), or shuffling the equi-join by dropping the broadcast hint —
    * both change the plan, neither the semantics. `DecontaminateGuardSpec`
    * trips the guard on an oversized bench split. */
  def textDecontaminate(documents: DataFrame,
                        maxBenchGrams: Long = 10000000L): DataFrame = {
    val isBench = col("doc_id") % 10 === 0
    val benchGrams = distinctTrigrams(documents.filter(isBench))
      .select(col("gram")).distinct()
      .localCheckpoint()
    val nGrams = benchGrams.count()
    if (nGrams > maxBenchGrams)
      throw new IllegalStateException(
        s"text_decontaminate: the benchmark side has $nGrams distinct " +
          s"trigrams, past the $maxBenchGrams broadcast budget — the " +
          "decontamination contract is a SMALL held-out suite; a probe " +
          "side this large OOMs the driver as a broadcast. Route the " +
          "probe through a bloom prefilter (join_bloom_prefilter's " +
          "machinery: constant-size filter, exact re-verify of hits), " +
          "drop to a shuffled equi-join, or pass the real (small) bench " +
          "table instead of a corpus slice.")
    val hits = distinctTrigrams(documents.filter(!isBench))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
    documents.filter(!isBench).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("shared"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** r4: token-pair lift — co-occurrence association strength,
    * N·n(a,b)/(n(a)·n(b)) (observed-over-expected; PMI without the
    * cross-engine `ln`, same dodge as the tf-idf rarity ratio — lift is
    * monotone in PMI so the RANKING is identical). Candidates come from
    * a per-doc distinct-token self-join BOUNDED by the same df cap the
    * jaccard inverted index uses (a stopword-like token would otherwise
    * explode the pair fan-out quadratically), and the support floor
    * collapses the pair table before the one global top-k window. Every
    * number is an exact integer until the single lift divide. */
  def textTokenLift(documents: DataFrame, minSupport: Long = 25L,
                    topK: Int = 50, maxDf: Long = 450L): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("t"))
    val df = toks.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
      .filter(col("n_t").between(2L, maxDf))
    val kept = toks.join(df, "t")
    val pairs = kept.as("a").join(kept.as("b"), Seq("doc_id"))
      .filter(col("a.t") < col("b.t"))
      .select(col("a.t").as("t1"), col("b.t").as("t2"),
        col("a.n_t").as("n1"), col("b.n_t").as("n2"))
      .groupBy(col("t1"), col("t2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_12"))
      .filter(col("n_12") >= minSupport)
    val nDocs = documents.agg(countDistinct(col("doc_id")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift").desc, col("t1"), col("t2"))
    pairs.crossJoin(broadcast(nDocs))
      .withColumn("lift", (col("n") * col("n_12")).cast("double") /
        (col("n1").cast("double") * col("n2").cast("double")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("rn"), col("t1"), col("t2"), col("n1"), col("n2"),
        col("n_12"), col("lift"))
      .orderBy("rn")
  }

  /** r4: duplicated-passage detection — the passage-level cousin of
    * document dedup (the RefinedWeb/CCNet pass that strips boilerplate a
    * crawl repeats across pages even when no two DOCUMENTS are
    * near-dups). Segments each doc into NON-overlapping `w`-token
    * passages (complete windows only), inverted-indexes the passage
    * md5, and reports per doc how much of it is passage-exact content
    * shared with at least one OTHER doc (within-doc repeats are
    * [[textRepetitionRatio]]'s job — distinct-doc counting excludes
    * them here). Plan: Generate fan-out map-side, one shuffle on the
    * passage hash, one back on doc_id — the corpus-scope analogue of
    * repetition_ratio's two-shuffle shape; no join wider than the
    * passage postings and nothing all-pairs, so it carries to 100 TB
    * exactly like the MinHash band join does. */
  def textPassageDedup(documents: DataFrame, w: Int = 8): DataFrame = {
    val seg = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), (floor(size(col("t")) / w) - 1).cast("int"))).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("t"), col("i") * w + 1, lit(w)), " ").cast("binary")).as("p"))
    val shared = seg.groupBy(col("p"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    seg.join(shared, Seq("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", col("n_dup").cast("double") / col("n_passages"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve — the top-k token types with their
    * cumulative share of all corpus tokens (the Zipf head: "the top 100
    * types cover X % of the stream"), the number that sizes tokenizer
    * vocabularies and stopword lists. The corpus collapses to the
    * vocabulary frame in one partial/final hash agg (the only fact-scale
    * shuffle); rank, cumulative count and the grand total then ride
    * windows over that vocabulary-bounded frame (the single-partition
    * step is ≤ |vocab| rows — `corpus_mix_report`'s share-window
    * posture). Shares are integer parts-per-billion (DECIMAL(38,0)
    * multiply + integer DIV): version-proof across engines, the
    * `corpus_mix_report` r5 lesson applied from the start. */
  def textVocabCoverage(documents: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val byFreq = Window.orderBy(desc("n"), col("token"))
    val all = Window.partitionBy()
    counts
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(byFreq))
      .withColumn("total_n", sum(col("n")).over(all))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("token"), col("n"), col("cum_n"),
        expr("CAST(cum_n AS DECIMAL(38,0)) * 1000000000 DIV total_n")
          .as("cum_share_ppb"))
      .orderBy("rank")
  }

  /** r5c4: Gopher-style rules filter with REASON CODES — the go/no-go
    * gate every pretraining pipeline runs (C4 / Gopher / RefinedWeb
    * heuristics), distinct from [[textQualityScore]]'s soft score: a
    * document either passes or is dropped with its first failing rule
    * named, because reject-reason histograms are how filter thresholds
    * get tuned. Rules here are the length / mean-word-length /
    * single-word-domination trio, each an INTEGER comparison
    * (mean-word-length bounds ride cross-multiplies — `sum_len < 3·n`,
    * never a rounded divide; domination is `5·top > n`, i.e. one token
    * over 20 % of the doc). Plan: the per-doc length stats are map-side
    * higher-order aggregates over the token array (no explode); only the
    * top-token count needs the (doc, token) hash agg — the same shape as
    * [[textTokenizeStats]] — and joins back LEFT so token-free docs
    * still report (as too_short). All integers ⇒ hash-match. */
  def textRulesFilter(documents: DataFrame): DataFrame = {
    val stats = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_words"),
        expr("aggregate(t, 0L, (a, w) -> a + length(w))").as("sum_len"),
        col("t"))
    val top = stats
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_n"))
    stats.drop("t")
      .join(top, Seq("doc_id"), "left")
      .withColumn("top_n", coalesce(col("top_n"), lit(0L)))
      .withColumn("verdict",
        when(col("n_words") < 5L, "too_short")
          .when(col("n_words") > 5000L, "too_long")
          .when(col("sum_len") < col("n_words") * 3L, "word_len_low")
          .when(col("sum_len") > col("n_words") * 12L, "word_len_high")
          .when(col("top_n") * 5L > col("n_words"), "repetitive")
          .otherwise("pass"))
      .select(col("doc_id"), col("n_words"), col("sum_len"), col("top_n"),
        col("verdict"))
      .orderBy("doc_id")
  }

  /** r5c6: the hashing trick — fixed-width featurization without a
    * vocabulary. Every token maps to bucket = first md5 byte (256-dim
    * feature space), so the featurizer needs NO vocabulary broadcast, no
    * fit pass, and no OOV handling — the property that makes it the
    * default text featurizer at corpus scale (a vocabulary join would be
    * a second shuffle and a fit dependency). Output is the sparse
    * (doc, bucket, count) matrix plus the per-doc term-frequency share
    * as integer parts-per-billion (never an engine-rendered derived
    * double). Plan: one map-side Generate fan-out, one (doc, bucket)
    * hash agg; the per-doc total rides a bounded integer window (≤256
    * rows per doc), no second scan. */
  def textHashedFeatures(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .select(col("doc_id"),
        conv(substring(md5(col("token").cast("binary")), 1, 2), 16, 10)
          .cast("long").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("doc_tokens",
        sum(col("n")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("tf_ppb",
        expr("CAST(n AS DECIMAL(38,0)) * 1000000000 DIV doc_tokens").cast("long"))
      .orderBy("doc_id", "bucket")
  }

  /** r5c6: Flesch-style readability — the classic quality signal a
    * pretraining filter reads next to [[textQualityScore]]'s heuristics
    * (readability bands are how "too simple / too dense" corpus slices
    * get routed to different mixes). All three inputs are INTEGER
    * counts from character-class regexes that parse identically in Java
    * regex and DuckDB's RE2: words = `[a-z0-9]+` runs (the shared
    * [[tokens]] contract), sentences = `[.!?]+` runs, syllables ≈
    * `[aeiou]+` vowel groups (the standard syllable proxy — bounded
    * ±1 per word vs dictionary syllabification, and engine-exact where
    * a dictionary is not). The score is one fixed 5-op double chain
    * (206.835 − 1.015·W/S − 84.6·Syl/W) mirrored verbatim in the
    * oracle; zero-word / zero-sentence docs are floored to 1 to keep
    * the chain total. Pure map-side projection — no shuffle but the
    * output sort. */
  def textReadability(documents: DataFrame): DataFrame = {
    val nWords = greatest(size(tokens(col("text"))).cast("long"), lit(1L))
    val nSent = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val nSyl = greatest(
      size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0))).cast("long"),
      lit(1L))
    documents.select(
      col("doc_id"),
      nWords.as("n_words"), nSent.as("n_sentences"), nSyl.as("n_syllables"),
      (lit(206.835)
        - lit(1.015) * (nWords.cast("double") / nSent.cast("double"))
        - lit(84.6) * (nSyl.cast("double") / nWords.cast("double"))).as("flesch"))
      .orderBy("doc_id")
  }

  /** r5c8: n-gram novelty curve — per doc (in doc_id ingest order), the
    * fraction of its distinct trigram shingles never seen in an EARLIER
    * doc: the marginal-contribution metric dataset curation ranks
    * sources by (a feed whose novelty decays to ~0 is re-crawling what
    * the corpus already has — `dedup_near_minhash` finds its PAIRS,
    * this prices each doc's residual value). First-seen ownership is
    * one (shingle → min doc_id) hash agg over the exploded distinct
    * shingles — same trigram spelling as the dedup family — joined
    * back by shingle (equi-join, partial-aggregated, nothing
    * all-pairs); novelty rides as integer parts-per-billion. */
  def textNgramNovelty(documents: DataFrame): DataFrame = {
    val sh = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(0, size(t) - 3),
             i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2),
                         ' ', element_at(t, i + 3))))""")).as("s"))
    val firstSeen = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppb",
        expr("CAST(n_novel AS DECIMAL(38,0)) * 1000000000 DIV n_shingles").cast("long"))
      .orderBy("doc_id")
  }

  /** r8: RAKE keyphrase extraction per document (Rose et al. 2010) — the
    * unsupervised "what is this document ABOUT" op that completes the
    * text family above tf-idf's single tokens: candidate phrases are the
    * maximal stopword-free runs (gaps-and-islands on a per-doc running
    * stopword count), scored by Σ_w deg(w)/freq(w) over member words
    * where deg counts phrase-length-weighted occurrences within the SAME
    * document. Exactness: the per-word ratio quantizes to integer
    * micro-units via integer division ((deg·10⁶) div freq — no double
    * ever sums), phrase scores are then integer sums, and the one
    * emitted double is a single final divide. Plan: one map-side
    * posexplode, one per-doc running-sum window (partitions bounded by
    * doc length), three (doc-keyed) hash aggs, top-k per doc by
    * (score, phrase) total order. */
  def textKeyphraseRake(documents: DataFrame, topK: Int = 3,
                        maxLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def idiv(a: Column, b: Column) = call_function("div", a, b)
    val stops = Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .withColumn("is_stop", col("token").isin(stops: _*))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrased = toks
      .withColumn("grp", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
    val ph = phrased.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("n_words"),
        array_sort(collect_list(struct(col("pos"), col("token")))).as("ts"))
      .filter(col("n_words") <= maxLen)
      .withColumn("words", expr("transform(ts, x -> x.token)"))
      .withColumn("phrase", array_join(col("words"), " "))
    val mem = ph.select(col("doc_id"), col("grp"), col("phrase"),
      col("n_words"), explode(col("words")).as("token"))
    val ws = mem.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
      .withColumn("score_q", idiv(col("deg") * lit(1000000L), col("freq")))
    val sc = mem.join(ws.select(col("doc_id"), col("token"), col("score_q")),
        Seq("doc_id", "token"))
      .groupBy(col("doc_id"), col("grp"), col("phrase"), col("n_words"))
      .agg(sum(col("score_q")).as("sq"))
    val dd = sc.groupBy(col("doc_id"), col("phrase"))
      .agg(max(col("n_words")).as("n_words"), count(lit(1)).as("n_occ"),
        max(col("sq")).as("sq"))
    val wRank = Window.partitionBy(col("doc_id"))
      .orderBy(col("sq").desc, col("phrase"))
    dd.withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("doc_id"), col("rn"), col("phrase"), col("n_words"),
        col("n_occ"), (col("sq").cast("double") / lit(1000000.0)).as("rake_score"))
      .orderBy("doc_id", "rn")
  }

  /** r9: content-defined chunk dedup — the shift-robust member of the
    * passage-dedup family: [[textPassageDedup]]'s fixed windows miss a
    * duplicated span the moment ONE token is inserted upstream of it
    * (every window boundary shifts); content-defined chunking cuts at
    * ANCHOR tokens chosen by a hash predicate, so boundaries travel
    * WITH the content and a shared span chunks identically in every
    * document that contains it — the CDC idea storage dedup is built
    * on, applied at token level. A token is an anchor when its portable
    * 32-bit md5 prefix ≡ 0 mod `mask` (expected chunk length = mask
    * tokens, the knob); chunk id = exclusive prefix count of anchors
    * (one doc-keyed window over the posexploded tokens); each chunk is
    * carried as md5-of-joined-tokens so full chunk bytes never ship.
    * Output: chunks appearing in more than one document, with
    * occurrence counts — the cross-doc boilerplate table. EXACTNESS:
    * anchors, prefix counts, and md5s are all integer/deterministic —
    * trivially hash-match. SCALE: everything is map-side or doc-keyed
    * (the posexplode fan-out is the corpus token count, the same cost
    * [[textPassageDedup]] pays); the final agg groups by chunk hash —
    * an equi-shuffle bounded by distinct chunks, never all-pairs. */
  def dedupCdcChunks(documents: DataFrame, mask: Long = 64L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val g = conv(substring(md5(col("token").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val wPre = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("anchor", (g % lit(mask)) === 0L)
      .withColumn("chunk",
        coalesce(sum(when(col("anchor"), 1L).otherwise(0L)).over(wPre), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("token")))),
            s => s.getField("token"))).cast("binary")).as("chunk_hash"))
    chunks.groupBy(col("chunk_hash"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_hash")
  }

  /** r9: distinctive vocabulary per source — the corpus-mix face of
    * keyword extraction: [[textTfidfTopk]] scores tokens against the
    * whole corpus per DOCUMENT; this scores them per SOURCE with a 2×2
    * χ² on document frequency ("which terms does THIS slice of the mix
    * over-use?"), the standard register/domain-shift report a training
    * mix is audited with. For token t and source s the contingency is
    * (docs-in-s-with-t, rest), and the χ² collapses algebraically to
    * N(N·df_s − S·T)² / (S(N−S)·T(N−T)) with S = docs in s, T = total
    * df — four counts, one INTEGER numerator Δ = N·df_s − S·T whose
    * sign is the over/under-representation direction (only over-
    * represented terms are reported). EXACTNESS: Δ and both products
    * accumulate in DECIMAL(38,0), one split-cast divide — exact while
    * N·T² < 10³⁸ (N·T < ~3·10¹⁹ doc-pairs; pre-aggregating df to
    * per-mille quantization is the documented escape far past any real
    * corpus). Rare-noise guard: T ≥ minDf; T = N (a token in every
    * doc) has zero χ² information and is excluded by the T < N guard.
    * SCALE: doc-frequency aggs on (source, token) and (token) — vocab-
    * bounded equi-shuffles; the per-source top-k window rides the
    * vocab frame, never the corpus. */
  /** r11: Zipf conformance check — per source, the top-k tokens with
    * their rank·frequency product: Zipf's law says r·f ≈ constant, so a
    * FLAT column reads "natural language", a collapsing one reads
    * template/boilerplate dominance and a rising one suspiciously
    * uniform (generated/shuffled) text — the corpus-level distribution
    * diagnostic next to the per-doc screens (`text_repetition_ratio`,
    * `text_ocr_garbage`). Kept multiplicative — r·f is an EXACT integer
    * — instead of the textbook log-log slope (transcendental, the
    * `text_tfidf_topk` dodge: the diagnostic reads the same). Plan: one
    * (source, token) hash agg, one per-source top-k window over the
    * already-aggregated frame; vocabulary-bounded. */
  def textZipfCheck(documents: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("freq").desc, col("token"))
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("token"), col("freq"),
        (col("rank") * col("freq")).as("rank_x_freq"))
      .orderBy("source", "rank")
  }

  def textDistinctiveTerms(documents: DataFrame, minDf: Long = 5L,
      topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d2 = graft.Det.decToDouble _
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dfS = documents
      .select(col("source"), col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("df_s"))
    val dfT = dfS.groupBy(col("token")).agg(sum(col("df_s")).as("df_t"))
    val srcN = documents.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("s_docs"))
    val totN = documents.agg(countDistinct(col("doc_id")).as("n_docs"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("chi2").desc, col("token"))
    dfS.join(dfT, "token")
      .join(broadcast(srcN), "source")
      .crossJoin(broadcast(totN))
      .filter(col("df_t") >= minDf && col("df_t") < col("n_docs"))
      .withColumn("delta", col("n_docs").cast(dec) * col("df_s") -
        col("s_docs").cast(dec) * col("df_t"))
      .filter(col("delta") > 0)
      .withColumn("chi2", d2(col("n_docs").cast(dec) * col("delta") * col("delta")) /
        d2(col("s_docs").cast(dec) * (col("n_docs") - col("s_docs")) *
          col("df_t") * (col("n_docs") - col("df_t"))))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("source"), col("rn"), col("token"), col("df_s"),
        col("df_t"), col("chi2"))
      .orderBy("source", "rn")
  }

  /** The per-(source, token) corpus frequency frame shared by the
    * lexical-richness pair [[textYuleK]] / [[textHapaxRatio]] (r10) —
    * one tokenize scan, one vocab-bounded hash agg, memoized per
    * dataset in [[graft.Memo]]. */
  private def sourceTokenFreq(documents: DataFrame): DataFrame =
    graft.Memo.frame(documents, "source-token-freq") {
      documents
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("f"))
    }

  /** r10: Yule's characteristic K per source — the classic repeated-
    * vocabulary (lexical richness) constant, and the cheapest useful
    * "is this source template spam?" scalar a corpus report can carry
    * (boilerplate-heavy sources repeat the same tokens → large K; rich
    * prose → small K):
    *   K = 10⁴ · (Σ f² − N) / N²
    * over the token frequency spectrum (N = token count, f = per-type
    * frequency). EXACTNESS: Σf² and N are exact integers (DECIMAL(38,0)
    * accumulation), one base-2^53 split each, one fixed IEEE chain —
    * K is length-invariant by construction, which is exactly why it
    * beats a bare type/token ratio across differently-sized sources.
    * SCALE: rides the memoized (source, token) frequency frame —
    * vocab-bounded, never row-scaled past the tokenize scan. */
  def textYuleK(documents: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d2 = graft.Det.decToDouble _
    sourceTokenFreq(documents)
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("f").cast(dec) * col("f")).as("sf2"))
      .withColumn("nn", col("n_tokens").cast(dec))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("sf2").cast("long").as("sum_f2"),
        when(col("n_tokens") > 0,
          lit(10000.0) * (d2(col("sf2")) - d2(col("nn"))) /
            (d2(col("nn")) * d2(col("nn")))).as("yule_k"))
      .orderBy("source")
  }

  /** r10: hapax legomena profile per source — the once-only-vocabulary
    * share, the other end of the richness scale from [[textYuleK]] (K
    * weighs the REPEATED types; the hapax share measures the long tail
    * of singletons — crawl boilerplate shows few hapaxes, OCR noise and
    * genuinely rich text show many, so the PAIR separates "rich" from
    * "noisy" where either number alone is ambiguous). Per source:
    * hapax count (f = 1), dis legomena (f = 2), their vocab shares, and
    * hapax-per-token — all exact integer counts, one double divide
    * each, over the same memoized frequency frame. */
  def textHapaxRatio(documents: DataFrame): DataFrame =
    sourceTokenFreq(documents)
      .groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        when(col("n_types") > 0,
          col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_type_ratio"),
        when(col("n_tokens") > 0,
          col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_token_ratio"))
      .orderBy("source")

  /** r10b: OCR/extraction-garbage screen per document — the corpus-prep
    * filter `text_quality_score`'s heuristics don't cover: quality scores
    * rate GOOD text (length, stopwords, digit share); this flags the
    * characteristic FAILURE shapes of broken extraction pipelines —
    * symbol soup (non-alnum non-space share), digit-letter shrapnel
    * (mixed tokens like "x7k2q"), runaway concatenations (>20-char
    * tokens), and consonant clusters no language produces (≥4-char
    * vowel-free alpha tokens). Each signal is an exact integer ppm
    * (×10⁶ floor divide — no float), the flag is a fixed threshold OR.
    * Pure map-side; one pass. */
  def textOcrGarbage(documents: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def ppm(num: Column, den: Column): Column =
      when(den > 0, call_function("div", num.cast(dec) * 1000000, den.cast(dec))
        .cast("long")).otherwise(0L)
    val t = col("toks")
    documents
      .withColumn("lc", lower(col("text")))
      .withColumn("n_all", length(col("lc")))
      .withColumn("n_alnum",
        length(regexp_replace(col("lc"), "[^a-z0-9]", "")))
      .withColumn("n_space",
        length(col("lc")) - length(regexp_replace(col("lc"), " ", "")))
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tok", size(t).cast("long"))
      .withColumn("n_mixed", size(filter(t,
        x => x.rlike("[a-z]") && x.rlike("[0-9]"))).cast("long"))
      .withColumn("n_long", size(filter(t, x => length(x) > 20)).cast("long"))
      .withColumn("n_consonant", size(filter(t,
        x => x.rlike("^[b-df-hj-np-tv-z]+$") && length(x) >= 4)).cast("long"))
      .select(col("doc_id"), col("source"),
        ppm(col("n_all") - col("n_alnum") - col("n_space"), col("n_all"))
          .as("symbol_ppm"),
        ppm(col("n_mixed"), col("n_tok")).as("mixed_token_ppm"),
        ppm(col("n_long"), col("n_tok")).as("long_token_ppm"),
        ppm(col("n_consonant"), col("n_tok")).as("consonant_token_ppm"))
      .withColumn("is_garbage",
        col("symbol_ppm") > 100000 || col("mixed_token_ppm") > 200000 ||
          col("long_token_ppm") > 100000 || col("consonant_token_ppm") > 300000)
      .orderBy("doc_id")
  }

  /** r10b: segmented type-token ratio (STTR, segment = 50 tokens) per
    * document — the LENGTH-CONTROLLED lexical-diversity scalar: raw TTR
    * collapses as documents grow (types saturate, tokens don't), so
    * corpus-level `text_yule_k`/`text_hapax_ratio` can't rank documents
    * of different lengths; STTR averages TTR over fixed 50-token windows,
    * making short and long documents comparable. Docs under one full
    * segment are excluded (stated — no partial-segment noise). EXACTNESS:
    * types-per-segment is an integer (distinct over an array slice),
    * sttr_ppm = ⌊10⁶·Σtypes/(50·nseg)⌋ an exact integer floor divide,
    * plus one documented double divide. SCALE: the `text_passage_dedup`
    * explode shape — segments are doc-local, work linear in tokens. */
  def textTtrSegmented(documents: DataFrame, w: Int = 50): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"), col("t"),
        explode(sequence(lit(0), (floor(size(col("t")) / w) - 1).cast("int"))).as("i"))
      .select(col("doc_id"), col("n_tokens"),
        size(array_distinct(slice(col("t"), col("i") * w + 1, lit(w))))
          .cast("long").as("types"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_segments"),
        sum(col("types")).as("sum_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_segments"), col("sum_types"),
        call_function("div", col("sum_types").cast(dec) * 1000000,
          (col("n_segments") * w).cast(dec)).cast("long").as("sttr_ppm"))
      .orderBy("doc_id")
  }
}
