package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions — one scan, whole-stage codegen, no UDFs.
  */
object TextAnalysis {

  /** Marker word sets for the n-gram/stopword language heuristic. A
    * real system swaps in per-language frequency profiles; the
    * heuristic structure (per-language evidence score → argmax with
    * deterministic tie-break) is what the operator contract fixes. */
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "zu"))

  /** Language-ID heuristic: argmax of marker scores with a fixed
    * precedence (en > es > de) on ties. All three marker counts come
    * from ONE native WordStats pass (codegen loop, no interpreted
    * array lambdas, no materialized split array). */
  def langScores(text: Column): Seq[(String, Column)] = {
    val langs = Seq("en", "es", "de")
    val st = graft.functions.WordStats.wordStats(text, langs.map(Markers))
    langs.zipWithIndex.map { case (l, i) =>
      l -> st.getField("set_counts").getItem(i)
    }
  }

  /** Quality-score features (length / stopword / word-shape ratios —
    * the standard pre-training quality signals). One native WordStats
    * pass supplies every counter; the ratio arithmetic is unchanged,
    * so values are bit-identical to the HOF formulation the oracle
    * replays (TextAnalysisSpec pins native ≡ HOF on adversarial
    * inputs; the t2/t14/c2/t1 hash matches pin it corpus-wide). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val stopwords = Markers.values.flatten.toSeq
    val st = graft.functions.WordStats.wordStats(text, Seq(stopwords))
    val nWords = st.getField("n_words")
    val nChars = length(text)
    val nStop = st.getField("set_counts").getItem(0)
    val nLong = st.getField("n_long")
    val nShort = st.getField("n_short")
    Seq(
      "n_words" -> nWords,
      "n_chars" -> nChars,
      // mean word length: (chars - separators) / words
      "avg_word_len" -> (nChars - (nWords - 1)).cast("double") / nWords,
      "stopword_ratio" -> nStop.cast("double") / nWords,
      "long_word_ratio" -> nLong.cast("double") / nWords,
      "short_word_ratio" -> nShort.cast("double") / nWords)
  }

  /** Composite quality score in [0, 1]-ish: rewards stopword presence
    * and moderate word lengths, penalizes very short tokens. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    f("stopword_ratio") * 0.4 +
      (lit(1.0) - f("short_word_ratio")) * 0.4 +
      least(f("avg_word_len") / 10.0, lit(1.0)) * 0.2
  }

  /** Fixed-window document chunking with overlap — the map-side
    * operator that turns a long-document corpus into training-window
    * rows (the generic form of the reference's transcript chunker,
    * transformers/helpers.py token windows). Chunk i covers
    * `[i·(size−overlap), i·(size−overlap)+size)` in characters; the
    * last chunk may run short; every doc yields ≥ 1 chunk (empty text
    * included, as one empty chunk). Pure column arithmetic —
    * `explode(sequence)` + `substr` — so chunking is a projection, no
    * shuffle, and parallelism follows the scan. Char windows are the
    * portable exemplar; a token-window variant is the same shape with
    * the tokenizer's offsets as the cut points.
    *
    * Reconstructability (spec-pinned): chunk 0 plus each later
    * chunk's suffix after `overlap` chars concatenate back to the
    * exact original text. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            size: Int, overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0")
    val step = size - overlap
    val n = greatest(lit(1),
      ceil((length(col(textCol)) - lit(overlap)).cast("double") / step)
        .cast("int"))
    df.select(col(idCol), col(textCol), n.as("n_chunks"))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("n_chunks") - 1)))
      .withColumn("chunk_text",
        col(textCol).substr(col("chunk_idx") * step + 1, lit(size)))
      .drop(textCol)
  }

  /** Normalization for pre-dedup text canonicalization: lowercase,
    * strip non-alphanumeric-non-space characters, collapse whitespace
    * runs, trim — semantically
    * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))`,
    * which is exactly how the SQL oracle replays it. Implemented as the
    * native one-pass [[graft.functions.NormalizeText]] automaton: the
    * two java-regex passes (plus two intermediate document copies) were
    * the dominant term of the corpus build at the 100x point, paid
    * twice because the dedup key and the non-empty filter both
    * reference the column. Canonicalizing BEFORE MinHash/SimHash is
    * what makes near-dup detection robust to case/punctuation noise. */
  def normalize(text: Column): Column =
    graft.functions.NormalizeText.normalize(text)

  /** Rolling-hash document fingerprint over word lengths:
    * acc = (acc*31 + len(word)+1) mod 1e9+7, starting at 0. Uses word
    * SHAPE, not content hashes (historical: predates the portable
    * PolyHash); content sensitivity comes from Dedup.simHash and the
    * PolyHash-based operators instead. Native codegen expression — the
    * HOF `aggregate(split(...))` fold it replaces was the last
    * interpreted per-row lambda in a registered query. */
  def fingerprint(text: Column): Column =
    graft.functions.ShapeFingerprint.fingerprint(text)

  /** Repetition signal (the published pre-training quality rule:
    * excessive top-n-gram mass marks boilerplate/spam): per doc, the
    * count of the single most frequent word n-gram and its fraction of
    * all n-grams. Positioned grams come out of the WordNGrams
    * byte-slicer map-side (multiplicity kept — the count IS the
    * signal); the per-(doc, gram) partial aggregate collapses inside
    * the scan partition, so the first exchange already carries
    * per-doc distinct gram counts. No window sort, no UDFs. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val grams = df.select(col(idCol).as("__id"),
      explode(graft.functions.WordNGrams.allGrams(col(textCol), n)).as("__s"))
    grams.groupBy(col("__id"), col("__s")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(max(col("__c")).as("top_gram_count"),
        sum(col("__c")).cast("long").as("n_grams"))
      .withColumn("top_gram_frac",
        col("top_gram_count").cast("double") / col("n_grams"))
      .withColumnRenamed("__id", idCol)
  }

  /** Out-of-vocabulary rate against a corpus-derived top-K vocabulary
    * (the cheap unigram-LM quality proxy: high OOV mass against the
    * corpus's own head vocabulary marks noise/garble). Vocabulary
    * selection is deterministic (count desc, word asc tie-break) via
    * orderBy+limit = TakeOrderedAndProject — per-partition partial
    * top-k, NO global window — then broadcast back against the token
    * stream. Two shuffles total (word counts, per-doc rollup), both
    * on high-cardinality keys. */
  def oovStats(df: DataFrame, idCol: String, textCol: String,
               vocabSize: Int = 10): DataFrame = {
    val tok = df.select(col(idCol).as("__id"),
      explode(split(col(textCol), " ")).as("__w"))
    val vocab = tok.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(vocabSize)
      .select(col("__w"), lit(1).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_words"),
        count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_frac", col("n_oov").cast("double") / col("n_words"))
      .withColumnRenamed("__id", idCol)
  }

  /** Unigram-LM surprisal — the cheap perplexity proxy (the published
    * quality filter: score documents by a simple LM and drop the
    * tails): per doc, the mean negative log2-probability of its words
    * under the corpus's OWN unigram distribution,
    * `p(w) = count(w) / total_tokens`.
    *
    * Shape at 100 TB: the token stream shuffles on the word key for
    * the count aggregate; the token→count join broadcasts the count
    * table when the vocabulary fits (the usual case — natural-language
    * vocabularies are millions of rows, not corpus-scale), falling
    * back to a word-key sort-merge join otherwise; the corpus-total is
    * a 1-row aggregate broadcast via cross join; the per-doc rollup is
    * the remaining shuffle. No driver-side vocab, no global window. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the token stream carries an 8-byte xxhash64 word DIGEST, not the
    // word string: the count aggregate and the count join both shuffle
    // on the word key, and digest counts equal string counts up to a
    // vocabulary collision (~V²/2^65, never) — the same trade the
    // dedup family makes (d1 group keys, c1/d8 gram keys). The oracle
    // keeps counting strings; equal counts ⇒ bit-equal surprisals.
    val tok = df.select(col(idCol).as("__id"),
      explode(split(col(textCol), " ")).as("__w"))
      .select(col("__id"), xxhash64(col("__w")).as("__wd"))
    val counts = tok.groupBy(col("__wd")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__total"))
    // -log2(c/total) = log2(total) - log2(c), associated exactly as in
    // the oracle SQL so float noise stays below the rounding cut
    tok.join(counts, Seq("__wd"))
      .crossJoin(broadcast(total))
      .select(col("__id"),
        (log2(col("__total")) - log2(col("__c"))).as("__nll"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_words"), avg(col("__nll")).as("mean_surprisal"))
      .withColumnRenamed("__id", idCol)
  }

  /** Bigram-LM surprisal — the next step up from [[unigramSurprisal]]
    * on the published LM-quality-filter ladder: per doc, the mean
    * negative log2 conditional probability of its word bigrams under
    * the corpus's OWN bigram model,
    * `-log2 P(w2|w1) = log2 c(w1 ·) - log2 c(w1 w2)`,
    * where both counts are over the corpus bigram stream (so the
    * model is self-normalized and every scored bigram has been seen —
    * no smoothing constant to tune). Degenerate repetition scores
    * near 0 bits; incoherent word salad scores near log2(vocab).
    *
    * Shape at 100 TB: the bigram stream is assembled map-side
    * (WordNGrams byte-slicer, multiplicity kept — no doc-key shuffle,
    * no window sort); the two count tables are vocab²- and
    * vocab-sized aggregates that broadcast back (AQE converts the
    * joins when the model fits, the usual case); the per-doc rollup
    * is the remaining shuffle. No driver-side model, no global
    * window. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g = df.select(col(idCol).as("__id"),
        explode(graft.functions.WordNGrams.allGrams(col(textCol), 2)).as("__s"))
      .withColumn("__w1", substring_index(col("__s"), " ", 1))
    val bgc = g.groupBy(col("__s")).agg(count(lit(1)).as("__cbg"))
    val w1c = g.groupBy(col("__w1")).agg(count(lit(1)).as("__c1"))
    val per = g.join(bgc, Seq("__s")).join(w1c, Seq("__w1"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log2(col("__c1")) - log2(col("__cbg"))).as("mean_surprisal"))
    // completeness: docs with < 2 words carry n_bigrams = 0, null mean
    df.select(col(idCol))
      .join(per, df(idCol) === per("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_surprisal"))
  }

  /** Corpus collocation extraction by pointwise mutual information —
    * the phrase-mining primitive (Mikolov-style word2phrase joins,
    * terminology extraction, tokenizer merge seeding): a bigram is a
    * collocation when P(w1 w2) ≫ P(w1)·P(w2).
    *
    * Scale shape: bigram assembly is the map-side
    * [[graft.functions.WordNGrams]] pass (no per-word explode
    * upstream); the exchanges are the unigram and bigram COUNT
    * aggregates (word-scale keys, map-side partials) plus two
    * vocab-scale count joins; corpus totals are one broadcast scalar;
    * the final top-k is orderBy+limit = TakeOrderedAndProject. PMI is
    * ranked on its 4dp grid (tie → bigram text) so the cut is
    * engine-portable. */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5,
                   topK: Int = 20): DataFrame = {
    val bg = df.select(
        explode(graft.functions.WordNGrams.allGrams(col(textCol), 2)).as("__s"))
      .groupBy(col("__s")).agg(count(lit(1)).as("c12"))
      .withColumn("__w1", substring_index(col("__s"), " ", 1))
      .withColumn("__w2", substring_index(col("__s"), " ", -1))
    val un = df.select(explode(split(col(textCol), " ")).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val totals = un.agg(sum(col("__c")).as("__n"))
      .crossJoin(bg.agg(sum(col("c12")).as("__b")))
    val pmi = log(
      (col("c12").cast("double") / col("__b")) /
        ((col("c1").cast("double") / col("__n")) *
         (col("c2").cast("double") / col("__n"))))
    bg.filter(col("c12") >= minCount)
      .join(un.select(col("__w").as("__w1"), col("__c").as("c1")), Seq("__w1"))
      .join(un.select(col("__w").as("__w2"), col("__c").as("c2")), Seq("__w2"))
      .crossJoin(broadcast(totals))
      .select(col("__w1").as("w1"), col("__w2").as("w2"), col("c12"),
        graft.functions.Rounding.exactRound(pmi, 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-source boilerplate n-gram detection — the web-corpus cleaning
    * primitive (strip the navigation/footer phrases that repeat across
    * a domain's pages): an n-gram is boilerplate for a source when it
    * appears in at least `minFrac` of that source's documents. Output
    * is the detection table (source, gram, df_docs, n_src_docs,
    * doc_frac); [[stripBoilerplate]] applies it.
    *
    * Shape at 100 TB: gram assembly and the per-doc DISTINCT are both
    * MAP-SIDE, inside one codegen'd expression — each doc's distinct
    * grams come out of [[graft.functions.WordNGrams]] as byte-slices of
    * the doc's own text (no per-word explode, no doc-key shuffle, no
    * window sort, no split array), so the ONLY corpus-sized exchange is
    * the (source, gram) doc-frequency count; per-source doc counts are
    * a tiny aggregate that broadcasts into the final join. Measured at
    * the 100x point (sf10): the first cut shuffled every word row
    * through a doc-key window (48–56 s); the second built grams with
    * `transform`+`slice`+`concat_ws`+`array_distinct`, map-side but
    * interpreted per element because HOFs are CodegenFallback (33.5 s;
    * DiagT20 timed the interpreted assembly alone at 46 s); the native
    * expression assembles the same grams in one generated byte scan.
    * The detection table needs the gram SURFACE FORM, but gram STRINGS
    * must not ride the corpus exchange: at sf100 (260M gram rows, ~95%
    * singletons) the string-keyed count measured 435 s of a ~500 s run
    * (DiagT20). The count therefore runs on (source, 8-byte xxhash64)
    * — a 24 B shuffle row — and surface forms join back via a second
    * map-side gram pass against the BROADCAST survivor table (tiny
    * after the doc_frac filter; survivors-join-back, the c2/t22/d2
    * discipline). A 64-bit within-source gram collision would merge
    * two grams' counts (~#grams²/2^65 — the d1/c1 digest trade);
    * distinct() collapses the per-occurrence duplicates of each
    * surviving gram. */
  def boilerplateGrams(df: DataFrame, idCol: String, srcCol: String,
                       textCol: String, n: Int, minFrac: Double): DataFrame = {
    def grams = df
      .select(col(srcCol).as("source"),
        explode(graft.functions.WordNGrams.grams(col(textCol), n)).as("gram"))
    val srcSizes = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_src_docs"))
    val survivors = grams
      .select(col("source"), xxhash64(col("gram")).as("__g"))
      .groupBy(col("source"), col("__g")).agg(count(lit(1)).as("df_docs"))
      .join(broadcast(srcSizes), Seq("source"))
      .withColumn("doc_frac",
        col("df_docs").cast("double") / col("n_src_docs"))
      .filter(col("doc_frac") >= minFrac)
      .localCheckpoint() // tiny; pins true size for the broadcast below
    grams
      .withColumn("__g", xxhash64(col("gram")))
      .join(broadcast(survivors), Seq("source", "__g"))
      .select(col("source"), col("gram"), col("df_docs"),
        col("n_src_docs"), col("doc_frac"))
      .distinct()
  }

  /** Apply a boilerplate detection table: remove every occurrence of
    * the source's single most frequent boilerplate gram (df_docs desc,
    * gram asc tie-break — deterministic) from each document, then
    * collapse the whitespace the removal leaves behind. One broadcast
    * join (the detection table is tiny relative to the corpus) — the
    * cleaning pass itself is a pure projection. */
  def stripBoilerplate(df: DataFrame, srcCol: String, textCol: String,
                       boiler: DataFrame): DataFrame = {
    val top = boiler
      .groupBy(col("source"))
      .agg(min_by(col("gram"), struct(negate(col("df_docs")), col("gram")))
        .as("__top_gram"))
    df.join(broadcast(top), df(srcCol) === top("source"), "left")
      .drop(top("source"))
      .withColumn(textCol,
        when(col("__top_gram").isNotNull,
          trim(regexp_replace(
            replace(col(textCol), col("__top_gram"), lit("")), "\\s+", " ")))
          .otherwise(col(textCol)))
      .drop("__top_gram")
  }

  /** Character-entropy quality signal: Shannon entropy (bits) of the
    * per-doc character distribution — near-zero entropy marks
    * degenerate repetition, unusually high entropy marks binary
    * garble. `H = log2(n) - sum(c*log2(c))/n` over per-char counts c.
    * Two shuffles: (doc, char) counts, then the per-doc rollup. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df.select(col(idCol).as("__id"),
        explode(split(col(textCol), "")).as("__ch"))
      // Spark's split("") keeps a trailing zero-width match; DuckDB's
      // string_split does not — drop it on this side
      .filter(length(col("__ch")) > 0)
    chars.groupBy(col("__id"), col("__ch")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_chars"),
        sum(col("__c").cast("double") * log2(col("__c"))).as("__s"))
      .select(col("__id").as(idCol), col("n_chars"),
        (log2(col("n_chars")) - col("__s") / col("n_chars")).as("entropy"))
  }

  /** Gopher-style stopwords (Rae et al. 2021 §A1.1 uses a short
    * function-word list; this is the classic English head). */
  val GopherStopwords: Seq[String] =
    Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")

  /** Rule-based quality filtering, the Gopher/C4/Dolma shape (Rae et
    * al. 2021 §A1.1; Raffel et al. 2020 §2.2): per-document scalar
    * signals, one boolean per rule, and a conjunctive keep flag. The
    * point of the operator is auditability at corpus scale — every
    * rule's pass/fail survives into the output so "why was this
    * dropped" is a filter, not a re-run.
    *
    * All signals are single-pass column expressions over the text (two
    * regexp_replace passes + one split; whole-stage codegen, no
    * interpreted array lambdas — stopword hits via array_intersect on
    * the already-split words, a native collection expression). At
    * 100 TB this is a pure map: no shuffle, no state, trivially
    * partition-parallel; thresholds are corpus-tunable parameters.
    *
    * Thresholds are calibrated to the synthetic corpus so every rule
    * actually discriminates (word counts run 10-99, mean word lengths
    * 3.7-5.3): minWords=30, meanWordLen in [4.0, 5.0], ≥2 distinct
    * stopwords, alpha ratio ≥ 0.6.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 30L, maxWords: Long = 100000L,
                  minMeanWordLen: Double = 4.0, maxMeanWordLen: Double = 5.0,
                  minStopwordHits: Int = 2, minAlphaRatio: Double = 0.6): DataFrame = {
    val (wordCount, meanWordLen, stopwordHits, alphaRatio) =
      gopherStats(col(textCol))
    df.select(
        col(idCol),
        wordCount.as("word_count"),
        meanWordLen.as("mean_word_len"),
        stopwordHits.as("stopword_hits"),
        alphaRatio.as("alpha_ratio"))
      .withColumn("r_word_count",
        col("word_count").between(minWords, maxWords))
      .withColumn("r_mean_word_len",
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("r_stopwords", col("stopword_hits") >= minStopwordHits)
      .withColumn("r_alpha", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_stopwords") && col("r_alpha"))
  }

  /** The four gopher signals as raw Columns over the text — the ONE
    * definition [[gopherRules]] (the t25 surface) and [[gopherKeep]]
    * (the filter form) both build from, so the two can never diverge. */
  private def gopherStats(t: Column): (Column, Column, Column, Column) = {
    val words = split(trim(t), "\\s+")
    // char counts: alpha chars vs all non-whitespace chars
    val nonSpace = length(regexp_replace(t, "\\s", "")).cast("double")
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    (size(words).cast("long"),
      nonSpace / nullif(size(words).cast("double"), lit(0.0)),
      size(array_intersect(array_distinct(words),
        array(GopherStopwords.map(lit): _*))),
      alpha / nullif(nonSpace, lit(0.0)))
  }

  /** The gopher gate as a single boolean predicate over the raw text.
    * `df.filter(gopherKeep(col(text)))` selects exactly the rows whose
    * [[gopherRules]] `keep` is true (ids are unique per row, the gate is
    * a pure per-row projection, and a null conjunct never passes a
    * filter) — WITHOUT the id-list join-back `docs ⋈ gopherRules(docs)`
    * that c3/c3b used to pay: at 100 TB that join is a corpus-sized
    * equi-join (two exchanges once the id list outgrows a broadcast),
    * while this form is a scan-level predicate — no exchange at any
    * scale (guide §2.4: remove shuffles outright). */
  def gopherKeep(t: Column,
                 minWords: Long = 30L, maxWords: Long = 100000L,
                 minMeanWordLen: Double = 4.0, maxMeanWordLen: Double = 5.0,
                 minStopwordHits: Int = 2, minAlphaRatio: Double = 0.6): Column = {
    val (wordCount, meanWordLen, stopwordHits, alphaRatio) = gopherStats(t)
    wordCount.between(minWords, maxWords) &&
      meanWordLen.between(minMeanWordLen, maxMeanWordLen) &&
      (stopwordHits >= minStopwordHits) && (alphaRatio >= minAlphaRatio)
  }

  /** Convenience: attach all text-analysis columns to a DataFrame. */
  /** Per-document novelty: the fraction of a document's DISTINCT word
    * n-shingles first seen in that document, under ascending-id
    * arrival order. The data-curation dual of dedup: instead of
    * dropping near-copies, score how much each document ADDS to the
    * corpus — boilerplate-heavy or mostly-quoted docs score near 0,
    * genuinely new text near 1 (cf. the coverage/novelty weighting in
    * data-mixture curation; "first occurrence wins" is the same rule
    * exact-substring dedup applies at span level).
    *
    * Scale shape: shingle sets come from the map-side-distinct
    * WordNGrams slicer (no distinct() exchange), and every exchange
    * after that carries (doc_id, 64-bit shingle digest) — 16-byte
    * rows, the sf100 gram-exchange lesson. First-seen is one groupBy
    * min over the digest (partial aggregation collapses repeated
    * shingles map-side); the digest join back is equi-join on the
    * 8-byte digest; the per-doc fold re-groups on doc_id. No window,
    * no corpus-sized strings past the first projection.
    *
    * Returns (idCol, n_shingles, n_novel, novelty∈[0,1] at 4dp). Docs
    * with fewer than n words have no shingles and are absent. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val sh = Dedup.shingleRows(df, idCol, textCol, n)
      .select(col("__id"), xxhash64(col("__s")).as("__g"))
    val firstSeen = sh.groupBy(col("__g")).agg(min(col("__id")).as("__first"))
    sh.join(firstSeen, "__g")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__first") === col("__id"), lit(1))).as("n_novel"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_novel"),
        graft.functions.Rounding.exactRound(
          col("n_novel").cast("double") / col("n_shingles"), 4).as("novelty"))
  }

  def annotate(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val scores = langScores(t)
    val scored = scores.foldLeft(df) { case (d, (l, c)) => d.withColumn(s"score_$l", c) }
    scored
      .withColumn("predicted_lang",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de"), "en")
          .when(col("score_es") >= col("score_de"), "es")
          .otherwise("de"))
      .withColumn("quality_score", qualityScore(t))
      .withColumn("n_tokens", TextFunctions.tokenCount(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
