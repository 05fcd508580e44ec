package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables
import graft.functions.GraftFunctions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2 E7–E10):
  * language ID, quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` higher-order
  * array functions — per-row work with no shuffle at all, so these scan
  * at parquet speed and scale embarrassingly: at 100 TB they are pure
  * map-side operators whose cost is the read itself. No UDFs — every
  * expression stays inside whole-stage codegen.
  */
object TextAnalysis {

  /** Tiny per-language lexicons for the stopword-overlap heuristic. On
    * real corpora these would be the classic top-N function words per
    * language; the synthetic corpus shares one vocabulary, so the
    * operator's value here is its (deterministic) mechanics. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("join", "merge", "sort", "order"),
    "en" -> Seq("the", "a", "of", "key"),
    "es" -> Seq("data", "row", "table", "column"),
    "fr" -> Seq("query", "filter", "group", "window"),
    "zh" -> Seq("spark", "stream", "batch", "vector"))

  def tokens(text: Column): Column = split(text, " ")

  /** Hits counted with duplicates (len(filter(tokens, t ∈ lex))) — the
    * duplicate-preserving form DuckDB mirrors exactly. */
  def lexiconHits(toks: Column, lexicon: Seq[String]): Column = {
    val lex = array(lexicon.map(lit): _*)
    size(filter(toks, t => array_contains(lex, t))).cast(LongType)
  }

  /** E7 — language ID: score each lexicon, argmax with ties broken by
    * language-code order. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = Lexicons.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (code, lex)) => df.withColumn(s"score_$code",
        graft.functions.TextNative.lexiconHitsL(col("text"), lex))
    }
    val best = greatest(Lexicons.map { case (c, _) => col(s"score_$c") }: _*)
    val pred = Lexicons.foldRight(lit("und")) { case ((c, _), other) =>
      when(col(s"score_$c") === best, lit(c)).otherwise(other)
    }
    // foldRight gives earlier languages priority on ties (de first).
    scored
      .withColumn("pred_lang", pred)
      .drop("text")
      .orderBy(col("doc_id"))
  }

  /** E40 — charset/mojibake cleanliness gate: the encoding-hygiene
    * filter every web-crawl pipeline runs before tokenization. Per doc:
    * exact counts of U+FFFD replacement characters (the smoking gun of
    * a mis-decoded byte stream), C0 control characters, and the
    * non-ASCII ratio in ppm (integer division — exact), plus a keep
    * flag. All metrics are character-count differences after literal
    * `replace` / one `regexp_replace` per class, so every value is an
    * exact integer both engines agree on. Pure map — zero shuffles; at
    * 100 TB the cost is the scan itself.
    *
    * The synthetic corpus is clean ASCII, so deterministic noise is
    * injected first (same rule, same literals in the DuckDB twin —
    * the E22 injected-PII pattern): replacement char on doc_id≡0 (7),
    * accented text on ≡0 (11), control chars on ≡0 (13). */
  def charsetGate(docs: DataFrame, maxNonAsciiPpm: Long = 20000): DataFrame = {
    val noisy = docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit("�")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" café naïve"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("\t\t")).otherwise(lit("")))
        .as("t2"))
    noisy
      .select(col("doc_id"),
        length(col("t2")).cast(LongType).as("n_chars"),
        (length(col("t2")) -
          length(regexp_replace(col("t2"), "�", "")))
          .cast(LongType).as("n_repl"),
        (length(col("t2")) -
          length(regexp_replace(col("t2"), "[\\x00-\\x1f]", "")))
          .cast(LongType).as("n_ctrl"),
        (length(col("t2")) -
          length(regexp_replace(col("t2"), "[^\\x00-\\x7f]", "")))
          .cast(LongType).as("n_non_ascii"))
      .withColumn("non_ascii_ppm",
        expr("(n_non_ascii * 1000000) div n_chars"))
      .withColumn("keep",
        (col("n_repl") === 0 && col("n_ctrl") === 0 &&
          col("non_ascii_ppm") < maxNonAsciiPpm).cast(LongType))
      .drop("n_non_ascii")
      .orderBy(col("doc_id"))
  }

  /** E8 — quality scoring: exact integer counts, ratios as single IEEE
    * divisions of those ints (deterministic cross-engine). */
  def qualityScore(docs: DataFrame): DataFrame = {
    // Native single-pass token stats (graft.functions.TextNative): the
    // composed split→sort→aggregate / filter-HOF forms run interpreted
    // and allocate arrays per row; ExpressionSpec pins native==composed.
    docs.select(col("doc_id"), col("text"))
      .withColumn("ts", graft.functions.TextNative.tokenStatsL(col("text")))
      .withColumn("n_chars", length(col("text")).cast(LongType))
      .withColumn("n_tokens", col("ts.n"))
      .withColumn("n_distinct", col("ts.d"))
      .withColumn("sum_tok_len", col("ts.sl"))
      .withColumn("stop_hits",
        graft.functions.TextNative.lexiconHitsL(col("text"), Lexicons.flatMap(_._2)))
      .drop("ts")
      .withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
      .withColumn("mean_tok_len", col("sum_tok_len") / col("n_tokens"))
      .withColumn("stop_ratio", col("stop_hits") / col("n_tokens"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
          col("distinct_ratio") >= 0.05).cast(LongType))
      .drop("text")
      .orderBy(col("doc_id"))
  }

  /** E9 — token counting: whitespace split, word-regex extraction, and
    * the chars/4 BPE-ish estimate (integer math). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .withColumn("n_ws", size(tokens(col("text"))).cast(LongType))
      .withColumn("n_words",
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast(LongType))
      .withColumn("n_bpe_est", expr("cast((length(text) + 3) div 4 as bigint)"))
      .drop("text")
      .orderBy(col("doc_id"))

  /** E14 — top TF-IDF term per document with exact-integer scoring:
    * score = tf · 1_000_000 div df (integer division — deterministic
    * cross-engine, unlike ln()-based idf whose libm last-ulp differs).
    * Ties break on term order. The corpus is exploded ONCE: tf is the
    * (doc, term) count, and df falls out of tf for free (tf already has
    * exactly one row per (doc, term), so df = count of tf rows per
    * term) — no second explode, no distinct over the raw token stream.
    * One explode → tf agg → tiny df agg joined back on term (AQE
    * broadcasts the document-frequency table while it is small).
    */
  def tfidfTop(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    // df is vocabulary-sized (grows with the corpus): no forced hint —
    // AQE broadcasts while small, shuffles tf on term at web scale
    tf.join(df, Seq("term"))
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** E15 — corpus bigram counts (collocation mining), exact integers. */
  def bigramCounts(docs: DataFrame, minCount: Long = 10): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(par)
      // native one-pass bigram array (I17) — the composed
      // transform(sequence(...)) walks the interpreted HOF path;
      // ExpressionSpec pins native == composed on real documents
      .select(explode(graft.functions.TextNative.bigramsL(col("text")))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("bigram"))
  }

  /** E28 — bigram coherence score: for every bigram occurrence in a
    * document, the corpus-level conditional frequency P(w₂|w₁) in exact
    * ppm (bigram count ·1e6 div prefix count), averaged per document.
    * A fluency/boilerplate heuristic: text whose transitions are common
    * in the corpus scores high, shuffled or off-domain text scores low —
    * the deterministic stand-in for an LM perplexity filter (log-prob
    * scoring is libm-dependent and can't hash-match across engines).
    *
    * Plan: ONE corpus explode reduced immediately to (doc, bigram)
    * counts and materialized once (lazy local checkpoint — per-branch
    * column pruning defeats exchange reuse, see [[TrainingData.dsirScore]]);
    * the corpus bigram model, its prefix denominators, AND the per-doc
    * scoring all derive from that one reduced frame. Model joins carry
    * no forced hints (AQE broadcasts them while small); the
    * occurrence-weighted average is `sum(c·ppm) / sum(c)` over the
    * reduced rows. */
  def bigramCoherence(docs: DataFrame): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val docBigrams = docs
      .repartition(par, col("doc_id"))
      // native one-pass bigram array (I17), as in bigramCounts
      .select(col("doc_id"),
        explode(graft.functions.TextNative.bigramsL(col("text"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // materialize-once barrier (see dsirScore)
    val model = docBigrams.groupBy(col("bg"))
      .agg(sum(col("c")).as("bg_cnt"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val prefix = model.groupBy(col("w1")).agg(sum(col("bg_cnt")).as("w1_cnt"))
    // model/prefix are bigram-vocabulary-sized (grow with the corpus):
    // no forced hints — same rationale as invertedIndex's `keep`
    val scored = model.join(prefix, Seq("w1"))
      .select(col("bg"), expr("bg_cnt * 1000000 div w1_cnt").as("ppm"))
    docBigrams
      .join(scored, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("ppm")).as("sum_ppm"))
      .withColumn("coherence_ppm", expr("sum_ppm div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  /** E46 — hashed-feature linear scoring (the fasttext-style quality
    * classifier's SERVING path): each token is feature-hashed into one
    * of `buckets` slots (Weinberger et al. '09 — the vocabulary never
    * needs to exist as a table) and the document's margin is the sum of
    * the slot weights. Weights here are a deterministic surrogate
    * (Knuth-multiplier permutation of the slot id into [-1000, 1000])
    * standing in for a trained model's coefficient vector: what the
    * operator demonstrates — and what the oracle verifies bit-for-bit —
    * is the SCORING plan: map-side feature hash + one doc-keyed
    * aggregation, no weight table to join (the weight is a pure
    * function of the slot), no shuffle wider than (doc, margin). With a
    * real model the only change is `w(b)` becoming
    * `element_at(broadcast_weights, b)`.
    *
    * Everything is exact integer arithmetic (§5): margin in weight
    * units, label = sign(margin). */
  def hashedLinearScore(docs: DataFrame, buckets: Long = 1024L): DataFrame = {
    val w = (col("b") * 2654435761L) % 2001L - 1000L
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("b", pmod(h32(concat(lit("qw:"), col("tok"))), lit(buckets)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(w).as("margin"))
      .withColumn("label",
        when(col("margin") > 0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** E47 — inverted index build (term → sorted posting list + df/cf):
    * the retrieval-side artifact a corpus pipeline materializes for
    * BM25/contamination lookups. Posting arrays are the one place a
    * per-term collect is legitimate — BUT stopword-grade terms would
    * collect corpus-sized lists (the classic posting-skew hotspot), so
    * the cap is structural: df is computed FIRST on the term-sized
    * stats frame, and only terms under `maxDfPpm` (a fraction of the
    * corpus, scale-portable) ever reach the collect — over-cap terms
    * keep their stats and an empty list (real engines treat them as
    * stop-postings too; a full-web index would delta-encode shards
    * instead). Flow: one occurrence aggregation for (cf, df), one
    * distinct + term-sized broadcast semi-join, one bounded collect.
    *
    * The ppm gate is RELATIVE, so it does not bound a posting row's
    * absolute size as the corpus grows (0.78 × 10⁹ docs is a 6 GB
    * array in one aggregation buffer). `maxPostings` is the ABSOLUTE
    * companion guard: terms whose df exceeds it are stop-listed
    * exactly like over-ppm terms (stats kept, empty list). The 50M
    * default holds a posting row under ~400 MB serialized — inside a
    * default executor; a real shard writer splits lists long before
    * that. Checked at the boundary by ScaleSpec's "driver-bound
    * structures" test. */
  def invertedIndex(docs: DataFrame, maxDfPpm: Long = 780000L,
                    maxPostings: Long = 50000000L): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // cf and df as two plain aggregations sharing the dtok frame —
    // NOT count + countDistinct in one agg, which plans an Expand that
    // doubles every occurrence row entering the shuffle
    val cf = occ.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val dtok = occ.select(col("term"), col("doc_id")).distinct()
      .localCheckpoint(true) // shared by df, the cap gate, and postings
    val df = dtok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val keep = df.crossJoin(broadcast(nDocs))
      .filter(col("df") * 1000000L <= lit(maxDfPpm) * col("n_docs") &&
        col("df") <= lit(maxPostings))
      .select(col("term"))
    // `keep` is vocabulary-sized (under-cap terms): no forced broadcast —
    // a web-scale bigram vocabulary is billions of terms; let AQE
    // broadcast only when it measures small
    val postings = dtok
      .join(keep, Seq("term"))
      .groupBy(col("term"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    cf.join(df, Seq("term"))
      .join(postings, Seq("term"), "left")
      // postings serialized to a comma-joined string: query outputs stay
      // atomic (QueryContractSpec) so external canonicalizers can hash
      // rows; a real shard writer would consume `postings` upstream of
      // this projection
      .select(col("term"), col("df"), col("cf"),
        coalesce(array_join(col("postings").cast("array<string>"), ","),
          lit("")).as("postings"))
      .orderBy(col("term"))
  }

  /** E10 — document fingerprint: left fold of a polynomial rolling hash
    * over per-token 32-bit hashes, mod a Mersenne prime. Order-sensitive
    * (same bag, different order → different fingerprint), unlike a
    * bag-of-words hash. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .withColumn("fp",
        aggregate(transform(tokens(col("text")), t => h32(t)),
          lit(0L), (acc, h) => (acc * 1000003L + h) % 2147483647L))
      .drop("text")
      .orderBy(col("doc_id"))
}
