package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.GraftFunctions._

/** Training-data preparation operators beyond dedup/curation (SURVEY.md
  * §2 E20–E25): chunking, repetition-based quality gates, PII scrubbing,
  * deterministic dataset splits, benchmark-contamination screening, and
  * stratified sampling.
  *
  * Everything is `org.apache.spark.sql.functions` compositions (plus the
  * codegen'd [[graft.functions.Md5Prefix32]] via `h32`) — no UDFs, so the
  * per-row paths stay inside whole-stage codegen. Shuffle inventory per
  * operator is noted on each method; the corpus-sized shuffles are all
  * single hash exchanges on `doc_id` or on an n-gram key.
  */
object TrainingData {

  private def toks(text: Column): Column = split(text, " ")

  /** E20 — fixed-size token-window chunking with overlap, the standard
    * shape for packing documents into training sequences. One row per
    * (doc, window): `chunk_id` counts windows of `chunkTokens` tokens
    * advancing by `strideTokens` (stride < chunk ⇒ overlap); the last
    * window is the remainder (never empty — every doc yields ≥ 1 chunk).
    *
    * Scale: pure map-side (repartition, then split/slice/explode — no
    * shuffle after the repartition, which a multi-file 100 TB scan
    * wouldn't need at all). Output is ~n_tokens/stride rows per doc;
    * the explode is over an always-non-empty `sequence`, so
    * InferFiltersFromGenerate's extra filter is a cheap attribute test.
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 40, strideTokens: Int = 30)
      : DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0, "chunk/stride must be positive")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
      // windows fully covering the doc: 1 + ceil((n - chunk) / stride)
      .withColumn("n_chunks",
        lit(1L) + when(col("n") > chunkTokens,
          expr(s"(n - $chunkTokens + ${strideTokens - 1}) div $strideTokens"))
          .otherwise(lit(0L)))
      .withColumn("idx", sequence(lit(0L), col("n_chunks") - 1))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(col("idx")).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"),
          (col("chunk_id") * strideTokens + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens.toLong), col("n") - col("chunk_id") * strideTokens)
          .cast(LongType).as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** E21 — repetition-based quality gate in the style of the published
    * Gopher/MassiveText rules: fraction of duplicate tokens, and the
    * share of the most-frequent unigram and bigram. All ratios are exact
    * integer parts-per-million (`x * 1e6 div total`) so both engines
    * agree bit-for-bit.
    *
    * Scale: the per-doc distinct/max counts come from exploded n-gram
    * aggregations (two hash shuffles keyed by (doc, gram) then doc) —
    * never from `array_distinct`, whose O(n²) compares would blow up on
    * book-length documents. The two n-gram branches join doc-keyed
    * aggregates of the same pre-partitioned scan.
    */
  def gopherQuality(docs: DataFrame,
                    maxTopUnigramPpm: Long = 120000,
                    maxTopBigramPpm: Long = 80000,
                    maxDupTokenPpm: Long = 800000): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), col("text"), toks(col("text")).as("toks"))
    val uni = base
      .select(col("doc_id"), explode_outer(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_uni"))
    val bi = base
      // native one-pass bigram array (I17); empty arrays drop in explode
      .select(col("doc_id"),
        explode(graft.functions.TextNative.bigramsL(col("text"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_bi"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("(n_tokens - n_distinct) * 1000000 div n_tokens").as("dup_tok_ppm"),
        expr("max_uni * 1000000 div n_tokens").as("top_uni_ppm"),
        coalesce(expr("max_bi * 1000000 div n_bigrams"), lit(0L)).as("top_bi_ppm"))
      .withColumn("gopher_ok",
        (col("top_uni_ppm") <= maxTopUnigramPpm &&
          col("top_bi_ppm") <= maxTopBigramPpm &&
          col("dup_tok_ppm") <= maxDupTokenPpm).cast(LongType))
      .orderBy(col("doc_id"))
  }

  private val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val PhoneRe = "\\d{3}-\\d{4}"

  /** E22 — PII scrubbing: redact email/phone patterns and count the
    * redactions. The synthetic corpus carries no PII, so deterministic
    * fake PII is first injected for doc_id ≡ 0 (mod 7 / mod 11) — both
    * engines derive the identical injected text, making the scrub
    * oracle-checkable end to end. Pure map-side; the scrubbed text is
    * surfaced as a 32-bit content hash (compact, still pins every byte).
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val injected = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" asap"))).otherwise(lit("")))
    // TWO regex passes, not four: the scrub itself needs both
    // replacements, and the redaction COUNTS then come from cheap
    // literal-token arithmetic on the scrubbed text ((len − len
    // without '<EMAIL>') / 7) — same values (replacement tokens are
    // injected only by the scrub: '<EMAIL>' carries no digits, phone
    // replacement can't create an email, and the corpus + injected
    // noise contain neither literal). Measured 14.5 → 9.2 s at 30×.
    docs.select(col("doc_id"), injected.as("t"))
      .withColumn("s2",
        regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        expr("(length(s2) - length(replace(s2, '<EMAIL>', ''))) div 7")
          .as("n_emails"),
        expr("(length(s2) - length(replace(s2, '<PHONE>', ''))) div 7")
          .as("n_phones"),
        h32(col("s2")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }

  /** E23 — deterministic hash-based train/val/test split (80/10/10) with
    * per-(source, split) accounting. The split key is a salted content-
    * independent id hash, so membership is stable across runs and
    * engines, and adding documents never reassigns existing ones. One
    * map-side hash + one small aggregation shuffle.
    */
  def hashSplit(docs: DataFrame): DataFrame = {
    val bucket = pmod(h32(concat(lit("split:"), col("doc_id").cast("string"))),
      lit(100L))
    docs
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"), col("split"))
  }

  /** E73 — LEAKAGE-SAFE train/val/test split: E23's deterministic
    * hash split keyed by the near-dup CLUSTER representative instead
    * of the document id, so a near-duplicate pair can never straddle
    * train and test — the eval-contamination hole a doc-id split
    * leaves wide open (the test twin of a train doc inflates eval;
    * E24/E54 SCREEN for that leak, this split makes it structurally
    * impossible for known clusters). Singletons (no LSH candidate)
    * key by their own id, so the split reduces to E23 exactly on a
    * dup-free corpus; cluster ids are min-ids, hence stable under
    * corpus growth like E23's contract. Per (source, split): docs,
    * distinct cluster keys, char mass.
    *
    * Scale: rides E16's bounded cluster machinery (contraction-first
    * LSH, min-label closure on the rep graph), one doc-keyed join,
    * one split-key hash — nothing new at corpus scale. */
  def clusterSafeSplit(docs: DataFrame): DataFrame = {
    val clusters = Dedup.lshClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val bucket = pmod(
      h32(concat(lit("split:"), col("ckey").cast("string"))), lit(100L))
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ckey")).as("n_clusters"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"), col("split"))
  }

  /** E35 — priority sampling (Duffield, Lund & Thorup, JACM 2007):
    * weight-proportional subset selection with DETERMINISTIC uniforms.
    * u = (md5₃₂(doc)+1)/2³² ∈ (0,1], priority q = w/u, keep the N
    * largest — the classic scheme for unbiased weighted subset-sum
    * estimation that needs only a top-N, not inclusion-probability
    * bookkeeping. Here w = n_chars (token-budget-proportional pick).
    *
    * Scale: top-N is TakeOrdered — a per-partition heap merged once on
    * the driver; no global sort, no shuffle of the corpus. Determinism:
    * q is two correctly-rounded IEEE ops on exact integers, identical
    * cross-engine (same discipline as the cosine family).
    */
  def prioritySample(docs: DataFrame, n: Int = 100): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
        (col("n_chars").cast("double") * lit(4294967296.0) /
          (h32(concat(lit("prio:"), col("doc_id").cast("string"))) + lit(1L))
            .cast("double")).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(n)

  /** E36 — deterministic mixture sampling: fill a per-source character
    * budget (the DoReMi/Pile-style fixed mixture weights, here keyed by
    * source parity so the oracle can derive the same budgets) by taking
    * documents in md5-permuted order until the budget is reached —
    * selection is "cumulative chars BEFORE this doc < budget", so every
    * source overshoots by at most one document and the pick is stable
    * under corpus growth upstream of the permutation.
    *
    * Scale: one shuffle on source + a per-source running sum. A source
    * with 10¹⁰ docs makes that window sequential — the shard-parallel
    * cumsum from sequence packing (E30) is the drop-in scale path once
    * budgets get per-shard pre-splits; the selection predicate is
    * unchanged.
    */
  def mixtureSample(docs: DataFrame, evenBudget: Long = 4000,
                    oddBudget: Long = 2000): DataFrame = {
    val budget = when(expr("cast(substring(source, 4) as int) % 2") === 0,
      evenBudget).otherwise(oddBudget)
    val w = Window.partitionBy(col("source"))
      .orderBy(h32(concat(lit("mix:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("cum_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  /** E24 — benchmark-contamination screen: for each training document,
    * how many distinct n-grams it shares with a held-out evaluation set
    * (here doc_id ≡ 0 mod `evalMod`; real pipelines join against the
    * benchmark suite and use 8–13-gram windows — same plan, the synthetic
    * vocabulary is too small for 8-grams to ever collide).
    *
    * Scale: both sides reduce to DISTINCT n-gram hashes before the join;
    * the eval side (a benchmark suite) is tiny → broadcast, so the
    * corpus-sized cost is one (doc, gram) distinct shuffle. Only
    * contaminated docs are emitted.
    */
  def contamination(docs: DataFrame, gram: Int = 2, evalMod: Long = 97)
      : DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // native one-pass n-gram hashes via the I24 GENERATOR — windows
    // stream through GenerateExec without materializing the per-doc
    // hash array first (on book-length docs that array is the
    // allocation hazard); hash-identical to the array+explode form
    // (ExpressionSpec), short docs emit nothing
    val grams = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextNative.explodeNgramHashesL(col("text"), gram))
      .select(col("doc_id"), col("g"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("g")).distinct()
    grams.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalGrams), Seq("g"))
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** E29 — duplicated-n-gram span coverage, the per-document signal
    * behind exact-substring train-set dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): for every document,
    * the fraction of its tokens covered by n-grams that occur ≥
    * `minCount` times in the whole corpus. Real pipelines use 8–13-gram
    * windows over suffix arrays; the plan is identical at any `gram`
    * (the synthetic vocabulary only collides at small n).
    *
    * Covered-token count is the exact union of the (overlapping) dup-gram
    * intervals, computed from consecutive dup positions with a `lead`
    * window — `min(gram, next_pos − pos)` per gram, `gram` for the last —
    * NOT by exploding each gram into its `gram` positions and
    * de-duplicating (which would multiply the shuffle by the window
    * width).
    *
    * Shuffle inventory: corpus explode → count shuffle on the gram hash,
    * join-back shuffle on the same key, then one doc-keyed window+agg;
    * the dup-gram set stays distributed (it is corpus-sized at 100 TB —
    * never broadcast).
    */
  def dupSpanCoverage(docs: DataFrame, gram: Int = 3, minCount: Long = 2)
      : DataFrame = {
    require(gram >= 2, "gram must be ≥ 2")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), col("text"),
        size(toks(col("text"))).cast(LongType).as("n"))
      .filter(col("n") >= gram)
    val grams = base.select(col("doc_id"), col("n"),
      posexplode_outer(
        graft.functions.TextNative.ngramHashesL(col("text"), gram))
        .as(Seq("pos0", "g")))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
    val covered = grams.join(dup, Seq("g"))
      .withColumn("nxt", lead(col("pos0"), 1).over(w))
      .select(col("doc_id"), col("n"),
        when(col("nxt").isNull, lit(gram.toLong))
          .otherwise(least(lit(gram.toLong),
            (col("nxt") - col("pos0")).cast(LongType))).as("cov"))
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("dup_grams"), sum(col("cov")).as("cov_toks"))
    base.select(col("doc_id"), col("n"))
      .join(covered, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - (gram - 1)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("cov_toks"), lit(0L)).as("covered_tokens"))
      .withColumn("coverage_ppm", expr("covered_tokens * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** E30 — GPT-style sequence packing: concatenate documents and cut at
    * fixed `budget`-token boundaries, emitting each document's packed
    * position (sequence id, offset, sequences spanned). Packing runs
    * independently inside `shards` hash shards — a document's placement
    * depends only on its shard's predecessors, so there is NO global
    * sort/cumsum (the classic single-partition scale-killer); each shard
    * is one bounded window sort, shards pack in parallel, and real
    * pipelines shard exactly like this (per input file). Deterministic:
    * shard = salted id hash, order = doc_id within shard.
    */
  def packSequences(docs: DataFrame, budget: Int = 512, shards: Int = 32)
      : DataFrame = {
    require(budget > 0 && shards > 0, "budget/shards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), size(toks(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("shard",
        pmod(h32(concat(lit("pack:"), col("doc_id").cast("string"))),
          lit(shards.toLong)))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        expr(s"(cum - n_tok) % $budget").as("seq_offset"),
        expr(s"(cum - n_tok) div $budget").as("seq_id"),
        expr(s"(cum - 1) div $budget - (cum - n_tok) div $budget + 1")
          .as("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** E31 — DSIR-style importance scoring (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-bigram distribution looks like a
    * target domain versus the raw corpus. The published estimator is a
    * bag-of-hashed-n-grams log-likelihood ratio; the libm-free
    * deterministic variant scores each occurrence by the DIFFERENCE of
    * Laplace-smoothed per-million frequencies (a linear classifier on
    * the same features — same plan, bit-stable across engines).
    *
    * ONE corpus-sized pass: explode bigrams → hash into `buckets` →
    * count per (doc, bucket). The bucket model (target/raw counts,
    * ≤ `buckets` rows) is derived FROM that reduced frame — no second
    * explode — and joins back as a broadcast; totals ride along via a
    * broadcast single-row crossJoin. Scoring target-domain docs too
    * costs nothing and gives the sanity signal (they should score high).
    */
  def dsirScore(docs: DataFrame, targetSource: String = "src0",
                buckets: Int = 8192): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val perDoc = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"),
        (col("source") === targetSource).cast(LongType).as("is_target"),
        toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode_outer(transform(sequence(lit(1), size(col("toks")) - 1),
          i => pmod(h32(concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1))), lit(buckets.toLong)))).as("b"))
      .groupBy(col("doc_id"), col("is_target"), col("b"))
      .agg(count(lit(1)).as("c"))
      // Materialize-once barrier on the REDUCED frame: it feeds three
      // branches (model, totals, scoring) that need different column
      // subsets, so Catalyst's per-branch pruning makes the subtrees
      // non-identical and exchange reuse can never fire — each branch
      // would re-scan and re-explode the corpus (verified in the final
      // AQE plan: three parquet scans). A lazy local checkpoint is the
      // two-phase materialization any engine performs for a shared
      // reduced intermediate; blocks free on GC of the plan.
      .localCheckpoint(eager = false)
    val model = perDoc.groupBy(col("b")).agg(
      sum(col("c") * col("is_target")).as("ct"),
      sum(col("c") * (lit(1L) - col("is_target"))).as("cr"))
    val totals = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val weighted = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (expr(s"(ct + 1) * 1000000 div (tt + $buckets)") -
          expr(s"(cr + 1) * 1000000 div (tr + $buckets)")).as("w_ppm"))
    perDoc
      .join(broadcast(weighted), Seq("b"))
      .groupBy(col("doc_id"), col("is_target"))
      .agg(sum(col("c")).as("n_grams"),
        sum(col("c") * col("w_ppm")).as("score_sum"))
      // Both engines truncate integer division toward zero (Spark `div`,
      // DuckDB `//`) — verified on negative sums, so this is hash-stable.
      .withColumn("score_avg", expr("score_sum div n_grams"))
      .withColumn("selected",
        (col("is_target") === 0 && col("score_avg") > 0).cast(LongType))
      .orderBy(col("doc_id"))
  }

  /** E33 — duplicated-n-gram span REMOVAL (the dedup step of Lee et
    * al.'s exact-substring dedup, where E29 is the detection signal):
    * every token covered by a corpus-duplicated n-gram occurrence is
    * dropped and the survivors reassemble in order. Aggressive variant
    * (ALL occurrences removed, not all-but-one) — deterministic and
    * order-independent, which a distributed remover needs.
    *
    * Shape: the n-gram explode + corpus-count join of [[dupSpanCoverage]],
    * then covered POSITIONS (hit start + 0..gram-1, distinct) anti-join
    * the exploded token rows — all linear shuffles, no per-row interval
    * scans, and the DuckDB twin mirrors the exact same joins. Output is
    * bounded per doc (counts + md5 of the cleaned text). */
  def removeDupSpans(docs: DataFrame, gram: Int = 3, minCount: Long = 2)
      : DataFrame = {
    require(gram >= 2, "gram must be ≥ 2")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val base = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), col("text"), toks(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast(LongType))
    val gramed = base.filter(col("n") >= gram)
      .select(col("doc_id"),
        posexplode_outer(
          graft.functions.TextNative.ngramHashesL(col("text"), gram))
          .as(Seq("pos0", "g")))
    val dup = gramed.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("g"))
    // posexplode's pos0 is 0-based: hit j covers 1-based tokens
    // j+1 .. j+gram
    val coveredPos = gramed.join(dup, Seq("g"))
      .select(col("doc_id"),
        explode_outer(sequence(col("pos0") + 1, col("pos0") + gram)).as("p"))
      .distinct()
    val tokRows = base
      .select(col("doc_id"), posexplode_outer(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("p"), col("tok"))
    val kept = tokRows.join(coveredPos, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok")))).as("clean_md5"))
    base.select(col("doc_id"), col("n"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        (col("n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** E32 — C4/RefinedWeb-style common-line (boilerplate) removal: split
    * each document into fixed `lineTokens`-token "lines", drop every
    * line whose hash appears in ≥ `minDocFreq` DISTINCT documents
    * (navigation bars, footers, license banners — the lines that repeat
    * across a crawl), and reassemble the surviving lines in order.
    * Output is bounded per doc: line counts plus the md5 of the cleaned
    * text (never the text itself).
    *
    * Shuffle inventory: one doc_id repartition before the token arrays
    * are built (tiny rows cross the wire), one hash aggregation on
    * line_hash for the document-frequency table (map-side combined),
    * one join of line rows to that table, one doc_id aggregation to
    * reassemble. The df table join is written as a plain shuffle join —
    * correct at any scale; in practice boilerplate lines are a small
    * distinct set and AQE converts the build side to a broadcast.
    */
  def removeCommonLines(docs: DataFrame, lineTokens: Int = 10,
                        minDocFreq: Long = 3): DataFrame = {
    require(lineTokens > 0 && minDocFreq > 1, "bad line/df parameters")
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val lines = docs
      .select(col("doc_id"), col("text"))
      .repartition(par, col("doc_id"))
      .withColumn("tk", toks(col("text")))
      // posexplode_outer: the array is non-empty by construction, and
      // the outer form dodges InferFiltersFromGenerate cloning the
      // line-building transform into a pre-shuffle interpreted filter
      .select(col("doc_id"),
        posexplode_outer(transform(
          sequence(lit(0), ceil(size(col("tk")) / lineTokens.toDouble).cast("int") - 1),
          i => concat_ws(" ", slice(col("tk"), i * lineTokens + 1, lit(lineTokens)))))
          .as(Seq("pos", "line")))
      .withColumn("line_hash", md5(col("line")))
    val df = lines
      .groupBy(col("line_hash"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
    val kept = lines
      .join(df, Seq("line_hash"))
      .withColumn("keep", (col("line_df") < minDocFreq).cast(LongType))
    kept
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        (count(lit(1)) - sum(col("keep"))).as("n_removed"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("keep") === 1L,
              struct(col("pos"), col("line"))))),
            s => s.getField("line")))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** E25 — stratified sampling: a deterministic pseudo-random `perKey`
    * documents per stratum (language), ranked by a salted id hash. The
    * window's top-N is pushed down as a group-limit (WindowGroupLimit),
    * so no stratum ever materializes a full sort of its partition.
    */
  def stratifiedSample(docs: DataFrame, perKey: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(h32(concat(lit("strat:"), col("doc_id").cast("string"))),
        col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= perKey)
      .orderBy(col("lang"), col("rn"))
  }

  /** E51 — deterministic global shuffle + shard layout: the
    * training-data WRITER's final step. Every epoch-0 data-loading
    * stack wants the corpus in a pseudorandom order that is (a) fully
    * determined by a seed (reproducible runs, resumable jobs), (b)
    * independent of cluster layout / partition count / input file
    * order, and (c) split into N equal-ish shards whose WITHIN-shard
    * order is also deterministic. One md5 per row provides all three:
    * shard = first-8-hex-digits mod N (the E23 split idiom), position
    * = rank of the full digest within the shard.
    *
    * Scale: NO global sort — the only exchange is the hash partition
    * on `shard`, and each shard sorts its own ~corpus/N rows under the
    * window. Shard count is the written-file parallelism; at 100 TB
    * pick N in the thousands and each per-shard sort is executor-sized.
    * Expected shard imbalance is √(n/N) rows (binomial), negligible at
    * scale and asserted small in TrainingDataSpec. */
  def deterministicShuffle(docs: DataFrame, nShards: Int = 8,
                           seed: String = "shuf42"): DataFrame = {
    val ranked = docs.select(col("doc_id"),
      md5(concat(lit(seed + ":"), col("doc_id").cast("string"))).as("rk"))
      .withColumn("shard",
        pmod(conv(substring(col("rk"), 1, 8), 16, 10).cast(LongType),
          lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("rk"), col("doc_id"))
    ranked
      .withColumn("pos", row_number().over(w).cast(LongType) - 1L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** E59 — per-SOURCE boilerplate detection, the RefinedWeb/CCNet
    * "domain template" pass the GLOBAL passes structurally miss: a
    * site's header/footer/nav grams saturate that source's documents
    * while staying rare corpus-wide, so E32 (global line frequency)
    * and E29 (global dup spans, count ≥ 2 across the whole corpus)
    * under- or over-react exactly where a per-site denominator is
    * needed. A trigram is source-boilerplate when it appears in ≥
    * `thresholdPpm` of ITS OWN source's documents (distinct-doc df,
    * exact integer share); each doc then reports what fraction of its
    * distinct grams is its source's template.
    *
    * Scale: per-doc DISTINCT gram arrays (I17 native hashes) explode
    * into ONE (source, gram)-keyed shuffle, where a window count
    * computes the within-source df with NO second gram exchange
    * (partitionBy(source, g) — df attaches to the already-shuffled
    * rows in place); per-source doc counts are an aggregate-contracted
    * broadcast; the per-doc roll-up is the only other shuffle. */
  def sourceBoilerplate(docs: DataFrame, gram: Int = 3,
                        thresholdPpm: Long = 500000L): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"),
        array_distinct(
          graft.functions.TextNative.ngramHashesL(col("text"), gram)).as("gs"))
      .filter(size(col("gs")) > 0)
    val nd = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val dg = base
      .select(col("doc_id"), col("source"), explode(col("gs")).as("g"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("source"), col("g"))))
    dg.join(broadcast(nd), Seq("source"))
      .withColumn("is_boiler",
        when(expr("df * 1000000 div n_docs") >= thresholdPpm, 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("is_boiler")).as("n_boiler"))
      .withColumn("boiler_ppm", expr("1000000 * n_boiler div n_grams"))
      .orderBy(col("doc_id"))
  }
}
