package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.GraftFunctions._

/** Deduplication family for a training-data pipeline (SURVEY.md §2 E1–E4):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale posture: exact dedup is one hash-shuffle on the content hash;
  * MinHash/LSH shuffles on (band, bucket) so candidate generation never
  * compares across buckets; the true-Jaccard verify runs only on the
  * candidate set, keyed by DISTINCT CONTENT (identical texts verify for
  * free), via linear exploded-gram aggregates — never array_distinct's
  * O(n²) per-row compares. Both closure operators contract exact-dup
  * groups before iterating, so the graph shrinks by the corpus's
  * duplication factor. SimHash dedups tokens through a map-side-combined
  * hash aggregate; MinHash signatures are flat codegen over exploded
  * (doc, shingle) rows.
  */
object Dedup {

  /** Word 3-gram shingles; rows with <3 tokens are dropped (a 2-token
    * doc has no 3-shingle). `distinct` costs O(n²) string compares per
    * doc (array_distinct) — acceptable ONLY in the test-only sampled
    * [[ngramJaccard]] baseline. Every production path (MinHash,
    * [[lshVerify]]) passes distinct=false: MinHash needs no dedup (min
    * over a multiset equals min over its set) and lshVerify dedups via
    * an exploded hash aggregate, linear per doc. */
  def withShingles(docs: DataFrame, distinct: Boolean = true): DataFrame =
    if (!distinct)
      // production path: native one-pass shingle array (I17). The
      // row filter tests the cheap token count, NOT size(sh) —
      // predicate pushdown would inline sh's defining expression into
      // the filter and evaluate the shingle construction twice per row.
      docs
        .filter(size(split(col("text"), " ")) >= 3)
        .withColumn("sh", graft.functions.TextNative.ngramsL(col("text"), 3))
    else {
      // test-only sampled baseline (array_distinct is quadratic per
      // doc). `toks` must be a real column: referencing the split
      // expression inside the lambda would inline it per element_at.
      val grams = transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ",
          element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))
      docs
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .withColumn("sh", array_distinct(grams))
        .drop("toks")
    }

  /** E1 — exact dedup: md5 content groups, keeper = min id. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** The CCNet/RefinedWeb dedup-normalization: lowercase, strip
    * everything but [a-z0-9 ], collapse whitespace runs, trim. Pure
    * codegen string ops; the character class is deliberately ASCII-only
    * so both engines' regex dialects agree byte-for-byte. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** E37 — normalization-aware dedup: hash the NORMALIZED text (the
    * step real pipelines run before every exact/MinHash pass —
    * case/punctuation variants of one document should collide) and
    * report the groups that only normalization catches: normalized
    * groups spanning >1 RAW content. One map-side normalize + the same
    * single md5 hash-shuffle as E1, so the scale posture is identical;
    * n_raw_variants counts distinct raw hashes inside each normalized
    * group (2-level aggregation, no extra corpus pass).
    */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(col("text")).as("raw_hash"),
        md5(normalizeText(col("text"))).as("norm_hash"))
      .groupBy(col("norm_hash"), col("raw_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .groupBy(col("norm_hash"))
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("n_docs")).as("n_copies"),
        count(lit(1)).as("n_raw_variants"))
      .filter(col("n_raw_variants") > 1)
      .orderBy(col("keep_id"))

  /** TEST-ONLY baseline — all-pairs n-gram Jaccard on a keyed sample.
    * The production path is [[lshVerify]] (exact Jaccard on LSH
    * candidates only); this quadratic cross join exists solely to
    * cross-check lshVerify's numbers on a bounded sample in DedupSpec.
    * Never run it un-sampled: all-pairs does not survive scale. */
  def ngramJaccard(docs: DataFrame, sampleMod: Long = 20): DataFrame = {
    val sh = withShingles(docs.filter(col("doc_id") % sampleMod === 0))
      .select(col("doc_id"), col("sh"))
    val a = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val b = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    a.join(b, col("id1") < col("id2"))
      .select(
        col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast(LongType).as("n_inter"),
        (size(col("sh1")) + size(col("sh2"))).cast(LongType).as("n_sum"))
      .withColumn("n_union", col("n_sum") - col("n_inter"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .drop("n_sum")
      .orderBy(col("id1"), col("id2"))
  }

  /** MinHash permutation params: k universal-hash functions
    * `(a_i * x + b_i) mod P` over one shared 32-bit base hash — one md5
    * per shingle total, not per (shingle, function). P is the Mersenne
    * prime 2^31-1; a_i·x stays < 2^63. */
  val MinhashP = graft.functions.TextNative.MinhashP
  def minhashA(i: Int): Long = graft.functions.TextNative.minhashA(i)
  def minhashB(i: Int): Long = graft.functions.TextNative.minhashB(i)

  /** MinHash signatures sig_0..sig_{k-1} via explode + map-side-combined
    * min aggregation: the shuffle carries one row per doc after partial
    * aggregation, and the hot loop is flat codegen over (doc, shingle)
    * rows — no nested array folds.
    *
    * Callers must pre-partition the input on `doc_id` BEFORE the shingle
    * arrays are built (see [[minhashLsh]]): only tiny (id, text) rows
    * cross the wire, the explode stays partition-local, and the groupBy
    * reuses the same hash partitioning — zero further shuffles. */
  def withMinhashSig(shingled: DataFrame, k: Int): DataFrame = {
    // explode_outer, deliberately: plain explode triggers Catalyst's
    // InferFiltersFromGenerate, which clones the whole shingle-building
    // transform into a pre-shuffle filter (evaluated twice, interpreted,
    // before the repartition spreads the work). The arrays are non-empty
    // by construction, so outer ≡ inner here.
    val ex = shingled
      .select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .withColumn("x", h32(col("s")))
    val sigCols = (0 until k).map(i =>
      min((lit(minhashA(i)) * col("x") + lit(minhashB(i))) % MinhashP).as(s"sig_$i"))
    ex.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** The corpus plus synthetic exact duplicates (id+10_000_000 for every
    * dupMod-th doc) — the shared universe for LSH candidate generation,
    * verification, and clustering, so recall is observable on a corpus
    * with no natural dups. */
  def withSyntheticDups(docs: DataFrame, dupMod: Long = 250): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.unionByName(
      base.filter(col("doc_id") % dupMod === 0)
        .select((col("doc_id") + SyntheticDupBase).as("doc_id"), col("text")))
  }

  /** Synthetic re-crawl copies are `id + SyntheticDupBase`
    * ([[withSyntheticDups]]). Any predicate classifying them must use
    * this constant — shared with the DuckDB twins so the two can never
    * drift apart. */
  val SyntheticDupBase: Long = 10000000L

  /** `tools/scale_up.py` shifts replica r's keys by `r * ReplicaShift`.
    * Id-range predicates (e.g. "is this a synthetic re-crawl copy?")
    * must be taken modulo this, or on a scaled corpus every replica-r>0
    * document classifies as a re-crawl and an incremental probe
    * degenerates into a near full self-join (ADVICE r5). Valid while
    * per-replica originals stay below [[SyntheticDupBase]]. */
  val ReplicaShift: Long = 1000000000L

  /** E3 — MinHash+LSH candidate pairs: `bands` bands of `rowsPerBand`
    * signature rows; docs sharing any band bucket become candidates.
    * `dupMod` injects synthetic exact duplicates (id+10_000_000) so the
    * operator's recall is observable on a corpus with no natural dups.
    *
    * The pairs come WITHOUT the final presentation sort — the form
    * downstream consumers ([[lshVerify]], [[lshClusters]]) compose with
    * (a global range-exchange in the middle of their plans would be
    * pure waste). [[minhashLsh]] adds the deterministic output order. */
  def minhashLshPairs(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                      dupMod: Long = 250): DataFrame = {
    val withDups = withSyntheticDups(docs, dupMod)
    val k = bands * rowsPerBand
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // Fused native signature (I19): shingle→h32→k running mins in one
    // tokenize pass — a pure map, bit-identical to [[withMinhashSig]]
    // (pinned in ExpressionSpec). The repartition only spreads the
    // CPU-heavy scan across local cores (tiny (id,text) rows); a real
    // cluster's input splits make it unnecessary. Two-step select so
    // CollapseProject cannot inline the signature expression k times.
    val sig = withDups
      .repartition(par, col("doc_id"))
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sigarr",
        graft.functions.TextNative.minHashSigL(col("text"), 3, k))
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigarr"), i + 1).as(s"sig_$i")): _*)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"sig_${b * rowsPerBand + r}").cast("string"))
      struct(lit(b.toLong).as("band"),
        md5(concat_ws("_", parts: _*)).as("bucket"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      // The signature pipeline (scan → tokenize → k running mins) is
      // the corpus-heavy stage and feeds BOTH sides of the bucket
      // self-join; un-materialized, the executed plan duplicated the
      // whole pipeline into the broadcast build side (2x scan+hash per
      // query — the r14 plan audit). One eager cut pins the band index
      // — (doc_id, band, bucket), corpus x bands rows of ids+hashes,
      // the §8 lightweight proxy the self-join actually needs.
      .localCheckpoint(true)
    val l = buckets.select(col("band"), col("bucket"), col("doc_id").as("id1"))
    val r = buckets.select(col("band"), col("bucket"), col("doc_id").as("id2"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(countDistinct(col("band")).as("n_shared_bands"))
  }

  def minhashLsh(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                 dupMod: Long = 250): DataFrame =
    minhashLshPairs(docs, bands, rowsPerBand, dupMod)
      .orderBy(col("id1"), col("id2"))

  /** E2 (production form) — exact n-gram Jaccard computed ONLY on the
    * LSH candidate pairs from [[minhashLsh]]: the verify stage of the
    * near-dup pipeline. Two hash joins route each candidate pair to its
    * two (distinct-)shingle sets; the quadratic all-pairs comparison
    * never happens — at 100 TB the cost is |candidates|, not |corpus|².
    * Jaccard itself is one IEEE division of exact intersection/union
    * counts (deterministic cross-engine). */
  def lshVerify(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                dupMod: Long = 250): DataFrame =
    verifyCore(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"), col("n_shared_bands"), col("n_inter"),
        (col("n1") + col("n2") - col("n_inter")).as("n_union"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .orderBy(col("id1"), col("id2"))

  /** E48 — CONTAINMENT verify on the same LSH candidates (Broder '97's
    * second resemblance measure): n_inter / min(|A|, |B|). Jaccard
    * punishes length asymmetry — a short doc fully quoted inside a long
    * one scores low Jaccard but containment 1.0 — so this is the
    * measure that catches quote-inclusion and boilerplate-wrapping
    * dups. Shares [[verifyCore]]'s entire candidate/contraction
    * machinery; integer ppm (one div) instead of an IEEE division. */
  def lshContainment(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                     dupMod: Long = 250): DataFrame =
    verifyCore(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"), col("n_inter"),
        least(col("n1"), col("n2")).as("n_min"))
      .withColumn("containment_ppm",
        expr("(n_inter * 1000000) div greatest(n_min, 1)"))
      .orderBy(col("id1"), col("id2"))

  /** E71 — near-dup pair EXPLANATION mart: the forensic row a curator
    * reads before trusting a dedup pass. One verifyCore pass yields,
    * per LSH candidate pair, every overlap measure the E-family uses
    * separately (exact Jaccard ppm, containment ppm, shingle-count
    * ratio, shared bands, raw intersection) PLUS a triage class:
    * `identical_grams` (the gram SETS coincide — verbatim or
    * reordered/duplicated-line copies), `containment` (one side fully
    * inside the other but not vice versa — quote-inclusion /
    * boilerplate-wrapping, the case Jaccard under-scores), `near_dup`
    * (Jaccard ≥ τ), `candidate_only` (an LSH false positive — the
    * banding's honest miss rate made visible instead of silently
    * discarded). All integer ppm; pair work stays candidate-sized. */
  def dupExplain(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                 dupMod: Long = 250, tPpm: Long = 700000L): DataFrame =
    verifyCore(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"), col("n_shared_bands"),
        col("n_inter"), col("n1"), col("n2"))
      .withColumn("jac_ppm",
        expr("1000000 * n_inter div (n1 + n2 - n_inter)"))
      .withColumn("cont_ppm",
        expr("(n_inter * 1000000) div greatest(least(n1, n2), 1)"))
      .withColumn("len_ratio_ppm",
        expr("(least(n1, n2) * 1000000) div greatest(n1, n2)"))
      .withColumn("class",
        when(col("n_inter") === col("n1") && col("n_inter") === col("n2"),
          lit("identical_grams"))
          .when(col("cont_ppm") === 1000000L, lit("containment"))
          .when(col("jac_ppm") >= tPpm, lit("near_dup"))
          .otherwise(lit("candidate_only")))
      .orderBy(col("id1"), col("id2"))

  /** E69 — dedup threshold-SENSITIVITY curve: for each candidate
    * Jaccard threshold, the near-dup pair count and the distinct
    * documents touched, off ONE verify pass — the what-if a curator
    * runs before committing to a cutoff (a cliff between 0.8 and 0.9
    * means the corpus has a template family right at the boundary and
    * the chosen τ decides its fate wholesale; a flat curve means the
    * choice is safe). Thresholds fold over [[verifyCore]]'s EXACT
    * intersection counts as integer ppm (10⁶·∩ div ∪ — never the IEEE
    * jaccard column), so the curve hashes cross-engine; every
    * requested τ emits a row even when empty (zero-completed — an
    * empty band IS the answer).
    *
    * Scale: the E2 posture — pair work is LSH-candidate-sized, the
    * curve fold is pairs × |thresholds| with a bounded literal
    * threshold list, contraction to |thresholds| rows. */
  def thresholdCurve(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                     dupMod: Long = 250,
                     thresholds: Seq[Long] = Seq(500000L, 700000L,
                       800000L, 900000L, 1000000L)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = verifyCore(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"),
        expr("1000000 * n_inter div (n1 + n2 - n_inter)").as("jac_ppm"))
    val folded = pairs
      .select(col("id1"), col("id2"), col("jac_ppm"),
        explode(lit(thresholds.toArray)).as("threshold_ppm"))
      .filter(col("jac_ppm") >= col("threshold_ppm"))
    val nPairs = folded.groupBy(col("threshold_ppm"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = folded
      .select(col("threshold_ppm"),
        explode(array(col("id1"), col("id2"))).as("doc"))
      .distinct()
      .groupBy(col("threshold_ppm"))
      .agg(count(lit(1)).as("n_docs"))
    thresholds.toDF("threshold_ppm")
      .join(nPairs, Seq("threshold_ppm"), "left")
      .join(nDocs, Seq("threshold_ppm"), "left")
      .select(col("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold_ppm"))
  }

  /** Shared verify machinery: LSH candidates routed to per-CONTENT
    * distinct-shingle sets, exact intersection only for differing
    * content pairs. Returns (id1, id2, n_shared_bands, n_inter, n1,
    * n2) — consumers project Jaccard ([[lshVerify]]) or containment
    * ([[lshContainment]]) from the same counts. */
  private def verifyCore(docs: DataFrame, bands: Int, rowsPerBand: Int,
                         dupMod: Long): DataFrame = {
    // pairs feeds several consumers; eager localCheckpoint materializes
    // the whole MinHash pipeline ONCE instead of re-running it per
    // consumer. The frame is candidate-pair-sized — orders of magnitude
    // below the corpus.
    val pairs = minhashLshPairs(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"), col("n_shared_bands"))
      .localCheckpoint(true)
    val candIds = pairs.select(col("id1").as("doc_id"))
      .unionByName(pairs.select(col("id2").as("doc_id"))).distinct()
    val universe = withSyntheticDups(docs, dupMod)

    // Verify by distinct CONTENT, not by doc: exact duplicates (the
    // most common near-dup in a real crawl, and every injected dup
    // here) share a content hash, and identical contents have
    // n_inter = n_sh and jaccard = 1 with NO gram join at all. Only
    // DIFFERING content pairs pay for intersection — on a dup-heavy
    // corpus this collapses the dominant join (measured 11.7 s → see
    // PLANS.md at the 10× replica corpus, where every doc sits in a
    // 10-clique of identical texts).
    val docContent = universe
      .select(col("doc_id"), md5(col("text")).as("ch"))
      .join(candIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    // one representative text per candidate content (texts are
    // identical within a hash, so "any" is deterministic)
    val contentRep = universe
      .select(md5(col("text")).as("ch"), col("text"))
      .join(docContent.select(col("ch")).distinct(), Seq("ch"), "left_semi")
      .dropDuplicates("ch")

    // Distinct shingle SETS as exploded (content, gram) rows, deduped
    // by a map-side-combined hash aggregate — linear per content. The
    // earlier form (array_distinct + array_intersect of whole arrays
    // per pair) paid O(n²) per-row compares on long documents; here
    // intersection size is a count over an equi-join on (content,
    // gram). Non-candidate documents never shuffle a gram row.
    val grams = withShingles(contentRep, distinct = false)
      .select(col("ch"), explode_outer(col("sh")).as("g"))
      .distinct()
      .localCheckpoint(true)
    val sizes = grams.groupBy(col("ch")).agg(count(lit(1)).as("n_sh"))

    val cpairs = pairs
      .join(docContent.select(col("doc_id").as("id1"), col("ch").as("c1")), Seq("id1"))
      .join(docContent.select(col("doc_id").as("id2"), col("ch").as("c2")), Seq("id2"))
      .localCheckpoint(true)
    // gram-intersection join only for DISTINCT differing content pairs
    val needInter = cpairs.filter(col("c1") =!= col("c2"))
      .select(col("c1"), col("c2")).distinct()
    val interC = needInter
      .join(grams.select(col("ch").as("c1"), col("g")), Seq("c1"))
      .join(grams.select(col("ch").as("c2"), col("g")), Seq("c2", "g"))
      .groupBy(col("c1"), col("c2")).agg(count(lit(1)).as("n_i"))

    cpairs
      // left join: docs can share a band bucket (minhash collision)
      // while sharing zero shingles — such pairs have n_inter = 0
      .join(interC, Seq("c1", "c2"), "left")
      .join(sizes.select(col("ch").as("c1"), col("n_sh").as("n1")), Seq("c1"))
      .join(sizes.select(col("ch").as("c2"), col("n_sh").as("n2")), Seq("c2"))
      .select(col("id1"), col("id2"), col("n_shared_bands"),
        when(col("c1") === col("c2"), col("n1"))
          .otherwise(coalesce(col("n_i"), lit(0L))).cast(LongType).as("n_inter"),
        col("n1").cast(LongType).as("n1"), col("n2").cast(LongType).as("n2"))
  }

  /** The (doc_id, band, bucket) band index over (id, text) rows — the
    * PERSISTABLE artifact of the E53 incremental pipeline: a standing
    * corpus writes this frame once (parquet, partitioned by band) and
    * every later batch probes the loaded copy instead of re-signaturing
    * the corpus. Plain columns, no state beyond the rows — the
    * write→read round-trip is pinned in OpsSpec. */
  def bandIndex(side: DataFrame, bands: Int = 4,
                rowsPerBand: Int = 2): DataFrame = {
    val par = side.sparkSession.sparkContext.defaultParallelism
    val k = bands * rowsPerBand
    val sig = side
      .repartition(par, col("doc_id"))
      .withColumn("sigarr",
        graft.functions.TextNative.minHashSigL(col("text"), 3, k))
      .select(col("doc_id") +:
        (0 until k).map(i => element_at(col("sigarr"), i + 1).as(s"sig_$i")): _*)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"sig_${b * rowsPerBand + r}").cast("string"))
      struct(lit(b.toLong).as("band"),
        md5(concat_ws("_", parts: _*)).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
  }

  /** E53 — INCREMENTAL (delta-vs-corpus) near-dedup: the daily-crawl
    * shape. A standing corpus keeps its band-bucket index and shingle
    * sketches as stored artifacts; each new batch signatures ONLY its
    * own documents and probes the index with a bucket equi-join — per
    * batch the cost is O(|batch|) signature work + the probe, never a
    * corpus re-signature and never a corpus self-join. Semantics are
    * deterministic and order-free: a batch doc is a duplicate iff some
    * candidate in (corpus ∪ earlier-batch-ids) passes the exact
    * Jaccard gate tNum/tDen; "earlier" = smaller doc_id, so the batch
    * needs no processing order.
    *
    * The batch here is the natural re-crawl analog on this testdata:
    * every synthetic dup copy (id ≥ 10M — a literal re-crawl of an
    * existing page) plus the `doc_id % newMod = newRem` slice as fresh
    * documents. This is [[incrementalPairs]] plus the per-doc
    * finisher; the document lake's day lane
    * (`graft.etl.LakeLifecycle.dedupDay`) is the core's second caller,
    * with its persisted band index as the stored side. */
  def incrementalLsh(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                     dupMod: Long = 250, newMod: Long = 10, newRem: Long = 7,
                     tNum: Int = 7, tDen: Int = 10): DataFrame = {
    val universe = withSyntheticDups(docs, dupMod)
      .filter(size(split(col("text"), " ")) >= 3)
    // replica-aware re-crawl test: ids are positive, so a plain modulo
    // folds every scale_up replica back onto the original id range
    val isNew = col("doc_id") % ReplicaShift >= SyntheticDupBase ||
      col("doc_id") % newMod === newRem
    // corpus index = the stored artifact; batch buckets = the only
    // per-run signature work, batch-sized → materialize once
    val corpusB = bandIndex(universe.filter(!isNew), bands, rowsPerBand)
    val batchB = bandIndex(universe.filter(isNew), bands, rowsPerBand)
      .localCheckpoint(true)
    val gated = incrementalPairs(batchB, corpusB, universe, tNum, tDen)
    val perDoc = gated.groupBy(col("doc_id"))
      .agg(sum(col("from_corpus")).as("n_cand_corpus"),
        (count(lit(1)) - sum(col("from_corpus"))).as("n_cand_batch"),
        sum(col("dup")).as("n_dup"), max(col("dup")).as("is_dup"))
    universe.filter(isNew).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_cand_corpus", "n_cand_batch", "n_dup", "is_dup"))
      .orderBy(col("doc_id"))
  }

  /** E53's core: every candidate pair of a batch, gated. `batchB` is
    * the batch's [[bandIndex]] (the caller pins it), `storedB` the
    * stored corpus index it probes, and `universe` the `(doc_id,
    * text)` rows both sides' texts come from. Candidates are the
    * stored-bucket matches (`from_corpus` = 1) plus the within-batch
    * pairs with a smaller `other_id` (0); verification re-reads text
    * ONLY for candidate-involved docs (the left-semi prune below — the
    * stand-in for fetching stored sketches), and identical contents
    * short-circuit to dup by identity (the dominant re-crawl case pays
    * no gram join, same contraction as [[verifyCore]]). Returns
    * `(doc_id, other_id, from_corpus, dup)`, `dup` = 1 iff the pair's
    * exact 3-gram Jaccard is ≥ tNum/tDen. */
  def incrementalPairs(batchB: DataFrame, storedB: DataFrame, universe: DataFrame,
                       tNum: Int, tDen: Int): DataFrame = {
    val candCorpus = batchB
      .join(storedB.select(col("band"), col("bucket"),
        col("doc_id").as("other_id")), Seq("band", "bucket"))
      .select(col("doc_id"), col("other_id"), lit(1L).as("from_corpus"))
    val candBatch = batchB
      .join(batchB.select(col("band"), col("bucket"),
        col("doc_id").as("other_id")), Seq("band", "bucket"))
      .filter(col("other_id") < col("doc_id"))
      .select(col("doc_id"), col("other_id"), lit(0L).as("from_corpus"))
    val cand = candCorpus.unionByName(candBatch)
      .groupBy(col("doc_id"), col("other_id"))
      .agg(max(col("from_corpus")).as("from_corpus"))
      .localCheckpoint(true)
    // shingle sets only for candidate-involved docs (stored-sketch fetch)
    val ids = cand.select(col("doc_id"))
      .unionByName(cand.select(col("other_id").as("doc_id"))).distinct()
    val involved = universe.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), md5(col("text")).as("ch"))
      .localCheckpoint(true)
    val grams = involved
      .select(col("doc_id"),
        explode(graft.functions.TextNative.ngramsL(col("text"), 3)).as("g"))
      .distinct()
    val sz = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val withCh = cand
      .join(involved.select(col("doc_id"), col("ch").as("ch1")), Seq("doc_id"))
      .join(involved.select(col("doc_id").as("other_id"), col("ch").as("ch2")),
        Seq("other_id"))
    // identical contents: dup by identity, no gram join
    val needInter = withCh.filter(col("ch1") =!= col("ch2"))
      .select(col("doc_id"), col("other_id"))
    val inter = needInter
      .join(grams, Seq("doc_id"))
      .join(grams.select(col("doc_id").as("other_id"), col("g")),
        Seq("other_id", "g"))
      .groupBy(col("doc_id"), col("other_id")).agg(count(lit(1)).as("n_inter"))
    withCh
      .join(inter, Seq("doc_id", "other_id"), "left")
      .join(sz.select(col("doc_id"), col("n_sh").as("n1")), Seq("doc_id"))
      .join(sz.select(col("doc_id").as("other_id"), col("n_sh").as("n2")),
        Seq("other_id"))
      .withColumn("ni", when(col("ch1") === col("ch2"), col("n1"))
        .otherwise(coalesce(col("n_inter"), lit(0L))))
      .withColumn("dup",
        (lit(tDen.toLong) * col("ni") >=
          lit(tNum.toLong) * (col("n1") + col("n2") - col("ni")))
          .cast(LongType))
      .select(col("doc_id"), col("other_id"), col("from_corpus"), col("dup"))
  }

  /** E45 — MinHash estimator CALIBRATION: per LSH candidate pair, the
    * signature-agreement estimate (matching sigs / k — the unbiased
    * MinHash estimator of Jaccard) side-by-side with the exact Jaccard
    * from [[lshVerify]]. This is the evidence behind every "bands ×
    * rows" tuning decision: how tight is k=8 on THIS corpus? Estimate
    * in exact integer ppm; adds one signature map (native I19, pure
    * map) and two id joins on the candidate-pair frame — nothing
    * corpus-sized beyond what lshVerify already does. */
  def minhashCalibration(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                         dupMod: Long = 250): DataFrame = {
    val k = bands * rowsPerBand
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val verified = lshVerify(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"), col("jaccard"))
    val sig = withSyntheticDups(docs, dupMod)
      .repartition(par, col("doc_id"))
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sigarr",
        graft.functions.TextNative.minHashSigL(col("text"), 3, k))
      .select(col("doc_id"), col("sigarr"))
      // feeds both the id1 and id2 joins below — one eager cut keeps
      // the re-signature pass (scan+tokenize+hash) from running twice;
      // (doc_id, k longs) rows, corpus-linear metadata
      .localCheckpoint(true)
    val eq = (0 until k).map(i =>
      when(element_at(col("a1"), i + 1) === element_at(col("a2"), i + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    verified
      .join(sig.select(col("doc_id").as("id1"), col("sigarr").as("a1")), Seq("id1"))
      .join(sig.select(col("doc_id").as("id2"), col("sigarr").as("a2")), Seq("id2"))
      .withColumn("n_eq_sigs", eq)
      .withColumn("est_ppm", expr(s"(n_eq_sigs * 1000000) div $k"))
      .select(col("id1"), col("id2"), col("n_eq_sigs"), col("est_ppm"),
        col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Shared contraction pre-step for both closure operators: collapse
    * every exact-duplicate content group to its minimum doc id BEFORE
    * the iterative closure. Identical contents share every band, so
    * each group is already a clique in the candidate graph — the
    * contraction merges only already-connected nodes and cannot change
    * components, while shrinking the iterated graph by the corpus's
    * duplication factor (the dominant factor on crawl data). Returns
    * (docRep: (doc_id, rep) over candidate docs, repPairs: contracted
    * distinct edges), both eagerly checkpointed. */
  private def contractedCandidates(docs: DataFrame, bands: Int,
                                   rowsPerBand: Int, dupMod: Long)
      : (DataFrame, DataFrame) = {
    val pairs = minhashLshPairs(docs, bands, rowsPerBand, dupMod)
      .select(col("id1"), col("id2"))
      .localCheckpoint(true)
    val candIds = pairs.select(col("id1").as("doc_id"))
      .unionByName(pairs.select(col("id2").as("doc_id"))).distinct()
    val withCh = withSyntheticDups(docs, dupMod)
      .select(col("doc_id"), md5(col("text")).as("ch"))
      .join(candIds, Seq("doc_id"), "left_semi")
    val reps = withCh.groupBy(col("ch")).agg(min(col("doc_id")).as("rep"))
    val docRep = withCh.join(reps, Seq("ch"))
      .select(col("doc_id"), col("rep"))
      .localCheckpoint(true)
    val repPairs = pairs
      .join(docRep.select(col("doc_id").as("id1"), col("rep").as("r1")), Seq("id1"))
      .join(docRep.select(col("doc_id").as("id2"), col("rep").as("r2")), Seq("id2"))
      .select(least(col("r1"), col("r2")).as("id1"),
        greatest(col("r1"), col("r2")).as("id2"))
      .filter(col("id1") =!= col("id2"))
      .distinct()
      .localCheckpoint(true)
    (docRep, repPairs)
  }

  /** Expand representative-level component labels back to documents:
    * every doc inherits its representative's label; a representative
    * with no contracted edge is its own (content-group) cluster.
    * cluster_id stays "min doc id in component" because each rep IS
    * its group's min id and labels are min-rep ids. */
  private def expandClusters(docRep: DataFrame, labels: DataFrame): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    docRep
      .join(labels.select(col("node"), col("label")),
        docRep("rep") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep")).as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTERING — transitive closure over the LSH candidate
    * pairs, emitting (doc_id, cluster_id=min id in component,
    * cluster_size). Exact-dup groups are contracted to one node first
    * ([[contractedCandidates]]); then iterative min-label propagation:
    * each round every node takes the min of its own and its neighbors'
    * labels; converges in O(component diameter) rounds — LSH dup
    * components are near-cliques (diameter 1–2), so a handful of rounds
    * suffice even at 100 TB. Each round is one shuffle join; frames are
    * persisted and the previous round released, so lineage and memory
    * stay bounded. `maxIter` is a SOFT budget: a component deeper than
    * it (band-collision chains appear on grown distinct-content
    * corpora — found by the r6 10x sweep) escalates automatically to
    * [[ConnectedComponents.components]]' alternating-star contraction,
    * which closes any diameter in O(log^2) rounds with the identical
    * min-label result. */
  def lshClusters(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
                  dupMod: Long = 250, maxIter: Int = 8): DataFrame = {
    val (docRep, repPairs) =
      contractedCandidates(docs, bands, rowsPerBand, dupMod)
    expandClusters(docRep, minLabelClosure(repPairs, maxIter))
      .localCheckpoint(true)
  }

  /** The min-label fixed-point loop over an (id1, id2) edge list;
    * returns (node, label) for every node with ≥1 edge. Package-visible
    * so the escalation contract is testable on adversarial graphs. */
  private[graft] def minLabelClosure(pairs: DataFrame, maxIter: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .persist(MEMORY_AND_DISK)
    val nEdges = edges.count() // materializes the cache; sizes the loop

    // The candidate graph is orders of magnitude smaller than the
    // corpus: the iteration's shuffles are sized to the GRAPH, not to
    // the corpus's partitioning. AQE stays off: it has nothing to
    // re-plan in the loop (partitioning is already sized to the graph,
    // shapes are fixed), and its stage-event loop has a hang window
    // when session confs shift under it mid-session — classic DAG
    // scheduling is both safer and faster here. The scope is safe
    // because every action below runs inside this operator and the
    // returned frame is already materialized.
    GraphStats.withLoopConf(spark, nEdges, keepAqe = false) { _ =>
      // Fused init: round 1 from identity labels is exactly
      // min(node, min neighbor) — computed as ONE aggregation, no join.
      // `persisted` tracks the actual cached frame (unpersist on a
      // projection of it would be a no-op — plans must match).
      var persisted = edges.groupBy(col("src").as("node"))
        .agg(least(first(col("src")), min(col("dst"))).as("label"))
        .persist(MEMORY_AND_DISK)
      var labels = persisted
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val neighborMin = edges.join(labels, edges("dst") === labels("node"))
          .groupBy(col("src")).agg(min(col("label")).as("nmin"))
        val stepped = labels.join(neighborMin, labels("node") === neighborMin("src"), "left")
          .select(col("node"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
          // eager localCheckpoint, not persist: cuts lineage so Catalyst
          // analysis stays O(1) per round (labels appears twice per
          // round — a persisted-but-uncut plan goes exponential past
          // ~10 rounds on high-diameter graphs)
          .localCheckpoint(true)
        changed = stepped.filter(col("label") < col("old_label")).count()
        val prev = persisted
        persisted = stepped
        labels = stepped.select(col("node"), col("label"))
        prev.unpersist(false)
        iter += 1
      }
      // LSH components are near-cliques, so the min-label fixed point
      // lands in a handful of rounds. When it does NOT (the r6 10x
      // unique-content corpus produced a band-collision chain deeper
      // than 20 — O(diameter) loops always have such a cliff), the
      // closure ESCALATES to the alternating-star contraction, which
      // resolves any diameter in O(log^2) rounds with the identical
      // min-label contract — the documented upgrade path, taken
      // automatically instead of asking the caller to retune maxIter.
      // Otherwise materialize once and cut lineage: the loop's named
      // persists can then be released deterministically instead of
      // living until session end (result blocks free on GC of this frame)
      val result =
        if (changed > 0) None
        else Some(labels.select(col("node"), col("label")).localCheckpoint(true))
      edges.unpersist(false)
      persisted.unpersist(false)
      result.getOrElse(ConnectedComponents.components(pairs))
    }
  }

  /** [[lshClusters]] with the alternating large-star/small-star
    * contraction ([[ConnectedComponents]]) instead of min-label
    * propagation: O(log² path) rounds instead of O(diameter), the
    * documented scale path for adversarial (chain-shaped) candidate
    * graphs. Identical output contract — same clusters, same keeper,
    * same oracle. */
  def lshClustersScalable(docs: DataFrame, bands: Int = 4,
                          rowsPerBand: Int = 2, dupMod: Long = 250,
                          maxRounds: Int = 30): DataFrame = {
    val (docRep, repPairs) =
      contractedCandidates(docs, bands, rowsPerBand, dupMod)
    expandClusters(docRep, ConnectedComponents.components(repPairs, maxRounds))
  }

  /** Per-row MinHash signatures (no aggregation): one h32 per shingle
    * materialized as an array column, then k cheap linear permutations
    * folded by array_min. Same numbers as [[withMinhashSig]]; this form
    * is shuffle-free, which streaming ingestion requires. */
  def withMinhashSigPerRow(shingled: DataFrame, k: Int): DataFrame = {
    val hashed = shingled.withColumn("hx", transform(col("sh"), s => h32(s)))
    (0 until k).foldLeft(hashed) { (df, i) =>
      df.withColumn(s"sig_$i", array_min(transform(col("hx"),
        x => (lit(minhashA(i)) * x + lit(minhashB(i))) % MinhashP)))
    }.drop("hx")
  }

  /** E4 — SimHash fingerprint (`bits`-wide): per-bit majority vote over
    * distinct-token 32-bit hashes, computed by the native one-pass
    * [[graft.functions.TextNative.simHash]] expression — the operator is
    * a pure MAP now (zero shuffles; the aggregation form below cost two
    * corpus-token-sized exchanges). ExpressionSpec pins native ==
    * composed on real documents. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.TextNative.simHashL(col("text"), bits).as("simhash"))
      .orderBy(col("doc_id"))

  /** The aggregation form of [[simhash]] — kept as the spec baseline the
    * native expression is pinned against (and the shape a pure
    * functions-only engine would use). */
  def simhashComposed(docs: DataFrame, bits: Int = 16): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // Token-distinct via a map-side-combined hash aggregate over exploded
    // (doc_id, tok) rows — NOT array_distinct, whose per-row pairwise
    // compares are O(n²) in document length (lethal on book-length docs;
    // same hazard class as the gopher-gate note in TrainingData.scala).
    // The aggregate is linear per doc and stays distributed.
    // explode_outer dodges InferFiltersFromGenerate cloning the split
    // into a pre-shuffle interpreted filter; split() output is never
    // empty, so outer ≡ inner here.
    val toks = docs
      .repartition(par, col("doc_id"))
      .select(col("doc_id"),
        explode_outer(split(col("text"), " ")).as("tok"))
      .distinct()
      .withColumn("h", h32(col("tok")))
    val votes = toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .withColumn("vote",
        when(expr("shiftright(h, cast(bit as int)) & 1") === 1, lit(1L))
          .otherwise(lit(-1L)))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("vote")).as("v"))
    votes
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, expr("shiftleft(1L, cast(bit as int))"))
        .otherwise(lit(0L))).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** E60 — dedup-cluster CANONICALIZATION, the apply step the cluster
    * assignment (E16/E26) feeds: every near-dup cluster elects one
    * canonical member — the longest document, ties to the smallest
    * doc_id (the standard keep-the-fullest-copy heuristic; any
    * deterministic quality key slots into the same argmax) — and every
    * other member maps to it with `keep = 0`. Downstream consumers
    * join this mapping to rewrite references and drop the shadowed
    * copies; without it a dedup pass only LABELS duplicates.
    *
    * The argmax rides one cluster-partitioned `first_value` window
    * (full frame, explicit (len desc, id asc) order — identical
    * semantics in DuckDB), on the cluster-member frame the clustering
    * already produced; one extra doc-keyed join attaches lengths. */
  def canonicalize(docs: DataFrame, dupMod: Long = 250): DataFrame = {
    val clusters = lshClusters(docs, dupMod = dupMod)
    // lengths come from the SAME synthetic-dup universe the clustering
    // ran on — an injected copy must be electable (it ties its base on
    // length and loses the id tie-break, exactly the intended outcome)
    val len = withSyntheticDups(docs, dupMod)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("n_chars"))
    val wc = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    clusters.join(len, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(wc))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_chars"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast(LongType).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** E61 — dedup IMPACT report: what the E60 canonicalization would
    * cost each source's slice of the training mixture — docs dropped,
    * tokens dropped, both in exact ppm of the source's mass. The
    * number a curator actually reviews before applying a dedup pass:
    * a source losing 40% of its tokens to near-dups is a crawler
    * configuration bug surfacing as data, not a cleaning win.
    * Synthetic-universe members (injected re-crawl copies) are
    * excluded from the report — it describes the REAL corpus.
    *
    * Scale: the canonical mapping is cluster-member-sized; the left
    * join against it costs one doc-keyed exchange and the report
    * contracts to the source domain. */
  def dedupImpact(docs: DataFrame, dupMod: Long = 250): DataFrame = {
    // replica-aware real-corpus test: fold scale_up replicas back onto
    // the base id range (same idiom as incrementalLsh's isNew), so a
    // replica-r real doc is still reported and only injected synthetic
    // copies are excluded
    val keepMap = canonicalize(docs, dupMod)
      .filter(col("doc_id") % ReplicaShift < SyntheticDupBase)
      .select(col("doc_id"), col("keep"))
    docs
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), t => length(t) > 0))
          .cast(LongType).as("n_tok"))
      .join(keepMap, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(1L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("keep")).as("n_dropped"),
        sum(col("n_tok")).as("n_tokens"),
        sum((lit(1L) - col("keep")) * col("n_tok")).as("tokens_dropped"))
      .withColumn("doc_drop_ppm", expr("1000000 * n_dropped div n_docs"))
      .withColumn("token_drop_ppm",
        expr("1000000 * tokens_dropped div n_tokens"))
      .orderBy(col("source"))
  }

  /** E58 — sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD '95),
    * the classic sort-based alternative to LSH blocking: records sorted
    * by a similarity-preserving key propose only their w−1 sort
    * neighbors as candidates (candidate volume n·(w−1), LINEAR — never
    * all-pairs), then exact token-set Jaccard verifies. The key here is
    * the doc's sorted distinct-token string, so token-shuffled replicas
    * collide exactly and near-dups differing in a late token share a
    * long prefix and sort adjacent.
    *
    * SNM's textbook form needs one GLOBAL sort — a single reducer at
    * scale. The distributed shape (Kolb, Thor & Rahm, "Parallel sorted
    * neighborhood blocking with MapReduce", BTW 2011) partitions the
    * sort and repairs the seams; here the partition is a KEY-PREFIX
    * block (windows run block-partitioned, linear per block) and the
    * seam repair is exact and relational: each block's first/last w−1
    * rows join the ADJACENT block's opposite edge on a dense block
    * index (an equi-join over an aggregate-contracted frame — no
    * global window over the corpus), keeping cross-boundary pairs
    * whose combined edge distance stays inside the window. A block
    * smaller than w can still hide a pair spanning two seams — the
    * published remedy is the same as SNM's own blind spot: run
    * multiple passes with different keys (this op is one pass; union
    * calls with other `blockPrefix`/key choices).
    *
    * All pair proposals are integer/string-deterministic and the
    * verification is exact-integer ppm, so the DuckDB twin replays the
    * identical candidate set and scores. */
  def sortedNeighborhood(docs: DataFrame, w: Int = 4, blockPrefix: Int = 8,
                         minJacPpm: Long = 500000L): DataFrame = {
    val t = docs
      .select(col("doc_id"),
        array_sort(array_distinct(filter(split(col("text"), " "),
          x => length(x) > 0))).as("toks"))
      .filter(size(col("toks")) > 0)
    val keyed = t
      .withColumn("key", concat_ws(" ", col("toks")))
      .withColumn("blk", substring(col("key"), 1, blockPrefix))
      .select(col("doc_id"), col("key"), col("blk"))

    // interior candidates: w−1 leads inside each block-partitioned sort
    val wIn = Window.partitionBy(col("blk")).orderBy(col("key"), col("doc_id"))
    val withLeads = (1 until w).foldLeft(keyed) { (df, i) =>
      df.withColumn(s"nbr_$i", lead(col("doc_id"), i).over(wIn))
    }
    val interior = withLeads
      .select(col("doc_id"),
        explode(array((1 until w).map(i => col(s"nbr_$i")): _*)).as("nbr"))
      .filter(col("nbr").isNotNull)

    // seam candidates: block edges vs the next block's opposite edge
    val rnA = row_number().over(wIn)
    val rnD = row_number().over(
      Window.partitionBy(col("blk")).orderBy(col("key").desc, col("doc_id").desc))
    val marked = keyed.withColumn("rn_a", rnA).withColumn("rn_d", rnD)
    val blkIdx = keyed.groupBy(col("blk")).agg(count(lit(1)).as("n_in_blk"))
      .withColumn("blk_idx", row_number().over(Window.orderBy(col("blk"))))
      .select(col("blk"), col("blk_idx"))
    val tails = marked.filter(col("rn_d") < w).join(blkIdx, Seq("blk"))
      .select(col("doc_id").as("a_id"), col("rn_d"), col("blk_idx"))
    val heads = marked.filter(col("rn_a") < w).join(blkIdx, Seq("blk"))
      .select(col("doc_id").as("b_id"), col("rn_a"),
        (col("blk_idx") - 1).as("blk_idx"))
    val seam = tails.join(heads, Seq("blk_idx"))
      .filter(col("rn_d") + col("rn_a") <= w)
      .select(col("a_id").as("doc_id"), col("b_id").as("nbr"))

    val pairs = interior.unionByName(seam)
      .select(least(col("doc_id"), col("nbr")).as("id1"),
        greatest(col("doc_id"), col("nbr")).as("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_props"))

    pairs
      .join(t.select(col("doc_id").as("id1"), col("toks").as("t1")), Seq("id1"))
      .join(t.select(col("doc_id").as("id2"), col("toks").as("t2")), Seq("id2"))
      .withColumn("n_inter",
        size(array_intersect(col("t1"), col("t2"))).cast(LongType))
      .withColumn("n_union",
        (size(col("t1")) + size(col("t2"))).cast(LongType) - col("n_inter"))
      .withColumn("jac_ppm", expr("1000000 * n_inter div n_union"))
      .filter(col("jac_ppm") >= minJacPpm)
      .select(col("id1"), col("id2"), col("n_props"), col("n_inter"),
        col("n_union"), col("jac_ppm"))
      .orderBy(col("id1"), col("id2"))
  }
}
