package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup detection.
  *
  * Scale design (100 TB):
  *  - Exact dedup is a single hash shuffle on the fingerprint (Spark 4's
  *    WindowGroupLimit pushes the rank-1 filter below the exchange, so only
  *    one candidate row per (fingerprint, partition) shuffles).
  *  - MinHash signatures are computed in-row from each document's shingle
  *    array (MinHashSignature: one native expression, projected once per
  *    doc next to the shingles) — no explode, no doc-id shuffle, no join
  *    back onto the shingle rows. The band slices read the projected
  *    `sig` attribute; an expression referenced by all 16 slices (nested
  *    array lambdas were) would be re-inlined once per band by
  *    CollapseProject and evaluated 16 times.
  *  - Fuzzy variants never do an O(n²) cross join: candidates come from
  *    LSH band buckets (MinHash), 15-bit chunk buckets (SimHash —
  *    pigeonhole guarantees FULL recall for hamming ≤ 3 over 4 chunks),
  *    PPJoin prefix indexes (n-gram Jaccard), or coordinate-sign buckets
  *    (embeddings). Expensive exact verification runs only on candidate
  *    pairs, in-row against doc-count-sized array/sketch sides.
  *  - Verification is integer-exact (Jaccard per-mille via array
  *    intersections of hash sets, hamming via xor/bit_count, cosine via
  *    quantized integer dot products compared cross-multiplied) so every
  *    operator has a DuckDB oracle that hash-matches — no float
  *    rounding-mode drift.
  *  - Skew: a pathological bucket (e.g. millions of identical docs) turns
  *    the bucket self-join quadratic. `maxBucket` caps membership per bucket
  *    (rows beyond the cap in one bucket are still caught by their other
  *    bands with high probability) — the standard salting-style guard.
  */
object Dedup {

  /** Exact dedup: keep the smallest-id row per normalized-text fingerprint.
    * One shuffle on the fingerprint; WindowGroupLimit bounds the sort. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(text)).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingle set (distinct xxhash64 values) of a text column —
    * native expression, not HOF lambdas (see
    * [[graft.functions.DistinctShingleHashes]]). */
  def shingleSet(text: Column, n: Int): Column =
    graft.functions.TextHashes.distinctShingleHashes(
      TextAnalysis.tokens(text), n)

  // Why every shingle explode below is `explode_outer`, NOT `explode`:
  // plain explode makes Catalyst infer a `size(shingles) > 0` filter
  // (InferFiltersFromGenerate) whose predicate embeds the whole shingle
  // expression, and predicate pushdown then evaluates it BELOW the widening
  // exchange — i.e. the full shingling of every document runs serially
  // inside the scan task, per action. Shingle arrays are never empty (even
  // "" yields one shingle), so outer explode is row-identical and dodges
  // the inferred filter.

  /** Near-duplicate pairs via MinHash + LSH banding, verified with the exact
    * Jaccard similarity of the shingle sets (integer per-mille, floor).
    *
    * Returns (id_a, id_b, jaccard_permille) with id_a < id_b and
    * jaccard >= `thresholdPermille`. The LSH stage is candidate generation
    * only — the output is defined purely by the exact Jaccard threshold, so
    * the DuckDB brute-force oracle matches as long as banding recall is 1
    * at the threshold (with r hashes per band and b bands, a pair at
    * similarity s survives with prob 1-(1-s^r)^b; defaults r=2, b=16 give
    * miss ≈ 1e-9 at s=0.85 — duplicate pairs in practice sit far above any
    * sensible threshold while the background sits far below; see
    * PipelineSpec's recall assertion against the brute-force result and the
    * RecallCheck tool for larger SFs).
    */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      thresholdPermille: Int = 500, maxBucket: Int = 1000,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // ONE shingle pass feeds both the in-row signature and the
    // array-based verification (scoped persist, released on materialize —
    // spill-safe MEMORY_AND_DISK; at 100 TB this is the standard
    // "shingle once" stage).
    val base = signed(df, id, text, n, numHashes)
    scoped(materialize, base) {
      val cand = candidatePairs(banded(base, bands, rows), maxBucket)
      verifyJaccardArrays(cand, base, thresholdPermille)
    }
  }

  /** Exact n-gram Jaccard pairs within a blocking key (e.g. same source),
    * EXACT output, sub-quadratic candidates via PPJoin-style prefix
    * filtering (Xiao et al., WWW'08; Bayardo et al., WWW'07):
    *
    *  - Canonical shingle order = (global document frequency asc, hash asc) —
    *    a total order with the rarest shingles first.
    *  - Each doc indexes only its PREFIX: the first
    *    `sz − ⌈t·sz⌉ + 1` shingles under that order. Lossless by the prefix
    *    lemma: Jaccard ≥ t forces |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two docs
    *    whose prefixes are disjoint can share at most ⌈t·|A|⌉ − 1 elements
    *    (every common element ≤ both prefix boundaries would sit in both
    *    prefixes), so every qualifying pair shares a PREFIX shingle.
    *  - Candidates = prefix-index self-join within the block; verification =
    *    intersection counting against the FULL shingle stream (exact).
    *
    * This removes the df² hotspot of a naive inverted-index join: a
    * stop-shingle shared by a whole block is the most frequent, lands at the
    * END of every doc's canonical order, and therefore never enters a
    * prefix — the join cost is Σ df² over RARE shingles only. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      blocking: Column, n: Int = 3, thresholdPermille: Int = 500,
      materialize: Boolean = true): DataFrame = {
    val base = ngramBase(df, id, text, blocking, n)
    // sz travels WITH the exploded rows (computed from the in-row array)
    // so the prefix stage needs no second window/join to learn it.
    val exploded = base.select(col("id"), col("block"),
      size(col("shingles")).cast("long").as("sz"),
      explode(col("shingles")).as("sh"))
    // r17 (optimization): the prefix index joins the scoped persist set —
    // the candidate SELF-join references it through both sides, and an
    // unpersisted prefix meant the df-count shuffle + df join + rank
    // window all ran twice (measured on the isolated bench).
    val prefix = prefixShingles(exploded, thresholdPermille)
    scoped(materialize, base, prefix) {
      // Size filter (also lossless): J(A,B) ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t —
      // prunes size-mismatched collisions before the distinct.
      val cand = prefix.select(col("block"), col("sh"), col("id").as("id_a"),
          col("sz").as("sz_a"))
        .join(prefix.select(col("block"), col("sh"), col("id").as("id_b"),
          col("sz").as("sz_b")), Seq("block", "sh"))
        .filter(col("id_a") < col("id_b") &&
          col("sz_b") * 1000 >= col("sz_a") * thresholdPermille &&
          col("sz_a") * 1000 >= col("sz_b") * thresholdPermille)
        .select("id_a", "id_b").distinct()
      verifyJaccardArrays(cand, base.select(col("id"), col("shingles")),
        thresholdPermille)
    }
  }

  /** Reference formulation (full inverted-index join, no prefix filter):
    * cost is Σ_shingle df² per block. Kept as the independent exact baseline
    * for property tests and recall checks — NOT the shipped operator. */
  private[graft] def ngramJaccardPairsFullIndex(df: DataFrame, id: Column,
      text: Column, blocking: Column, n: Int = 3,
      thresholdPermille: Int = 500): DataFrame = {
    val base = ngramBase(df, id, text, blocking, n)
    scoped(true, base) {
      val sizes = base.select(col("id"), size(col("shingles")).as("sz"))
      val exploded = base.select(col("id"), col("block"),
        explode(col("shingles")).as("sh"))
      val inter = exploded.select(col("block"), col("sh"), col("id").as("id_a"))
        .join(exploded.select(col("block"), col("sh"), col("id").as("id_b")),
          Seq("block", "sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      jaccardFromCounts(inter, sizes, thresholdPermille)
    }
  }

  private def ngramBase(df: DataFrame, id: Column, text: Column,
      blocking: Column, n: Int): DataFrame =
    graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), blocking.as("block"),
            text.as("__text"))
          .filter(col("__text").isNotNull))
      .select(col("id"), col("block"), shingleSet(col("__text"), n).as("shingles"))

  /** Per-doc prefix of the (id, block, sz, sh) stream: the `sz − ⌈t·sz⌉ + 1`
    * rarest shingles under the global (df asc, sh asc) order. One shuffle
    * for the document frequencies, one window (sort by id) for the rank —
    * both linear in the shingle stream. The ceil runs in exact double
    * (sz·t ≤ ~1e7 and integer-valued quotients of /1000 are exactly
    * representable). */
  private def prefixShingles(exploded: DataFrame,
      thresholdPermille: Int): DataFrame = {
    val dfreq = exploded.groupBy("sh").agg(count(lit(1)).as("__df"))
    val wOrd = Window.partitionBy("id").orderBy(col("__df").asc, col("sh").asc)
    exploded.join(dfreq, "sh")
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <=
        col("sz") - ceil(col("sz") * thresholdPermille / 1000) + 1)
      .select("id", "block", "sh", "sz")
  }

  /** Near-COPY pairs by shared winnowing fingerprints within a blocking
    * key (the MOSS plagiarism-detection predicate — each shared fingerprint
    * witnesses a shared substring of length ≥ k, and any shared run of
    * length ≥ k + w − 1 is guaranteed a witness). Two threshold modes:
    *
    *  - ABSOLUTE (`ratioPermille = None`, MOSS parity): pairs sharing
    *    ≥ `minShared` distinct fingerprints. Prefix filter in overlap form:
    *    if |A∩B| ≥ T then A and B share an element within their
    *    `sz − T + 1` rarest fingerprints (global df order); docs with fewer
    *    than T fingerprints are dropped from the index entirely. The prefix
    *    excludes only a CONSTANT `minShared − 1` of each doc's most frequent
    *    fingerprints, so a block where many docs share one mid-frequency
    *    boilerplate fingerprint ranked below every doc's top-(T−1) still
    *    yields df² false candidates — an inherent property of any lossless
    *    filter for an absolute threshold (the qualifying-pair criterion
    *    does not scale with doc size).
    *  - RATIO (`ratioPermille = Some(p)`): pairs sharing
    *    ≥ ⌈p‰ · max(sz_a, sz_b)⌉ fingerprints (overlap scaled to the LARGER
    *    doc — the containment-style predicate). Here the per-doc prefix is
    *    `sz − ⌈p·sz/1000⌉ + 1`: threshold-scaled exactly like
    *    [[ngramJaccardPairs]], and lossless because the pair threshold
    *    ⌈p·max⌉ dominates each doc's own ⌈p·sz⌉. The max (not min) scaling
    *    is what MAKES a scaled lossless prefix possible: a min-scaled
    *    threshold admits pairs of wildly different sizes, so no per-doc
    *    prefix shorter than the whole doc can be lossless (a tiny doc's
    *    threshold would bound the big doc's prefix). Ratio mode also
    *    enables the size filter `1000·min(sz) ≥ p·max(sz)` in the
    *    candidate join.
    *
    * ABSOLUTE-mode skew cap (`dfCap = Some(c)`, the [[capBuckets]] analog):
    * every (block, fingerprint) posting in the prefix index keeps only its
    * `c` smallest doc ids, so one boilerplate fingerprint contributes at
    * most c² candidate pairs instead of df² — the inherent absolute-
    * threshold corner becomes bounded. DOCUMENTED LOSSY FALLBACK: a true
    * pair is retained iff SOME shared prefix fingerprint keeps both docs
    * within its cap (ids are kept smallest-first, deterministically); a
    * pair whose every shared rare fingerprint is hotter than `c` can be
    * missed. Precision is unaffected — verification stays exact — and
    * `dfCap = None` (default) keeps the lossless contract. Ratio mode
    * already threshold-scales its prefix and size-filters its join, so the
    * cap applies to absolute mode only.
    *
    * Verification is in-row array intersection against the doc-count-sized
    * fingerprint-array side. Output: (id_a, id_b, n_shared). */
  def winnowPairs(df: DataFrame, id: Column, text: Column, blocking: Column,
      k: Int = 5, w: Int = 8, minShared: Int = 10,
      ratioPermille: Option[Int] = None,
      dfCap: Option[Int] = None,
      materialize: Boolean = true): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    ratioPermille.foreach(p =>
      require(p >= 1 && p <= 1000, "ratioPermille must be in [1, 1000]"))
    dfCap.foreach(c => require(c >= 2, "dfCap must be >= 2"))
    require(dfCap.isEmpty || ratioPermille.isEmpty,
      "dfCap is the absolute-mode skew cap; ratio mode is already " +
        "threshold-scaled and size-filtered")
    val base = winnowBase(df, id, text, blocking, k, w)
      .filter(size(col("fps")) >=
        ratioPermille.fold(minShared)(_ => 1))
    val prefix = winnowPrefix(base, minShared, ratioPermille, dfCap)
    scoped(materialize, base, prefix) {
      val cand = winnowCandidatesFrom(prefix, ratioPermille)
      // r10 verify shave (VERDICT r9 #8): fingerprints are DISTINCT by
      // construction (winnow_hashes), so sorting each doc's array ONCE
      // lets every candidate pair verify with an allocation-free merge
      // count instead of array_intersect's per-pair hash set + result
      // array (equality pinned in DedupProps)
      val arrays = base.select(col("id"),
        sort_array(col("fps")).as("fps"))
      val shared = cand
        .join(arrays.select(col("id").as("id_a"), col("fps").as("__fa")), "id_a")
        .join(arrays.select(col("id").as("id_b"), col("fps").as("__fb")), "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.SortedLongIntersectCount
            .sortedIntersectCount(col("__fa"), col("__fb"))
            .as("n_shared"),
          size(col("__fa")).cast("long").as("__sza"),
          size(col("__fb")).cast("long").as("__szb"))
      ratioPermille.fold(shared.filter(col("n_shared") >= minShared))(p =>
          shared.filter(col("n_shared") * 1000 >=
            greatest(col("__sza"), col("__szb")) * p &&
            col("n_shared") >= 1))
        .select("id_a", "id_b", "n_shared")
    }
  }

  /** The prefix index of [[winnowPairs]]' candidate stage over `base`'s
    * (id, block, fps) rows — split out (r17) so [[winnowPairs]] can pin it
    * in the scoped persist set: the candidate self-join references it
    * through both sides, and unpersisted the df-count shuffle + df join +
    * rank window all ran twice. All size arithmetic runs in LONG — Int
    * sz·1000/sz·p would wrap for multi-million-fingerprint docs and
    * silently widen the prefix. */
  private[graft] def winnowPrefix(base: DataFrame, minShared: Int,
      ratioPermille: Option[Int], dfCap: Option[Int]): DataFrame = {
    val exploded = base.select(col("id"), col("block"),
      size(col("fps")).cast("long").as("sz"), explode(col("fps")).as("fp"))
    val dfreq = exploded.groupBy("fp").agg(count(lit(1)).as("__df"))
    val wOrd = Window.partitionBy("id")
      .orderBy(col("__df").asc, col("fp").asc)
    // Per-doc overlap threshold: constant in absolute mode, ⌈p·sz/1000⌉ in
    // ratio mode (long sz → exact double product; quotient error « 1/1000).
    val docThreshold = ratioPermille
      .fold(lit(minShared).cast("long"))(p =>
        greatest(ceil(col("sz") * p / 1000), lit(1L)))
    val prefix0 = exploded.join(dfreq, "fp")
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <= col("sz") - docThreshold + 1)
      .select(col("id"), col("block"), col("fp"), col("sz"))
    // Absolute-mode skew cap: truncate each (block, fp) posting to its
    // dfCap smallest ids (deterministic; see winnowPairs scaladoc for the
    // documented recall trade) — a hot posting then yields ≤ cap² pairs.
    // r18 (guide §2.2/§2.5): the rank window shipped a hot posting's FULL
    // occupancy to one reducer just to keep its first `cap` ids; the
    // bounded MinKAgg heap gets map-side combine — each mapper emits
    // ≤ cap rows per (block, fp), so the exchange cost tracks the cap,
    // not the posting (the capBuckets argument; same kept set — ids are
    // unique per posting, pinned == the window form in DedupProps). The
    // doc size rides as the heap's int payload (sz is a size(), so the
    // int round-trip is lossless).
    dfCap.fold(prefix0) { cap =>
      prefix0.groupBy(col("block"), col("fp"))
        .agg(graft.functions.MinKAgg.minK(col("id"), col("sz").cast("int"),
          cap).as("__kept"))
        .select(col("block"), col("fp"), explode(col("__kept")).as("__e"))
        .select(col("__e.id").as("id"), col("block"), col("fp"),
          col("__e.p").cast("long").as("sz"))
    }
  }

  /** Candidate pairs from a (possibly pinned) [[winnowPrefix]] frame. */
  private[graft] def winnowCandidatesFrom(prefix: DataFrame,
      ratioPermille: Option[Int]): DataFrame = {
    val candRaw = prefix.select(col("block"), col("fp"), col("id").as("id_a"),
        col("sz").as("sz_a"))
      .join(prefix.select(col("block"), col("fp"), col("id").as("id_b"),
        col("sz").as("sz_b")), Seq("block", "fp"))
      .filter(col("id_a") < col("id_b"))
    // Ratio mode: lossless size filter (shared ≥ ⌈p·max⌉ forces
    // min ≥ ⌈p·max⌉, so 1000·min ≥ p·max) prunes size-mismatched
    // collisions before the distinct.
    ratioPermille.fold(candRaw)(p => candRaw.filter(
        least(col("sz_a"), col("sz_b")) * 1000 >=
          greatest(col("sz_a"), col("sz_b")) * p))
      .select("id_a", "id_b").distinct()
  }

  private[graft] def winnowBase(df: DataFrame, id: Column, text: Column,
      blocking: Column, k: Int, w: Int): DataFrame =
    graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), blocking.as("block"),
            text.as("__text"))
          .filter(col("__text").isNotNull))
      .select(col("id"), col("block"),
        TextAnalysis.winnowFingerprints(col("__text"), k, w).as("fps"))

  /** All-pairs exact reference for [[winnowPairs]]: same fingerprints and
    * thresholds, candidates from a block-local `id_a < id_b` theta join —
    * O(n²) by construction and independent of the prefix-index code path,
    * so DedupProps can pin both threshold modes against it. Spec/tooling
    * baseline, not the shipped operator. */
  private[graft] def winnowPairsAllPairs(df: DataFrame, id: Column,
      text: Column, blocking: Column, k: Int = 5, w: Int = 8,
      minShared: Int = 10, ratioPermille: Option[Int] = None): DataFrame = {
    val base = winnowBase(df, id, text, blocking, k, w)
      .filter(size(col("fps")) >= ratioPermille.fold(minShared)(_ => 1))
    val a = base.select(col("block"), col("id").as("id_a"),
      col("fps").as("__fa"))
    val b = base.select(col("block"), col("id").as("id_b"),
      col("fps").as("__fb"))
    val shared = a.join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__fa"), col("__fb"))).cast("long")
          .as("n_shared"),
        size(col("__fa")).cast("long").as("__sza"),
        size(col("__fb")).cast("long").as("__szb"))
    ratioPermille.fold(shared.filter(col("n_shared") >= minShared))(p =>
        shared.filter(col("n_shared") * 1000 >=
          greatest(col("__sza"), col("__szb")) * p &&
          col("n_shared") >= 1))
      .select("id_a", "id_b", "n_shared")
  }

  /** Hex digit value (0-15) of `hexStr` at 1-based position `pos` — engine-
    * portable (mirrors DuckDB's strpos('0123456789abcdef', …)-1). */
  private def hexDigit(hexStr: Column, pos: Int): Column =
    conv(substring(hexStr, pos, 1), 16, 10).cast("int")

  /** 60-bit SimHash of the word-token multiset, built from md5 so it is
    * bit-identical across engines (md5 → 15 hex digits → 60 bits; bit b of
    * a token's hash = bit (b%4) of hex digit (b/4)). Bit b of the simhash is
    * set iff the sum of (+1/-1) votes over tokens' bit b is positive.
    * Single aggregation with map-side combine (60 sum columns), no UDF.
    * 60 bits (not 64) keeps the value positive in a signed BIGINT on every
    * engine — no sign-bit shift pitfalls. */
  def simhash60(df: DataFrame, id: Column, text: Column): DataFrame = {
    // Fold the 15 hex digits into ONE long per token up front (bit 4j+k of
    // `h` = bit k of digit j — the same bit layout the per-digit spec and
    // the SQL oracle use); the bit votes then accumulate in ONE native
    // aggregate (functions.SimHashAgg) instead of 60 sum(CASE...) columns.
    // explode_outer (see the explode_outer note above) — token arrays are never empty,
    // and plain explode's inferred size-filter would serialize tokenization
    // below the widening exchange. Null text is dropped (a null-text doc
    // would otherwise aggregate to simhash 0 and pair with every other
    // null-text doc — the SQL oracle's unnest drops them too).
    val toks = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), text.as("__text"))
          .filter(col("__text").isNotNull))
      .select(col("id"),
        explode_outer(TextAnalysis.tokens(col("__text"))).as("tok"))
      .select(col("id"), md5(col("tok")).as("m"))
      .select(col("id"), (0 until 15).map(j =>
        shiftleft(hexDigit(col("m"), j + 1).cast("long"), 4 * j))
        .reduce((a, c) => a.bitwiseOR(c)).as("h"))
    toks.groupBy("id").agg(
      graft.functions.SimHashAgg.simhash(col("h"), 60).as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ `maxHamming`. Bucketing on
    * the 4 disjoint 15-bit chunks gives FULL recall for hamming ≤ 3 (by
    * pigeonhole at least one chunk is untouched), so the output is exactly
    * "all pairs with hamming ≤ 3" — brute-force oracle-matchable. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      materialize: Boolean = true): DataFrame = {
    require(maxHamming <= 3, "4-chunk bucketing guarantees recall only to 3")
    // r17 (optimization): the simhash table joins the scoped persist set —
    // the bucket self-join plus the two verify joins referenced `sims`
    // FOUR times, and each unpersisted reference re-ran the whole
    // tokenize + md5 + SimHashAgg pass (isolated bench: 1.6 s → the
    // aggregate pass alone was most of it). Same scoped contract as
    // [[minhashPairs]] (persist for the call, localCheckpoint the
    // output-sized result, release).
    val sims = simhash60(df, id, text)
    scoped(materialize, sims) {
      val chunks = (0 until 4).map(c => struct(lit(c).as("band"),
        shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(0x7FFFL)
          .as("bucket")))
      val bucketed = sims.select(col("id"), explode(array(chunks: _*)).as("bc"))
        .select(col("id"), col("bc.band").as("band"), col("bc.bucket").as("bucket"))
      val pairs = candidatePairs(bucketed, maxBucket)
      pairs
        .join(sims.select(col("id").as("id_a"), col("simhash").as("sh_a")), "id_a")
        .join(sims.select(col("id").as("id_b"), col("simhash").as("sh_b")), "id_b")
        .withColumn("hamming",
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
    }
  }

  /** Embedding near-dup pairs: deterministic sign-LSH blocking + EXACT
    * integer verification of the co-bucketed candidates.
    *
    * Quantization: each vector becomes floor(x·10⁶) longs (deterministic
    * IEEE double math, identical on every engine). Blocking: `bands` bands
    * of `rowsPerBand` consecutive coordinates; a band's bucket is the word
    * of sign bits (qᵢ ≥ 0) of its coordinates — axis-aligned hyperplane LSH,
    * integer-exact and therefore replicable verbatim by the SQL oracle (no
    * float dot products whose summation order could flip a sign).
    * Candidates = pairs sharing any band's bucket, skew-capped by
    * `maxBucket` like the MinHash path. Verification: cosine ≥ num/den by
    * cross-multiplication on integer dot products and squared norms
    * (den²·dot² ≥ num²·‖a‖²·‖b‖² ∧ dot ≥ 0) — no sqrt, no division; the
    * products run in decimal(38,0) (128-bit in DuckDB).
    *
    * Semantics: the output is DEFINED as "co-bucketed pairs with exact
    * cosine ≥ threshold" — the standard production near-dup contract where
    * candidate generation is part of the spec. Measured on the test corpus
    * the raw cosine distribution is a smooth continuum through any interior
    * threshold (pairs at 0.3999 and 0.4001 coexist at every SF), so a
    * sub-quadratic candidate stage with unconditional recall 1 at such a
    * threshold cannot exist; what IS guaranteed: identical quantized
    * vectors have identical sign words in every band, so exact duplicates
    * are ALWAYS candidates (recall 1, deterministically), and recall rises
    * steeply with cosine (per-coordinate sign agreement for centered
    * isotropic data is 1 − arccos(ρ)/π: ≈ 99% candidate probability at
    * ρ = 0.95 with the 8×8 default). Degenerate config bands=1,
    * rowsPerBand=0 puts everything in one bucket — candidates = all pairs —
    * which PipelineSpec uses to pin the verifier against the all-pairs
    * reference.
    *
    * Scale: one narrow pass for quantization+signs, a bucket self-join on
    * (band, bucket) — 2^rowsPerBand buckets per band, occupancy n/2^r; grow
    * `rowsPerBand` with corpus size (r ≈ log₂ n keeps per-bucket occupancy
    * O(1)) — then a candidate-sized verification join. No global theta
    * join anywhere.
    *
    * Returns (id_a, id_b, dot_q) — dot_q is the exact quantized dot product.
    */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
      thresholdNum: Int = 2, thresholdDen: Int = 5,
      scale: Long = 1000000L, bands: Int = 8, rowsPerBand: Int = 8,
      maxBucket: Int = 10000, materialize: Boolean = true,
      bandCoords: Option[Seq[Seq[Int]]] = None,
      multiProbe: Boolean = false): DataFrame = {
    import graft.functions.ArrayNumeric.{longDot, longNormSq}
    // Effective coordinate choice per band: consecutive runs by default
    // (the 8×8 contract the q_embed_neardup oracle mirrors), or explicit
    // seeded choices ([[signBandCoords]]) for the HIGH-RECALL mode — more
    // bands than dim/rowsPerBand, each sampling different coordinates, so
    // candidate probability rises with band count while verification stays
    // exact (recall knob; precision always 1).
    val coords: Seq[Seq[Int]] = bandCoords.getOrElse(
      (0 until bands).map(b => (0 until rowsPerBand)
        .map(j => b * rowsPerBand + j)))
    val q = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), vec.as("__v")))
      .select(col("id"), transform(col("__v"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
      .withColumn("nrm", longNormSq(col("q")))
    scoped(materialize, q) {
      // Band buckets as ONE looped higher-order expression over literal
      // coordinate/shift tables (r10): the previous per-band UNROLLED
      // when-chain generated O(bands × rowsPerBand) inlined branches —
      // at 32 bands an 11k-line generate_doConsume that Janino refuses,
      // silently disabling whole-stage codegen for the entire stage. The
      // loop form is constant-size regardless of band count; arithmetic
      // is unchanged (bucket_b = Σ_j [q[coords(b)(j)] ≥ 0]·2^j).
      // Loop lengths come from the ACTUAL band arrays, not the
      // `rowsPerBand` parameter: explicit `bandCoords` (the high-recall
      // mode) may carry a different row count. zip_with pads the shorter
      // side with nulls, which fall to the 0 branch — so short (even
      // empty) bands contribute nothing, with no per-length special case.
      val coordsLit = typedLit(coords.map(_.map(_ + 1))) // 1-based
      val maxRows = coords.map(_.size).foldLeft(0)(math.max)
      val buckets =
        if (maxRows == 0) transform(coordsLit, _ => lit(0L))
        else {
          val powLit = typedLit((0 until maxRows).map(1L << _))
          transform(coordsLit, cs =>
            aggregate(
              zip_with(cs, powLit, (c, p) =>
                when(element_at(col("q"), c) >= 0, p).otherwise(lit(0L))),
              lit(0L), _ + _))
        }
      val homes = q
        .select(col("id"), posexplode(buckets).as(Seq("band", "bucket")))
      // MULTI-PROBE sign-LSH (r11, the recall knob past band count): each
      // vector ALSO probes the bucket at Hamming distance 1 in its band's
      // LOWEST-MARGIN coordinate — the sign most likely to differ on a
      // true near-duplicate is the one with the smallest |projection|, so
      // one directed flip recovers most single-bit misses (Lv et al. 2007
      // multi-probe LSH, sign-hash form). Probe rows are TAGGED and
      // probe×probe pairs are excluded (candidates need a home side), so
      // per-bucket pair growth is h² + 2hp, not (h+p)². Integer-exact and
      // mirrored verbatim by the SQL oracle (argmin over literal coords).
      val cand =
        if (!multiProbe) candidatePairs(homes, maxBucket)
        else {
          val powLit = typedLit((0 until math.max(maxRows, 1))
            .map(1L << _))
          val probeBuckets = zip_with(coordsLit, buckets, (cs, bk) => {
            val absv = transform(cs, c => abs(element_at(col("q"), c)))
            val pos = array_position(absv, array_min(absv))
            when(pos > 0,
              bk.bitwiseXOR(element_at(powLit, pos.cast("int"))))
              .otherwise(bk) // empty/all-null band: probe = home (no-op)
          })
          val zipped = q.select(col("id"),
            posexplode(zip_with(buckets, probeBuckets,
              (h, pb) => struct(h.as("h"), pb.as("pb"))))
              .as(Seq("band", "hp")))
          val bucketed = zipped
            .select(col("id"), col("band"), col("hp.h").as("bucket"),
              lit(0).as("p"))
            .unionAll(zipped.filter(col("hp.pb") =!= col("hp.h"))
              .select(col("id"), col("band"), col("hp.pb").as("bucket"),
                lit(1).as("p")))
          candidatePairsHomeProbe(bucketed, maxBucket)
        }
      val a = q.select(col("id").as("id_a"), col("q").as("q_a"),
        col("nrm").as("n_a"))
      val b = q.select(col("id").as("id_b"), col("q").as("q_b"),
        col("nrm").as("n_b"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      // Slim scored rows (5 longs) behind their own scope boundary: with the
      // threshold applied directly, Catalyst's project-collapse would inline
      // the dot kernel once per filter reference (4× per candidate).
      val scored = cand.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"), longDot(col("q_a"), col("q_b"))
          .as("dot_q"), col("n_a"), col("n_b"))
      scoped(materialize, scored) {
        scored
          .filter(col("n_a") > 0 && col("n_b") > 0 && col("dot_q") >= 0 &&
            lit(thresholdDen.toLong * thresholdDen) * dec(col("dot_q")) * dec(col("dot_q"))
              >= lit(thresholdNum.toLong * thresholdNum) * dec(col("n_a")) * dec(col("n_b")))
          .select(col("id_a"), col("id_b"), col("dot_q"))
      }
    }
  }

  /** Seeded per-band coordinate choices for [[embeddingNearDupPairs]]'s
    * high-recall mode: `bands` bands of `rowsPerBand` indices (0-based),
    * each band an independent without-replacement draw from a seeded RNG —
    * deterministic across the fleet AND embeddable verbatim in the SQL
    * oracle (the indices are plain literals on both sides). With b bands
    * whose per-band candidate probability at a given cosine is p, recall is
    * 1 − (1−p)^b: the band count is the recall knob, and exact integer
    * verification keeps precision at 1 regardless. */
  def signBandCoords(bands: Int, rowsPerBand: Int, dim: Int,
      seed: Long): Seq[Seq[Int]] = {
    require(rowsPerBand <= dim, "rowsPerBand must be <= dim")
    val rnd = new scala.util.Random(seed)
    Seq.fill(bands)(
      rnd.shuffle((0 until dim).toVector).take(rowsPerBand).toSeq)
  }

  /** Seeded Rademacher (±1) anchor vectors for [[semDedupKeep]]'s
    * fixed-anchor mode: every anchor has EXACTLY the same norm (√dim), so
    * argmax cosine over the anchors IS argmax integer dot — assignment
    * stays pure integer arithmetic, bit-identical across engines and
    * embeddable as plain literals in the SQL oracle. Deterministic draw
    * order: anchors in index order, coordinates left to right. */
  def rademacherAnchors(k: Int, dim: Int, seed: Long): Seq[Seq[Long]] = {
    require(k >= 1 && dim >= 1, "need k >= 1 anchors of dim >= 1")
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)(Seq.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540 —
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster embeddings, then remove near-identical
    * members WITHIN each cluster — the clustering bounds the candidate set
    * to Σ_c |c|² instead of n², which is the whole trick at 100 TB (grow
    * the anchor count with the corpus: k ≈ n / target-occupancy keeps
    * per-cluster pair counts flat).
    *
    * Semantics (all integer, engine-portable — the same exactness
    * discipline as [[embeddingNearDupPairs]]):
    *  - quantize: q = floor(x·scale) per coordinate;
    *  - assign: cluster = 1-based-argmax over the anchor list of the
    *    integer dot ⟨q, anchor⟩, FIRST max on ties (with equal-norm
    *    anchors — [[rademacherAnchors]], or unit-normalized trained
    *    centroids via [[semDedupTrainedKeep]] — max dot IS max cosine up
    *    to quantization, and the contract is DEFINED on the quantized
    *    anchors);
    *  - drop: a member is dropped iff some SMALLER-id member of the same
    *    cluster is a near-duplicate — den²·dot² ≥ num²·‖a‖²·‖b‖² ∧
    *    dot ≥ 0 ∧ both norms > 0 (the [[ngramJaccardKeep]] drop-list
    *    policy, cross-multiplied in 128-bit decimal);
    *  - `maxCluster` caps verification per cluster to the smallest ids
    *    (skew belt; Int.MaxValue = exact/lossless, the oracle config).
    *
    * The paper keeps low-centroid-similarity members for diversity; this
    * operator's keep rule is the deterministic smallest-id contract the
    * fleet's other dedup ops share (compose with
    * [[keepBestPerCluster]] for a quality-ranked policy instead).
    *
    * Returns kept (id, cluster), one row per surviving document. */
  def semDedupKeep(df: DataFrame, id: Column, vec: Column,
      anchors: Seq[Seq[Long]], thresholdNum: Int, thresholdDen: Int,
      scale: Long = 1000000L, maxCluster: Int = Int.MaxValue,
      materialize: Boolean = true): DataFrame = {
    import graft.functions.ArrayNumeric.longDot
    val assigned = semAssign(df, id, vec, anchors, scale)
    scoped(materialize, assigned) {
      val bucketed = assigned.select(col("id"), lit(0).as("band"),
        col("cl").cast("long").as("bucket"))
      val cand = candidatePairs(bucketed, maxCluster)
      val a = assigned.select(col("id").as("id_a"), col("q").as("q_a"),
        col("nrm").as("n_a"))
      val b = assigned.select(col("id").as("id_b"), col("q").as("q_b"),
        col("nrm").as("n_b"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val scored = cand.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"), longDot(col("q_a"), col("q_b"))
          .as("dot_q"), col("n_a"), col("n_b"))
      scoped(materialize, scored) {
        val dropped = scored
          .filter(col("n_a") > 0 && col("n_b") > 0 && col("dot_q") >= 0 &&
            lit(thresholdDen.toLong * thresholdDen) * dec(col("dot_q")) * dec(col("dot_q"))
              >= lit(thresholdNum.toLong * thresholdNum) * dec(col("n_a")) * dec(col("n_b")))
          .select(col("id_b").as("id")).distinct()
        assigned.join(dropped, Seq("id"), "left_anti")
          .select(col("id"), col("cl"))
      }
    }
  }

  /** Quantize + anchor-assign: (id, q, nrm, cl) — the shared front half of
    * the semantic-dedup family. Per-anchor integer dots as one looped
    * expression over the anchor literal (constant codegen size in k — the
    * r10 sign-band lesson), then FIRST-MAX argmax. */
  private def semAssign(df: DataFrame, id: Column, vec: Column,
      anchors: Seq[Seq[Long]], scale: Long): DataFrame = {
    import graft.functions.ArrayNumeric.longNormSq
    require(anchors.nonEmpty && anchors.map(_.size).distinct.size == 1,
      "anchors must be non-empty and all the same dimension")
    val q0 = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), vec.as("__v")))
      .select(col("id"), transform(col("__v"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
      .withColumn("nrm", longNormSq(col("q")))
    val anchLit = typedLit(anchors)
    val dots = transform(anchLit, w =>
      aggregate(zip_with(col("q"), w, (x, c) => x * c), lit(0L), _ + _))
    q0.withColumn("cl",
      (array_position(dots, array_max(dots)) - 1).cast("int"))
  }

  /** Incremental SEMANTIC dedup against a graft-format index table
    * PARTITIONED BY CLUSTER — [[semDedupKeep]]'s arrival-order twin, the
    * [[ingestDedup]] production shape with a sharper scale property: the
    * index row is (doc_id, q, nrm, cl, kept) partitioned by `pt = cl`, so
    * an arriving batch reads ONLY the index partitions of the clusters its
    * members land in (partition-pruned at metadata level) — history in
    * every other cluster is never touched, let alone re-embedded.
    *
    * Semantics contract: `id` strictly increasing across batches. A batch
    * member is dropped iff some EARLIER doc (any batch, kept or dropped)
    * in the SAME cluster verifies the near-dup threshold — so arrival-
    * order ingest converges to exactly the batch-mode [[semDedupKeep]]
    * keep set (spec-pinned; with `maxCluster` active the cap applies per
    * ingest pass, the same approximation trade [[ingestDedup]] documents).
    * Because the index is a graft table, the dedup state gets time
    * travel, incremental reads, OCC, and cleaning for free.
    *
    * Returns the updated index snapshot (lazy read of the table). */
  def semIngestDedup(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, id: Column, vec: Column,
      anchors: Seq[Seq[Long]], thresholdNum: Int, thresholdDen: Int,
      scale: Long = 1000000L, maxCluster: Int = Int.MaxValue,
      numBuckets: Int = 8, ts: Option[String] = None): DataFrame = {
    import graft.functions.ArrayNumeric.longDot
    val assigned = semAssign(batch, id, vec, anchors, scale)
    assigned.persist()
    try {
      // the batch's clusters: a driver list bounded by |anchors| —
      // metadata-sized by construction, and the partition-pruning key.
      // A null/wrong-dimension vector assigns NO cluster (cl null, like
      // the batch twin, which KEEPS such rows); it lands in the "none"
      // partition so the ingest neither NPEs nor loses the row.
      val cells: Seq[String] = assigned.select(col("cl")).distinct()
        .collect()
        .map(r => if (r.isNullAt(0)) "none" else r.getInt(0).toString)
        .toSeq
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), indexDir)
      val seen =
        if (tl.completedInstants().nonEmpty)
          // native catalog scan (r14, re-landed from the measured r13
          // revert): it merges per file group inside the task and its
          // bucket partitioning feeds the storage-partitioned joins.
          // The `pt` filter is a static partition prune on the catalog
          // table's partition column (planned slices narrow to the
          // batch's clusters — spec-asserted via inputPartitions)
          graft.util.CatalogMount.table(spark, indexDir)
            .filter(col("pt").isin(cells: _*))
            .select(col("doc_id").as("id"), col("q"), col("nrm"), col("cl"))
        else assigned.select("id", "q", "nrm", "cl").limit(0)
      val union = assigned.select("id", "q", "nrm", "cl").unionByName(seen)
      val bucketed = union.select(col("id"), lit(0).as("band"),
        col("cl").cast("long").as("bucket"))
      // only pairs whose LATER member is in this batch matter (history is
      // settled); the earlier member may be anywhere in the union.
      // broadcast PINNED (the r13 lesson): the batch id list is
      // batch-sized; left to stats the planner shuffled the PAIR frame —
      // quadratic in cluster occupancy, the largest frame in the loop
      val cand = candidatePairs(bucketed, maxCluster)
        .join(broadcast(assigned.select(col("id").as("id_b"))),
          Seq("id_b"), "leftsemi")
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val a = union.select(col("id").as("id_a"), col("q").as("q_a"),
        col("nrm").as("n_a"))
      val b = union.select(col("id").as("id_b"), col("q").as("q_b"),
        col("nrm").as("n_b"))
      // broadcast PINNED on the union side of both verify joins: it is
      // the LINEAR side (batch + the touched clusters' history, the same
      // locality bound the partition prune enforces) while `cand` is
      // quadratic in cluster occupancy. The r13 catalog-read attempt
      // regressed 223 → 1399 MB soak shuffle exactly here: the native
      // scan's EXACT size stats pushed the union past
      // autoBroadcastJoinThreshold and Catalyst de-broadcast what the V1
      // path's unknown-size estimate had always broadcast. Pinning makes
      // the r12 plan shape deliberate instead of accidental.
      val drops = cand.join(broadcast(a), "id_a").join(broadcast(b), "id_b")
        .select(col("id_b"), longDot(col("q_a"), col("q_b")).as("dot_q"),
          col("n_a"), col("n_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0 && col("dot_q") >= 0 &&
          lit(thresholdDen.toLong * thresholdDen) * dec(col("dot_q")) * dec(col("dot_q"))
            >= lit(thresholdNum.toLong * thresholdNum) * dec(col("n_a")) * dec(col("n_b")))
        .select(col("id_b").as("__drop")).distinct()
      val out = assigned
        .join(drops, col("id") === col("__drop"), "left")
        .select(col("id").as("doc_id"), col("q"), col("nrm"), col("cl"),
          col("__drop").isNull.as("kept"))
        .withColumn("pt",
          coalesce(col("cl").cast("string"), lit("none")))
      // MOR + deltaCounters=off (r14): every batch appends verdict rows
      // across many clusters, so COW upserts rewrote every touched bucket
      // per batch; MOR appends are batch-sized delta commits and the
      // catalog read above merges them in-task. An internal state table
      // consumed by joins never answers metadata COUNT(*), so the
      // per-delta live-count existence join buys nothing. The options go
      // on the CREATING commit only — appends follow the recorded table
      // type, so a pre-r14 COW index keeps ingesting (as COW) instead of
      // tripping the type-contradiction guard
      val base = out.write.format("graft")
        .option("key", "doc_id").option("partition", "pt")
        .option("buckets", numBuckets.toString)
        .mode(org.apache.spark.sql.SaveMode.Append)
      val writer =
        if (tl.completedInstants().isEmpty)
          base.option("type", "mor").option("deltaCounters", "off")
        else base
      ts.fold(writer)(t => writer.option("ts", t)).save(indexDir)
    } finally assigned.unpersist(blocking = true)
    graft.read.SnapshotReader.read(spark, indexDir)
  }

  /** [[semDedupKeep]] with TRAINED k-means centroids (the paper's shape):
    * [[graft.pipeline.Similarity.ivfTrain]] centroids are unit-normalized
    * on the driver and quantized to integer anchors at `scale`, then the
    * fixed-anchor operator runs unchanged — assignment by max integer dot
    * against unit-normalized anchors is max cosine up to quantization, and
    * downstream semantics are identical (so the fixed-anchor properties
    * carry over verbatim). Zero-norm centroids (possible for empty
    * clusters on degenerate data) quantize to the zero anchor. */
  def semDedupTrainedKeep(df: DataFrame, id: Column, vec: Column,
      nlist: Int, thresholdNum: Int, thresholdDen: Int, iters: Int = 2,
      seed: Long = 42L, trainFraction: Double = 1.0,
      scale: Long = 1000000L, maxCluster: Int = Int.MaxValue,
      materialize: Boolean = true): DataFrame = {
    val cents = graft.pipeline.Similarity.ivfTrain(df, id, vec, nlist,
      iters, seed, trainFraction)
    val anchors = cents.sortBy(_._1).map { case (_, v) =>
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (nrm == 0.0) v.map(_ => 0L): Seq[Long]
      else v.map(x => math.floor(x / nrm * scale).toLong): Seq[Long]
    }
    semDedupKeep(df, id, vec, anchors, thresholdNum, thresholdDen,
      scale, maxCluster, materialize)
  }

  /** All-pairs exact reference for [[embeddingNearDupPairs]]: same
    * quantization + integer verification, but candidates come from a global
    * `id_a < id_b` theta join — O(n²) by construction and INDEPENDENT of the
    * bucket-join code path, so PipelineSpec can pin the blocked operator
    * against it (degenerate single-bucket config must equal this exactly;
    * any banded config must be a subset). Spec/tooling baseline, not the
    * shipped operator. */
  private[graft] def embeddingNearDupPairsAllPairs(df: DataFrame, id: Column,
      vec: Column, thresholdNum: Int = 2, thresholdDen: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    import graft.functions.ArrayNumeric.{longDot, longNormSq}
    val q = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), vec.as("__v")))
      .select(col("id"), transform(col("__v"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
      .withColumn("nrm", longNormSq(col("q")))
    scoped(true, q) {
      val a = q.select(col("id").as("id_a"), col("q").as("q_a"),
        col("nrm").as("n_a"))
      val b = q.select(col("id").as("id_b"), col("q").as("q_b"),
        col("nrm").as("n_b"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val scored = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), longDot(col("q_a"), col("q_b"))
          .as("dot_q"), col("n_a"), col("n_b"))
      scoped(true, scored) {
        scored
          .filter(col("n_a") > 0 && col("n_b") > 0 && col("dot_q") >= 0 &&
            lit(thresholdDen.toLong * thresholdDen) * dec(col("dot_q")) * dec(col("dot_q"))
              >= lit(thresholdNum.toLong * thresholdNum) * dec(col("n_a")) * dec(col("n_b")))
          .select(col("id_a"), col("id_b"), col("dot_q"))
      }
    }
  }

  /** Keep-min-id fuzzy dedup: from verified pairs, drop every doc that has a
    * duplicate partner with a smaller id. PAIRWISE semantics: for a chain
    * a–b, b–c (no a–c pair) both b and c are dropped even though c's only
    * partner was itself dropped — over-deletion relative to the
    * keep-one-representative-per-CLUSTER contract. Use
    * [[clusters]]/[[dropIdsFromClusters]] for transitive semantics. */
  def dropIdsFromPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("drop_id")).distinct()

  /** Transitive dedup clusters: label every doc appearing in `pairs` with
    * the SMALLEST doc id reachable through any chain of pairs — its
    * connected-component representative. This is the standard large-corpus
    * dedup contract (keep one representative per duplicate cluster):
    * for a chain a–b, b–c, the component {a,b,c} keeps exactly a, where
    * pairwise [[dropIdsFromPairs]] would drop b AND c.
    *
    * Distributed min-label propagation with pointer jumping — no
    * driver-side graph, no GraphX: each round takes (1) the min label over
    * graph neighbors and (2) the label OF the current label (path
    * halving), so long chains collapse in O(log n) rounds, not
    * O(diameter). Each round costs two hash joins + one aggregate over the
    * EDGE set; at 100 TB the edges are the verified near-dup pairs —
    * orders of magnitude smaller than the corpus — and every round's
    * result is eagerly truncated so the iterative lineage never compounds:
    * `localCheckpoint` by default (executor-local blocks, fast), or
    * RELIABLE checkpointing when `checkpointDir` is set — the cluster
    * production setting, surviving executor loss mid-job. The round count
    * is driven by a convergence count, the only driver-side value.
    *
    * Output: (doc_id, cluster_id), one row per distinct id in `pairs`;
    * docs in no pair are their own implicit singleton cluster (absent
    * here — see [[dropIdsFromClusters]]). */
  def clusters(pairs: DataFrame, idA: Column, idB: Column,
      checkpointDir: Option[String] = None): DataFrame = {
    // Per-round lineage truncation: localCheckpoint (executor-local blocks,
    // fast, default) or — when `checkpointDir` is given — RELIABLE
    // checkpointing, surviving executor loss mid-job: the production
    // setting on a cluster, where a lost executor would otherwise force
    // recomputing the whole iterative chain. `setCheckpointDir` itself
    // isolates each call in a fresh UUID dir under the given path; the
    // caller's EXACT prior checkpoint configuration (including "none") is
    // restored on exit via the raw accessor — re-setting through the
    // public API would nest another UUID and drift the location. The
    // call's checkpoint data remains on disk backing the returned frame;
    // delete `checkpointDir` once the result is persisted elsewhere.
    val sc = pairs.sparkSession.sparkContext
    val callerDir = org.apache.spark.sql.graft.Bridge.rawCheckpointDir(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame = {
      graft.util.PlanProbe.record("clusters-round", df) // r18 plan audit
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    }
    try {
    val e0 = pairs.select(idA.cast("long").as("src"),
      idB.cast("long").as("dst"))
    // r17 (optimization): symmetrize via ONE in-row explode instead of
    // e0.union(e0.swapped) — the union referenced `pairs` twice, so an
    // unmaterialized upstream pair generator (mutualKnnEdges in
    // q_knn_clusters) was evaluated twice inside this truncate. The
    // explode reads it once and emits both orientations per row;
    // `distinct()` is unchanged.
    val edges = truncate(
      e0.select(explode(array(
          struct(col("src").as("src"), col("dst").as("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()) // reused every round
    var lbl = truncate(
      edges.groupBy("src").agg(min("dst").as("nmin"))
        .select(col("src").as("id"),
          least(col("src"), col("nmin")).as("lbl")))
    val spark = pairs.sparkSession
    var changed = 1L
    while (changed > 0) {
      // ONE aggregate fuses the neighbor-min and the old self-label
      // (r17): neighbor messages (id, candidate-label) union the label
      // table's own rows tagged `self` — min(candidate) IS
      // least(old, min over neighbors) and the single self row per id
      // carries the round-start label out of the same exchange, where
      // the r16 shape paid a separate left join (one more exchange per
      // round) to combine them. Per-round plan: 4 exchanges total
      // (messages, fused groupBy, and the two halving-lookup sides).
      val viaMin = edges
        .join(lbl.select(col("id").as("dst"), col("lbl").as("dlbl")),
          "dst")
        .select(col("src").as("id"), col("dlbl").as("cand"),
          lit(false).as("self"))
        .unionAll(lbl.select(col("id"), col("lbl").as("cand"),
          lit(true).as("self")))
        .groupBy("id")
        .agg(min(col("cand")).as("l1"),
          max(when(col("self"), col("cand"))).as("__old"))
      // path halving: follow the label's own label (labels are vertex ids
      // of the same component, so the lookup stays within the component).
      // (Fusing two rounds per checkpoint, jumping through the current
      // step instead of the checkpointed table, and pre-partitioning the
      // checkpoints by the join keys were ALL tried and MEASURED no
      // faster or slower — localCheckpoint does not preserve
      // partitioning under AQE, and duplicating the in-flight subtree
      // costs more than the sync points it saves; see
      // OPTIMIZATION_r17.md.)
      val stepped = viaMin
        .join(lbl.select(col("id").as("l1"), col("lbl").as("ll")),
          Seq("l1"), "left")
        .select(col("id"), col("__old"),
          least(col("l1"), coalesce(col("ll"), col("l1"))).as("lbl"))
      // The convergence count rides the checkpoint materialization as a
      // read-only row observer (r17): the r16 form paid one more Spark
      // job per round just to count label changes. Task retries can only
      // over-count, and a false non-zero merely runs one extra
      // (idempotent) round — convergence stays exact.
      val acc = sc.longAccumulator("graft.clusters.changed")
      val (lblIdx, oldIdx) = (2, 1) // (id, __old, lbl)
      val jumped = truncate(org.apache.spark.sql.graft.Bridge
        .observedDataFrame(spark, stepped) { r =>
          if (r.getLong(lblIdx) != r.getLong(oldIdx)) acc.add(1L)
        })
      changed = acc.value
      lbl = jumped.select(col("id"), col("lbl"))
    }
    lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    } finally checkpointDir.foreach(_ => org.apache.spark.sql.graft.Bridge
      .restoreRawCheckpointDir(sc, callerDir))
  }

  /** Drop-list under CLUSTER semantics: every doc whose component
    * representative is a different (smaller) doc. Anti-join the corpus
    * against this to keep exactly one representative per duplicate cluster
    * plus all unpaired docs. */
  def dropIdsFromClusters(clusterLabels: DataFrame): DataFrame =
    clusterLabels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("drop_id"))

  /** ExactSubstr duplicated-span removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any window of `w`
    * consecutive word tokens whose exact token sequence occurs at
    * `minDupCount`+ positions in the corpus — across documents or repeated
    * inside one — is a duplicated span, and every token instance covered
    * by at least one duplicated window is removed. One row per input doc:
    * (doc_id, kept_text, n_tokens, removed_tokens); `kept_text` is the
    * surviving tokens joined by single spaces (token-normalized —
    * lowercased, whitespace-collapsed — like every text operator here).
    *
    * The published implementation builds one corpus-wide suffix array in
    * memory; the Spark-native shape is hash-then-verify over the w-token
    * windows:
    *
    *  1. CANDIDATES — each doc emits one 8-byte xxhash64 per window
    *     position (the window string is built and hashed in-row, never
    *     shuffled); one map-side-combined count-by-hash finds hashes seen
    *     ≥ minDupCount times. The suffix array's O(corpus) RAM becomes an
    *     O(#windows × 8 B) shuffle — the part that must scale to 100 TB.
    *  2. VERIFY — only positions whose hash is duplicated re-materialize
    *     their window string (a doc-id join re-attaches the token array,
    *     so the ×w string blowup runs over candidate positions only), and
    *     a count by the actual string discards xxhash64 collisions:
    *     verdicts are exact-string, never hash-trust.
    *  3. CLEAN — duplicated positions aggregate to one sorted per-doc
    *     array (bounded by that doc's own window count) and a single
    *     in-row array pass drops covered tokens.
    *
    * Skew: a boilerplate window duplicated millions of times costs one
    * partially-aggregated count — there is no bucket self-join anywhere,
    * so no quadratic hotspot to cap. */
  def substrDedup(df: DataFrame, id: Column, text: Column, w: Int,
      minDupCount: Int = 2, materialize: Boolean = true,
      hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): DataFrame = {
    require(w >= 1, s"window width must be >= 1 token (got $w)")
    require(minDupCount >= 2, s"minDupCount must be >= 2 (got $minDupCount)")
    val toks = graft.util.ParallelScan.widen(
      df.select(id.cast("long").as("doc_id"),
        TextAnalysis.tokens(text).as("t")))
    // The count frames stay UNCACHED — each has ONE full consumer (its
    // semi join), hot discovery samples occurrences instead of reading
    // exact counts, and uncached count sides keep their small-data
    // broadcasts (see [[hotTop]]).
    val (wins, dupH) = substrHashes(toks, w, minDupCount)
    if (!materialize) {
      // lazy composition mode: fully declarative, armor off (discovery
      // is eager) — the historical plan, verdict-identical
      val marked = substrMarked(
          substrWindows(wins.join(dupH, Seq("h"), "left_semi"), toks, w),
          minDupCount)
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("pos"))).as("mpos"))
      dropCoveredTokens(toks, marked, w)
    } else {
      // toks feeds phase 1, the candidate re-join, and the final clean;
      // cand feeds the string count and the string semi. BOTH mark joins
      // carry the hot-key armor — a boilerplate window duplicated
      // millions of times is exactly ExactSubstr's production input:
      // hot WINDOW STRINGS discovered from a sampled pass over the
      // persisted tokens, their hashes derived locally (an occurrence of
      // a DIFFERENT string colliding with a hot hash rides the literal
      // path like the plain semi would pass it — the string verify
      // decides, as always), and the candidates' exact dup-membership
      // re-aggregated with the key filter pushed below the agg.
      toks.persist()
      var inner: Seq[DataFrame] = Nil
      try {
        val positions = toks.select(col("doc_id"), col("t"),
            explode_outer(winStarts(col("t"), w)).as("pos"))
          .filter(col("pos").isNotNull)
        val hotW: Seq[String] = hotTop(positions.select(col("doc_id"),
            col("pos"), winAt(col("t"), col("pos"), w).as("win")),
          "win", hotN, hotMinCount)
        val hotH: Seq[Any] =
          if (hotW.isEmpty) Nil
          else {
            import toks.sparkSession.implicits._
            hotW.toDF("w").select(xxhash64(col("w"))).collect()
              .map(r => Long.box(r.getLong(0))).toSeq
          }
        val dupHotH: Seq[Any] =
          if (hotH.isEmpty) Nil
          else wins.filter(col("h").isInCollection(hotH)).groupBy("h")
            .agg(count(lit(1)).as("c")).filter(col("c") >= minDupCount)
            .collect().map(r => Long.box(r.getLong(0))).toSeq
        val cand = substrWindows(
          semiArmoredWith(wins, dupH, "h", hotH, dupHotH), toks, w)
        cand.persist(); inner = Seq(cand)
        val dupW = cand.groupBy("win").count()
          .filter(col("count") >= minDupCount).select("win")
        val dupHotW: Seq[Any] =
          if (hotW.isEmpty) Nil
          else cand.filter(col("win").isInCollection(hotW)).groupBy("win")
            .agg(count(lit(1)).as("c")).filter(col("c") >= minDupCount)
            .collect().map(_.getString(0)).toSeq
        val marked = semiArmoredWith(cand, dupW, "win", hotW, dupHotW)
          .select("doc_id", "pos")
          .groupBy("doc_id")
          .agg(sort_array(collect_set(col("pos"))).as("mpos"))
        val out = dropCoveredTokens(toks, marked, w)
        graft.util.PlanProbe.record("substr-drop", out) // r18 plan audit
        out.localCheckpoint(eager = true)
      } finally (Seq(toks) ++ inner).foreach(_.unpersist(blocking = true))
    }
  }

  /** The `w`-token window STRING starting at 0-based `pos` — the ONE
    * window definition shared by the batch pass ([[substrHashes]],
    * [[substrWindows]]) and the incremental ingest ([[substrIngest]]).
    * They must stay bit-identical: the arrival-order contract compares
    * window strings counted by different code paths, so a drifting copy
    * would silently split counts for the same span. */
  private def winAt(t: Column, pos: Column, w: Int): Column =
    concat_ws(" ", slice(t, pos + 1, lit(w)))

  /** Window start positions 0..len−w of the token array `t`; empty when
    * the doc is shorter than `w` (such docs are kept whole). The guard is
    * required: with start > stop, sequence() would COUNT DOWN,
    * fabricating negative positions. */
  private def winStarts(t: Column, w: Int): Column =
    when(size(t) >= w, sequence(lit(0), size(t) - w))
      .otherwise(array().cast("array<int>"))

  /** ExactSubstr phase 1, shared by [[substrDedup]] (both modes) and
    * [[substrSpans]]: (doc_id, pos, h) rows — hashes computed BEFORE the
    * explode so the generator output (and the count shuffle) never
    * carries the token array or the window string — and the hashes `h`
    * seen at least `minDupCount` times. */
  private def substrHashes(toks: DataFrame, w: Int,
      minDupCount: Int): (DataFrame, DataFrame) = {
    val winHashes = toks.select(col("doc_id"),
      transform(winStarts(col("t"), w),
        p => xxhash64(winAt(col("t"), p, w))).as("hs"))
    val wins = winHashes
      .select(col("doc_id"), posexplode_outer(col("hs")).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
    val dupH = wins.groupBy("h").count()
      .filter(col("count") >= minDupCount).select("h")
    (wins, dupH)
  }

  /** ExactSubstr phase 2: candidate (doc_id, pos, win) rows — the
    * positions `pos` (duplicated hashes) re-join their token array and
    * re-materialize the window string for exact verification. */
  private def substrWindows(pos: DataFrame, toks: DataFrame,
      w: Int): DataFrame =
    pos.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        winAt(col("t"), col("pos"), w).as("win"))

  /** Candidate positions whose window STRING reaches `minDupCount`
    * occurrences — the exact-string verdicts. */
  private def substrMarked(cand: DataFrame, minDupCount: Int): DataFrame = {
    val dupWins = cand.groupBy("win").count()
      .filter(col("count") >= minDupCount).select("win")
    cand.join(dupWins, Seq("win"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** ExactSubstr SPAN MANIFEST: the same duplicated-window detection as
    * [[substrDedup]], but instead of rewriting documents it emits one row
    * per MAXIMAL duplicated span — (doc_id, span_start, span_end,
    * span_tokens) with token-index [start, end) bounds — the cut list a
    * data loader or an audit consumes without materializing cleaned text
    * (Lee et al. 2022 publish exactly this: byte ranges to drop).
    * Overlapping/adjacent duplicated windows merge: positions are sorted
    * per doc and every window is w wide, so a window starts a NEW span
    * exactly when it begins after the previous window's end — one
    * lag + running-sum window pass over the (duplicated-position-sized)
    * marked set, partitioned by doc. */
  def substrSpans(df: DataFrame, id: Column, text: Column, w: Int,
      minDupCount: Int = 2, materialize: Boolean = true): DataFrame = {
    require(w >= 1, s"window width must be >= 1 token (got $w)")
    require(minDupCount >= 2, s"minDupCount must be >= 2 (got $minDupCount)")
    val toks = graft.util.ParallelScan.widen(
      df.select(id.cast("long").as("doc_id"),
        TextAnalysis.tokens(text).as("t")))
    val (wins, dupH) = substrHashes(toks, w, minDupCount)
    val cand = substrWindows(wins.join(dupH, Seq("h"), "left_semi"), toks, w)
    scoped(materialize, toks, cand) {
      val marked = substrMarked(cand, minDupCount)
      val byDoc = Window.partitionBy("doc_id").orderBy(col("pos"))
      val brk = marked.withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w, 0)
          .otherwise(1))
      val grp = brk.withColumn("__g",
        sum(col("__brk")).over(byDoc.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      grp.groupBy(col("doc_id"), col("__g"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + w).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("span_tokens"))
    }
  }

  /** ExactSubstr phase 3, shared by [[substrDedup]] and [[substrIngest]]:
    * drop every token covered by a duplicated window, in one in-row array
    * pass. `toks` = (doc_id, t); `marked` = (doc_id, sorted positions). */
  private def dropCoveredTokens(toks: DataFrame, marked: DataFrame,
      w: Int): DataFrame = {
    val mpos = coalesce(col("mpos"), array().cast("array<int>"))
    val kept = filter(
      zip_with(col("t"), sequence(lit(0), size(col("t")) - 1),
        (tok, i) => struct(tok.as("tok"), i.as("i"))),
      s => !exists(mpos, p => p <= s("i") && s("i") < p + w))
    toks.join(marked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", transform(kept, s => s("tok"))).as("kept_text"),
        size(col("t")).as("n_tokens"),
        (size(col("t")) - size(kept)).as("removed_tokens"))
  }

  /** INCREMENTAL ExactSubstr ingest — the arrival-order twin of
    * [[substrDedup]]. Contract: an arriving document is cleaned against
    * every window seen up to and INCLUDING its own batch; already-emitted
    * documents are never retro-edited when a later batch re-duplicates
    * their text (the same "earlier docs are settled" convention as
    * [[ingestDedup]]).
    *
    * State under `dir/`: `windex` — one graft row per DISTINCT window
    * string seen so far with its exact occurrence count (the record key
    * IS the window string, so verdicts stay exact-string, never
    * hash-trust); `docs` — the cleaned output rows keyed by doc id.
    * Every post-bootstrap batch commits BOTH tables in ONE
    * [[graft.write.MultiTableTxn]]: a crash can never record a batch's
    * cleaned docs without the counts that justified them, or counts
    * without their docs. Being graft tables, the dedup state gets time
    * travel, OCC, and cleaning for free.
    *
    * Scale: per batch, one count-by-window shuffle of the batch's own
    * windows plus one STORAGE-PARTITIONED join against the index
    * ([[joinIndexCounts]]): only the batch-side counts exchange, into the
    * windex's bucket layout, so per-batch exchange bytes track the
    * BATCH's window count however large the index grows (SOAK_r13 gates
    * it); the already-ingested corpus text is never re-read.
    *
    * Returns the batch's cleaned rows (doc_id, kept_text, n_tokens,
    * removed_tokens), exactly as recorded in `dir/docs`. `ts` pins the
    * BOOTSTRAP commits only; transactional batches mint reserved
    * timestamps of their own. Each doc id must arrive at most once —
    * ENFORCED by [[assertUningested]] (a key-only docs-table probe per
    * post-bootstrap batch; `assertNewDocs = false` skips it). The unit
    * parameters (`w`/`minDupCount`) are RECORDED in the windex's
    * creation-commit extras and ENFORCED on every later batch
    * ([[assertIngestContract]]) — a drifting window width refuses
    * loudly instead of silently mixing units in the count index. */
  def substrIngest(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, id: Column, text: Column, w: Int,
      minDupCount: Int = 2, numBuckets: Int = 8,
      ts: Option[String] = None,
      assertNewDocs: Boolean = true, hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): DataFrame = {
    require(w >= 1, s"window width must be >= 1 token (got $w)")
    val toks = graft.util.ParallelScan.widen(
        batch.select(id.cast("long").as("doc_id"),
          TextAnalysis.tokens(text).as("t")))
      .persist()
    try {
      val ix = openCountIndex(spark, dir, WindowIndex,
        Map(IngestUnitKey -> s"window:$w",
          IngestMinDupKey -> minDupCount.toString))
      if (!ix.boot && assertNewDocs)
        assertUningested(spark, ix.docsDir, toks.select(col("doc_id")))
      // The batch materializes its window STRINGS directly (batch-sized
      // ×w — the price of never re-reading history text).
      val wins = toks.select(col("doc_id"),
          transform(winStarts(col("t"), w), p =>
            struct(p.as("pos"), winAt(col("t"), p, w).as("win"))).as("ws"))
        .select(col("doc_id"), explode_outer(col("ws")).as("pw"))
        .filter(col("pw").isNotNull)
        .select(col("doc_id"), col("pw.pos").as("pos"),
          col("pw.win").as("win"))
      val bCounts = wins.groupBy("win").agg(count(lit(1)).as("bcnt"))
      ingestCounts(spark, ix, bCounts.withColumnRenamed("win", "k"),
        Seq(col("k").as("win"),
          (col("bcnt") + coalesce(col("hcnt"), lit(0L))).as("cnt")),
        numBuckets, ts, hotN, hotMinCount) { (totals, hot) =>
        // hot-key armored mark join — bounds the batch's largest
        // semi-join task by the hottest cold key
        val marked = semiArmoredWith(wins,
            totals.filter(col("cnt") >= minDupCount).select("win"),
            "win", hot.map(_.getString(0)),
            hot.filter(_.getLong(1) >= minDupCount).map(_.getString(0)))
          .groupBy("doc_id")
          .agg(sort_array(collect_set(col("pos"))).as("mpos"))
        dropCoveredTokens(toks, marked, w)
      }
    } finally toks.unpersist(blocking = true)
  }

  /** BEST-of-cluster dedup: keep, per duplicate cluster, the member with
    * the highest `score` (ties by smallest id — deterministic), plus every
    * unclustered doc — the production dedup policy (quality-ranked
    * representative) rather than the smallest-id convention. Composition:
    * [[clusters]] labels the clustered docs, one per-cluster top-1 window
    * over the (cluster-count-sized) labeled set picks winners, and the
    * corpus anti-joins the losers. The window runs over clustered docs
    * only — duplicate clusters, not the corpus — so the extra cost over
    * smallest-id dedup is one join against the cluster labels. */
  def keepBestPerCluster(df: DataFrame, id: Column, pairs: DataFrame,
      idA: Column, idB: Column, score: Column,
      checkpointDir: Option[String] = None): DataFrame = {
    val labels = clusters(pairs, idA, idB, checkpointDir)
    val scored = df.select(id.cast("long").as("__kid"), score.as("__q"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__q").desc, col("doc_id").asc)
    val losers = labels.join(scored, col("doc_id") === col("__kid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id").as("__loser"))
    df.join(losers, id.cast("long") === col("__loser"), "left_anti")
  }

  /** Incremental corpus dedup against a graft-format SIGNATURE INDEX table:
    * each ingested batch is deduplicated against every document ever seen
    * (kept or dropped) plus its own earlier rows, then appended to the
    * index — so a corpus ingested in arrival order reaches exactly the
    * same kept set as one batch-mode `minhashPairs` pass over everything
    * (the oracle's check), without ever re-shingling history.
    *
    * The index row is (doc_id, sig, shingles, kept): the MinHash signature
    * feeds LSH candidate generation against future batches, the distinct
    * shingle-hash set feeds exact-Jaccard verification, and `kept` records
    * the verdict. Storing the sketch instead of recomputing it is the
    * scale play — ingest cost is one index scan plus banding over
    * seen ∪ batch; the 100 TB of original text never gets touched again.
    * Because the index is a graft table, the dedup state itself gets
    * time travel, incremental reads, OCC, and cleaning for free.
    *
    * Semantics contract: `id` must be strictly increasing across batches
    * (arrival order). "Dropped" means some EARLIER doc (any batch,
    * including dropped ones) has exact shingle-Jaccard ≥ threshold — the
    * same pairwise drop-list rule as `dropIdsFromPairs`.
    *
    * Returns the updated index snapshot (lazy read of the table).
    */
  def ingestDedup(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batch: DataFrame, id: Column, text: Column,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      thresholdPermille: Int = 500, maxBucket: Int = 1000,
      numBuckets: Int = 8, ts: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // The batch is shingled and signed ONCE: (id, sig, shingles) is
    // checkpointed eagerly, so the banding union, the id_b semi-join, the
    // verification arrays and the written rows all read the same
    // materialized blocks instead of re-planning the batch per consumer.
    val batchRows = signed(batch, id, text, n, numHashes)
      .localCheckpoint(eager = true)
    val tl = graft.format.Timeline(
      spark.sessionState.newHadoopConf(), indexDir)
    // catalog read (r13): the index is MOR; the catalog's native MOR
    // scan merges per file group inside the task (the same reader every
    // snapshot read uses), so reading history costs input bytes only
    val seen =
      if (tl.completedInstants().nonEmpty)
        graft.util.CatalogMount.table(spark, indexDir)
          .select(col("doc_id").as("id"), col("sig"), col("shingles"))
      else batchRows.limit(0)
    // One banding pass over seen ∪ batch — identical bucket function to
    // minhashPairs, so candidate recall is the same measured property.
    val union = batchRows.unionByName(seen)
    // Only pairs whose LATER member is in this batch matter (history is
    // already settled); the earlier member may be anywhere.
    val cand = candidatePairs(banded(union, bands, rows), maxBucket)
      .join(batchRows.select(col("id").as("id_b")), Seq("id_b"), "leftsemi")
    val drops = verifyJaccardArrays(cand,
        union.select(col("id"), col("shingles")), thresholdPermille)
      .select(col("id_b").as("__drop")).distinct()
    // not materialized: the delete-free, counter-free delta append below
    // reads its frame exactly once (its write measures the files itself)
    val out = batchRows
      .join(drops, col("id") === col("__drop"), "left")
      .select(col("id").as("doc_id"), col("sig"), col("shingles"),
        col("__drop").isNull.as("kept"))
      .withColumn("pt", lit("all"))
    // MOR + deltaCounters=off (r13): every batch's ids hash across all
    // buckets, so COW appends rewrote the WHOLE index per batch and the
    // exact-live-count existence join re-read it — this is an internal
    // state table consumed by scans/joins, never metadata COUNT(*)
    val writer = out.write.format("graft")
      .option("key", "doc_id").option("partition", "pt")
      .option("type", "mor")
      .option("deltaCounters", "off")
      .option("buckets", numBuckets.toString)
      .mode(org.apache.spark.sql.SaveMode.Append)
    ts.fold(writer)(t => writer.option("ts", t)).save(indexDir)
    graft.read.SnapshotReader.read(spark, indexDir)
  }

  // ---- shared internals ----

  /** (id, sig, shingles) of every row with non-null text: the distinct
    * shingle set and its in-row MinHash signature, projected once per doc
    * (the band slices read `sig` as an attribute — see the object note). */
  private def signed(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int): DataFrame =
    graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("id"), text.as("__text"))
          .filter(col("__text").isNotNull))
      .select(col("id"), shingleSet(col("__text"), n).as("shingles"))
      .select(col("id"), graft.functions.MinHashSignature.of(
        col("shingles"), numHashes).as("sig"), col("shingles"))

  /** LSH band buckets (id, band, bucket) of an (id, sig) frame: bucket =
    * hash of the band's `rows`-long signature slice, seeded by the band
    * index. */
  private def banded(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b)).as("bucket"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bc"))
      .select(col("id"), col("bc.band").as("band"),
        col("bc.bucket").as("bucket"))
  }

  /** Exact-Jaccard verification of candidate pairs against the per-doc
    * shingle ARRAYS (a doc-count-sized side — broadcast below the
    * autoBroadcast threshold, hash-shuffled by id beyond it), intersected
    * in-row: cost |cand|·O(sz). PPJoin's verify step — an exploded-stream
    * re-join would instead push |cand|·avg_sz ROWS through a shuffle. */
  private[graft] def verifyJaccardArrays(cand: DataFrame, arrays: DataFrame,
      thresholdPermille: Int): DataFrame =
    cand
      .join(arrays.select(col("id").as("id_a"), col("shingles").as("__sa")),
        "id_a")
      .join(arrays.select(col("id").as("id_b"), col("shingles").as("__sb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("inter"),
        size(col("__sa")).cast("long").as("sz_a"),
        size(col("__sb")).cast("long").as("sz_b"))
      .withColumn("jaccard_permille",
        floor(col("inter") * lit(1000) /
          (col("sz_a") + col("sz_b") - col("inter"))).cast("long"))
      .filter(col("jaccard_permille") >= thresholdPermille)
      .select("id_a", "id_b", "jaccard_permille")

  /** materialize = true: persist `intermediates`, materialize `body`'s
    * (output-sized) result eagerly via localCheckpoint, then release the
    * intermediates. The operators above reuse expensive intermediates
    * (shingle streams, quantized vectors) across several plan consumers; a
    * persist that outlives the call leaks executor memory for the session
    * lifetime and lets CacheManager silently serve later identical plans
    * from cache (which also falsifies benchmarks). localCheckpoint
    * truncates lineage, so the returned DataFrame no longer references the
    * unpersisted plans; the cost is that the operator becomes eager.
    *
    * materialize = false: return the UNMATERIALIZED declarative plan — no
    * persist, no checkpoint, nothing eager. Pipeline composers get full
    * lazy composition: downstream filters/projections push into the verify
    * join (and below) before anything executes, and no checkpoint write of
    * the full output happens at all. The trade: the shared intermediate
    * appears as several subtrees of the one plan and is recomputed per
    * consumer — choose this mode when the downstream filter is selective
    * enough that skipping the full-output materialization wins. */
  private def scoped(materialize: Boolean, intermediates: DataFrame*)(
      body: => DataFrame): DataFrame =
    if (!materialize) body
    else {
      intermediates.foreach(_.persist())
      try {
        val inner = body
        // r18 plan-audit hook: the checkpoint hides the operator's real
        // subtree from the returned frame's explain — capture it here
        // when a dump sink is active (no-op otherwise)
        graft.util.PlanProbe.record("scoped", inner)
        inner.localCheckpoint(eager = true)
      }
      finally intermediates.foreach(_.unpersist(blocking = true))
    }

  /** The incremental indexes' INGEST CONTRACT, persisted in the index
    * table's CREATION commit extras exactly like `buckets`
    * ([[graft.write.WriteContract.BucketsKey]]) and required to MATCH on
    * every post-bootstrap batch: the index keys are segment/window
    * strings OF ONE UNIT — a caller drifting on `width`/`delim`/`w`/
    * `minDupCount` between batches would silently mix units in one
    * count index and corrupt every later verdict, so a mismatch refuses
    * loudly naming both values. Indexes bootstrapped before the contract
    * existed record nothing and are accepted as-is (nothing to check
    * against); re-bootstrapping records it. */
  private val IngestUnitKey = "ingest.unit"
  private val IngestMinDupKey = "ingest.minDupCount"
  private val IngestKeepFirstKey = "ingest.keepFirst"

  private def assertIngestContract(tl: graft.format.Timeline,
      dir: String, contract: Map[String, String]): Unit =
    contract.foreach { case (k, got) =>
      tl.recordedExtraAsOf(k, None).foreach { r =>
        if (r != got) throw new IllegalArgumentException(
          s"$k=$got contradicts the ingest contract recorded when $dir " +
            s"was bootstrapped ($k=$r): every batch must pass the same " +
            "unit parameters — a drifting caller would silently mix " +
            "segment units in the count index and corrupt every later " +
            "verdict")
      }
    }

  /** A batch's ids as DISTINCT docs-table record keys `k`. */
  private def probeIds(idFrame: DataFrame): DataFrame =
    idFrame.toDF("__i").select(col("__i").cast("string").as("k")).distinct()

  /** The ONE docs-presence probe under every count-index guard
    * ([[assertUningested]], [[assertAllIngested]], [[streamBatchSettled]],
    * [[streamDeleteSettled]]; each keeps its own policy and message):
    * the docs table's keys among the [[probeIds]] `ids` — a key-only scan
    * (column-pruned to the record key) ⋈ the broadcast ids (batch-sized).
    * The table is mounted only once a guard needs its hits: an empty
    * micro-batch or a bootstrap never mounts it. */
  private def docsHits(spark: org.apache.spark.sql.SparkSession,
      docsDir: String, ids: DataFrame): DataFrame =
    graft.util.CatalogMount.table(spark, docsDir)
      .select(col("k")).join(broadcast(ids), Seq("k"))

  /** Re-ingest guard shared by the incremental ingest paths: the
    * arrival-order contract requires each doc id to arrive AT MOST ONCE —
    * a re-ingested id would silently upsert its settled docs row while
    * DOUBLE-COUNTING its windows/segments in the count index, permanently
    * skewing every later verdict. One [[docsHits]] probe; refuses loudly
    * on the first hit. The docs-key scan is the per-batch price; callers
    * that enforce arrival uniqueness upstream can switch it off via
    * `assertNewDocs`. */
  private def assertUningested(spark: org.apache.spark.sql.SparkSession,
      docsDir: String, ids: DataFrame): Unit = {
    val dup = docsHits(spark, docsDir, probeIds(ids)).limit(1).collect()
    require(dup.isEmpty,
      s"ingest: doc id ${if (dup.isEmpty) "" else dup.head.getString(0)} " +
        "was already ingested — each id must arrive at most once " +
        "(re-ingesting would double-count its index entries; pass " +
        "assertNewDocs = false only if uniqueness is enforced upstream)")
  }

  /** The takedown twin of [[assertUningested]]: every doc id in a DELETE
    * batch must be PRESENT in the docs table — subtracting a never-
    * ingested doc's counts would corrupt the index, so an unknown id
    * refuses loudly. One [[docsHits]] probe (docs keys are unique, so
    * the hits count the present ids). */
  private def assertAllIngested(spark: org.apache.spark.sql.SparkSession,
      docsDir: String, ids: DataFrame, what: String): Unit = {
    val probe = probeIds(ids)
    val n = probe.count()
    val present = docsHits(spark, docsDir, probe).count()
    require(present == n,
      s"$what: ${n - present} of $n doc ids were never ingested into " +
        s"$docsDir — deleting an unknown doc would subtract counts it " +
        "never contributed; delete exactly the rows as ingested")
  }

  /** The two segment units [[segmentDedup]]/[[segIngest]] share:
    *
    *  - token mode (`delim = None`): [[TextAnalysis.tokens]] cut into
    *    ⌊n/width⌋ fixed-width NON-overlapping windows plus an always-kept
    *    tail; segments and the reassembled text are the NORMALIZED token
    *    stream joined by single spaces.
    *  - delimiter mode (`delim = Some(d)`, e.g. "\n" — RefinedWeb's
    *    literal line dedup): segments are the EXACT substrings
    *    `split(text, d)` (no tokenization, no case folding; empty
    *    segments — blank lines — participate like any other), there is
    *    no tail, and kept segments are re-joined with `d` verbatim.
    *
    * Returns (base with doc_id/nseg/tail_, the segment-array column,
    * the reassembly joiner). */
  private def segSplit(df: DataFrame, id: Column, text: Column,
      width: Int, delim: Option[String]): (DataFrame, Column, String) =
    delim match {
      case None =>
        require(width > 0, "width must be positive")
        val base = df.select(id.cast("long").as("doc_id"),
            TextAnalysis.tokens(text).as("t"))
          .withColumn("nseg", (size(col("t")) / width).cast("int"))
          .withColumn("tail_", array_join(
            slice(col("t"), col("nseg") * width + 1, size(col("t")) + 1),
            " "))
        // explicit empty-array branch: sequence(0, -1) would INFER step
        // −1 and yield [0, −1] for zero-segment docs, not an empty list
        val segArr = when(col("nseg") > 0,
          transform(sequence(lit(0), col("nseg") - 1, lit(1)),
            i => array_join(slice(col("t"), i * width + 1, lit(width)),
              " ")))
          .otherwise(array().cast("array<string>"))
        (base, segArr, " ")
      case Some(d) =>
        require(d.nonEmpty, "delim must be non-empty")
        val base = df.select(id.cast("long").as("doc_id"),
            split(text, java.util.regex.Pattern.quote(d)).as("segs"))
          .withColumn("nseg", size(col("segs")).cast("int"))
          .withColumn("tail_", lit(""))
        (base, col("segs"), d)
    }

  /** Reassembled output frame shared by batch and delimiter modes: kept
    * segments in position order joined by `joiner`, plus the (token-mode)
    * tail — one row per input document. */
  private def segAssemble(base: DataFrame, kept: DataFrame,
      joiner: String): DataFrame = {
    val re = kept.groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          s => s("seg")), joiner).as("body"),
        count(lit(1)).as("kept_n"))
    base.join(re, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(
          array(coalesce(col("body"), lit("")), col("tail_")),
          x => length(x) > 0), joiner).as("text_dedup"),
        col("nseg").cast("long").as("segs_total"),
        (col("nseg") - coalesce(col("kept_n"), lit(0L)))
          .cast("long").as("segs_removed"))
  }

  /** Per-occurrence keep verdict given the segment's corpus count and
    * canonical first occurrence. */
  private def segKeepCond(keepFirst: Boolean, minDupCount: Int,
      cnt: Column, fdoc: Column, fpos: Column): Column =
    if (keepFirst)
      cnt < minDupCount ||
        (fdoc === col("doc_id") && fpos === col("pos"))
    else cnt < minDupCount

  /** HOT-KEY armor for the occurrence↔count keep-join (shared by
    * [[segmentDedup]] and [[segIngest]]): the hot segments' verdicts are
    * answered MAP-SIDE from literal maps built over their EXACT stats,
    * and only COLD occurrences enter the shuffle join — so the largest
    * join task is bounded by the hottest cold key, however pathological
    * the boilerplate.
    *
    * Why not lean on AQE skew-join splitting (the r12–r14 adjudication):
    * MEASURED false for this plan shape. The count side reaches the join
    * as a final HashAggregate over its own exchange — not a bare shuffle
    * stage — so `OptimizeSkewedJoin` never fires (verified at an 8 KB
    * skew threshold: a planted segment covering 80% of all occurrences
    * still landed its 400k rows in ONE task, every AQE setting
    * identical). And even where it applies, AQE's trigger is COMPRESSED
    * bytes — a million identical boilerplate strings compress ~100×, so
    * row/CPU skew hides far below the byte threshold. The literal split
    * is deterministic and changes no verdict (hash-gate-identical by
    * construction; SOAK `seg_dedup_skew` pins the task-records bound).
    *
    * `hotStats` = (segment, exact count, first doc, first pos) for the
    * discovered candidates ([[hotTop]] + a key-pushed-down stats pass);
    * empty = the plain join, byte-identical to the unarmored plan. */
  private def segKeepJoin(occ: DataFrame, counts: DataFrame,
      keepFirst: Boolean, minDupCount: Int,
      hotStats: Seq[(String, Long, Long, Int)]): DataFrame = {
    val cold = occ.join(counts, "seg").filter(segKeepCond(keepFirst,
      minDupCount, col("cnt"), col("fdoc"), col("fpos")))
      .select("doc_id", "pos", "seg")
    if (hotStats.isEmpty) cold
    else {
      val hotKeys: Seq[String] = hotStats.map(_._1)
      val cntMap = typedLit(hotStats.map(t => t._1 -> t._2).toMap)
      val fdMap = typedLit(hotStats.map(t => t._1 -> t._3).toMap)
      val fpMap = typedLit(hotStats.map(t => t._1 -> t._4).toMap)
      val keptHot = occ.filter(col("seg").isInCollection(hotKeys))
        .filter(segKeepCond(keepFirst, minDupCount,
          element_at(cntMap, col("seg")),
          element_at(fdMap, col("seg")),
          element_at(fpMap, col("seg"))))
        .select("doc_id", "pos", "seg")
      val keptCold = occ.filter(!col("seg").isInCollection(hotKeys))
        .join(counts, "seg").filter(segKeepCond(keepFirst, minDupCount,
          col("cnt"), col("fdoc"), col("fpos")))
        .select("doc_id", "pos", "seg")
      keptHot.union(keptCold)
    }
  }

  /** The armor's ENGAGEMENT FLOOR: a key qualifies as hot only when its
    * count alone would meaningfully load one reducer (~100k occurrences
    * ≈ a few MB — below that, a single task handles it trivially and the
    * split only costs plan complexity). */
  private val HotEngageCount = 100000L

  /** HOT-KEY DISCOVERY by deterministic occurrence sampling: a ~1%
    * hash-coin over (doc_id, pos) — [[hotCoin]] — marks sample rows,
    * per-key sampled counts must clear hotMinCount/mod/2, and the top
    * `hotN` survivors are the hot CANDIDATES. Discovery only chooses
    * which keys ride literal plans — verdicts always come from EXACT
    * stats re-aggregated for the candidates afterwards (a filter on the
    * grouping key pushes below the aggregation, so that pass is
    * map-side over the persisted occurrences) — so sampling noise can
    * shift bytes between the literal and shuffle paths but never change
    * a result. Cost: one cache-read pass with a metadata-sized exchange
    * (only keys clearing the sampled floor), which is what lets the
    * COUNT frame stay UNCACHED: persisting it for an exact TakeOrdered
    * hands the optimizer its accurate cache size and de-broadcasts a
    * toy-sized dup side (+58 MB measured on the regular soak corpus,
    * the r13 sem-dedup de-broadcast failure mode re-observed).
    *
    * A floor below 2× the sampling modulus skips sampling and counts
    * exactly (a sub-200 floor means the caller — tests — wants tiny keys
    * to engage; the sample would be empty at that scale). */
  private val HotSampleMod = 100L
  private def hotCoin: Column =
    pmod(xxhash64(col("doc_id"), col("pos")), lit(HotSampleMod)) === 0
  private def hotTop(occLike: DataFrame, key: String, hotN: Int,
      hotMinCount: Long): Seq[String] = {
    if (hotN <= 0) return Nil
    val (sampled, floor) =
      if (hotMinCount < 2 * HotSampleMod) (occLike, hotMinCount)
      else (occLike.filter(hotCoin),
        math.max(1L, hotMinCount / HotSampleMod / 2))
    sampled.groupBy(key).agg(count(lit(1)).as("__sc"))
      .filter(col("__sc") >= floor)
      .orderBy(col("__sc").desc, col(key).asc).limit(hotN)
      .collect().map(_.getString(0)).toSeq
  }

  /** Hot-key armored LEFT SEMI of per-occurrence rows against the
    * duplicated-key set (ExactSubstr's mark joins — the semi twin of
    * [[segKeepJoin]]): a semi verdict for a key IN the set is constantly
    * TRUE, so occurrences of `hotDup` keys pass map-side, occurrences of
    * hot-but-not-duplicated candidates (`hotAll` \ `hotDup`) drop
    * map-side, and only COLD occurrences shuffle into the semi join.
    * Empty `hotAll` = the plain join, byte-identical to unarmored. */
  private def semiArmoredWith(occ: DataFrame, dup: DataFrame, key: String,
      hotAll: Seq[Any], hotDup: Seq[Any]): DataFrame =
    if (hotAll.isEmpty) occ.join(dup, Seq(key), "left_semi")
    else {
      val keep =
        if (hotDup.isEmpty) occ.filter(lit(false))
        else occ.filter(col(key).isInCollection(hotDup))
      // the USING-style semi join moves the join key to the FIRST
      // column; re-project to occ's order before the POSITIONAL union
      // (without it the union silently type-coerces the scrambled
      // columns — caught by the arrival-order spec)
      keep.union(occ.filter(!col(key).isInCollection(hotAll))
        .join(dup, Seq(key), "left_semi")
        .select(occ.columns.map(col).toIndexedSeq: _*))
    }

  /** Corpus-wide duplicated-SEGMENT removal (the "line dedup" pass of
    * RefinedWeb/CCNet-style pipelines, Penedo et al. 2023 §3.3 — drop the
    * boilerplate lines that repeat across documents, keeping documents
    * otherwise intact). Two segment units ([[segSplit]]): the default
    * fixed-width NON-OVERLAPPING token window, and — `delim = Some("\n")`
    * — the paper's literal line mode, where a segment is the exact
    * delimiter-split substring (same plan, different cut; gated
    * separately as q_seg_dedup / q_seg_dedup_lines).
    *
    * Semantics (integer/string-exact, so the DuckDB oracle hash-matches):
    * tokenize ([[TextAnalysis.tokens]] — trim/lower/split, the repo-wide
    * convention), cut ⌊n/width⌋ segments of `width` tokens plus an
    * always-kept tail; a segment OCCURRENCE is dropped iff its segment
    * string occurs ≥ `minDupCount` times corpus-wide and (when `keepFirst`)
    * it is not the canonical first occurrence (min (doc_id, pos)).
    * Documents are reassembled from kept segments in order + tail; the
    * output text is the NORMALIZED token stream (same contract as
    * [[substrDedup]]).
    *
    * Returns (doc_id, text_dedup, segs_total, segs_removed), one row per
    * input document (zero-segment docs pass through with their tail).
    *
    * Scale shape (100 TB): two shuffles — (1) segment-keyed: the distinct
    * count is map-side combined, so the exchange carries distinct segments
    * per mapper, and the occurrence↔count join reuses the same key; (2)
    * doc-keyed regroup bounded by document size. Never all-pairs, no
    * window over the corpus. Skew (one mega-duplicated boilerplate
    * segment) concentrates that key's OCCURRENCES in one reducer — AQE
    * skew-join splits it, and the keep-decision is a per-row predicate, so
    * no quadratic blowup is possible. */
  def segmentDedup(df: DataFrame, id: Column, text: Column,
      width: Int = 5, minDupCount: Int = 2,
      keepFirst: Boolean = true, materialize: Boolean = true,
      delim: Option[String] = None, hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): DataFrame = {
    require(minDupCount >= 2, "minDupCount below 2 would drop every segment")
    val (base, segArr, joiner) = segSplit(df, id, text, width, delim)
    // posexplode_outer, not posexplode: keeps Catalyst from inferring a
    // size()>0 filter that re-evaluates the segment build below the
    // exchange (see the explode_outer note at the top of this file)
    val occ = base.select(col("doc_id"), posexplode_outer(segArr)
        .as(Seq("pos", "seg")))
      .filter(col("seg").isNotNull)
    val counts = occ.groupBy("seg")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first_occ"))
      .select(col("seg"), col("cnt"), col("first_occ.doc_id").as("fdoc"),
        col("first_occ.pos").as("fpos"))
    // base feeds occ AND the final left join; occ feeds the count AND
    // the occurrence↔count join. `counts` stays UNCACHED on purpose: its
    // single FULL consumer is the cold join (hot discovery samples occ,
    // and the candidates' exact stats re-aggregate with the seg filter
    // pushed below the agg — both map-side over the persisted occ), and
    // keeping it uncached preserves the optimizer's small-data broadcast
    // of the count side (see [[hotTop]]).
    scoped(materialize, base, occ) {
      // hot-key split needs eager discovery; in lazy composition mode
      // (materialize = false) the operator stays fully declarative
      val hotSegs =
        if (materialize) hotTop(occ, "seg", hotN, hotMinCount) else Nil
      val hotStats =
        if (hotSegs.isEmpty) Nil
        else counts.filter(col("seg").isInCollection(hotSegs)).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSeq
      val kept = segKeepJoin(occ, counts, keepFirst, minDupCount,
        hotStats)
      segAssemble(base, kept, joiner)
    }
  }

  /** STREAMING-driven [[segIngest]] — the `foreachBatch` body that makes
    * a `readStream.format("graft")`-tailed corpus maintain the segment
    * index EXACTLY-ONCE per micro-batch:
    *
    * {{{
    * spark.readStream.format("graft").load(srcTable)
    *   .select(col("doc_id"), col("text"))
    *   .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
    *     Dedup.segIngestBatch(spark, dir, b, col("doc_id"), col("text"))
    *       : Unit
    *   }.option("checkpointLocation", ckpt).start()
    * }}}
    *
    * After a restart the engine re-runs the last possibly-uncommitted
    * micro-batch. [[segIngest]]'s post-bootstrap commit is ONE
    * [[graft.write.MultiTableTxn]] (docs + segindex all-or-nothing), so
    * a replayed batch is either FULLY present — detected by a key-only
    * docs probe and skipped (returns None) — or fully absent and
    * ingested normally. A PARTIAL overlap can only mean two writers or
    * re-used doc ids: refused loudly (the assertUningested contract).
    * The bootstrap pair of creates is individually idempotent under
    * replay (same keys upsert, same rows). The arrival-order semantics
    * are [[segIngest]]'s, micro-batch = batch. */
  def segIngestBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, id: Column, text: Column,
      width: Int = 5, minDupCount: Int = 2, keepFirst: Boolean = true,
      numBuckets: Int = 8, delim: Option[String] = None,
      hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): Option[DataFrame] =
    if (streamBatchSettled(spark, "segIngestBatch", dir, SegmentIndex,
        batch.select(id.cast("long")))) None
    else Some(segIngest(spark, dir, batch, id, text, width, minDupCount,
      keepFirst, numBuckets, ts = None, delim,
      assertNewDocs = false, // the probe above already decided
      hotN, hotMinCount))

  /** [[segIngestBatch]]'s ExactSubstr twin — the `foreachBatch` body for
    * a graft-stream-fed window-count index. Same exactly-once argument:
    * the post-bootstrap commit is ONE MultiTableTxn, so a replayed
    * micro-batch is fully present (skipped) or fully absent (ingested);
    * a partial overlap refuses. */
  def substrIngestBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, id: Column, text: Column, w: Int,
      minDupCount: Int = 2, numBuckets: Int = 8, hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): Option[DataFrame] =
    if (streamBatchSettled(spark, "substrIngestBatch", dir, WindowIndex,
        batch.select(id.cast("long")))) None
    else Some(substrIngest(spark, dir, batch, id, text, w, minDupCount,
      numBuckets, ts = None,
      assertNewDocs = false, // the probe above already decided
      hotN, hotMinCount))

  /** STREAMING takedown — the `foreachBatch` body of a CDC-tailed
    * takedown pipeline feeding [[segDelete]]:
    *
    * {{{
    * spark.readStream.format("graft").option("cdc", "true").load(tbl)
    *   .filter(col("_change_type") === "delete") // full PRE-IMAGE rows
    *   .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
    *     Dedup.segDeleteBatch(spark, idxDir, b,
    *       col("doc_id"), col("text"), width = 5): Unit
    *   }.option("checkpointLocation", ckpt).start()
    * }}}
    *
    * The change feed's delete rows carry the FULL pre-commit payload
    * (the engine's delete-view artifact), which is exactly what count
    * subtraction needs — the takedown pipeline composes from the
    * reference's core operation without re-reading any table state.
    * Exactly-once mirrors [[segIngestBatch]] inverted: the delete txn
    * is all-or-nothing, so a replayed micro-batch finds NONE of its ids
    * in the docs table and SKIPS (None); all present → delete
    * (Some(n)); a partial overlap refuses. Caveat (documented, same as
    * the ingest side's never-ingested blind spot): a replay skip is
    * indistinguishable from deleting docs that were never ingested —
    * in a CDC pipeline the deletes come off the same table the index
    * was built from, and `CALL index_status` flags the drift if the
    * index was never maintained. */
  def segDeleteBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, id: Column, text: Column,
      width: Int = 5, delim: Option[String] = None): Option[Long] =
    if (streamDeleteSettled(spark, "segDeleteBatch", s"$dir/docs",
        batch.select(id.cast("long")))) None
    else Some(segSubtract(spark, dir, batch, id, text, width, delim,
      guard = false)) // the probe above already decided

  /** [[segDeleteBatch]]'s ExactSubstr twin — the CDC-takedown
    * `foreachBatch` body for a window-count index. */
  def substrDeleteBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, id: Column, text: Column,
      w: Int): Option[Long] =
    if (streamDeleteSettled(spark, "substrDeleteBatch", s"$dir/docs",
        batch.select(id.cast("long")))) None
    else Some(substrSubtract(spark, dir, batch, id, text, w,
      guard = false)) // the probe above already decided

  /** The streaming replay decision of the *DeleteBatch verbs — the
    * ingest probe inverted: true = the micro-batch is empty or NONE of
    * its ids remain (the delete txn committed before the crash that
    * forced the replay) — skip; false = all ids present — delete. A
    * partial overlap refuses (two writers, or a delete feed drifting
    * from the index). */
  private def streamDeleteSettled(
      spark: org.apache.spark.sql.SparkSession, verb: String,
      docsDir: String, idFrame: DataFrame): Boolean = {
    val ids = probeIds(idFrame)
    val nIds = ids.count()
    if (nIds == 0) return true // empty micro-batch: nothing to remove
    val nPresent = docsHits(spark, docsDir, ids).count()
    if (nPresent == 0L) true // fully-landed replay
    else {
      require(nPresent == nIds,
        s"$verb: $nPresent of $nIds batch doc ids are still in the " +
          "index but not all of them — the delete txn is " +
          "all-or-nothing, so a partial overlap means two writers or " +
          "a takedown feed drifting from the index; refusing")
      false
    }
  }

  /** The streaming replay decision shared by the *IngestBatch verbs:
    * true = the micro-batch is empty or ALREADY FULLY LANDED (the txn
    * committed before the crash that forced the engine's replay) —
    * skip; false = no id has landed — ingest. A PARTIAL overlap can
    * only mean two writers or re-used doc ids (the txn is
    * all-or-nothing): refuse loudly. One [[docsHits]] probe per
    * micro-batch. */
  private def streamBatchSettled(spark: org.apache.spark.sql.SparkSession,
      verb: String, dir: String, kind: CountKind,
      idFrame: DataFrame): Boolean = {
    val ids = probeIds(idFrame)
    val nIds = ids.count()
    if (nIds == 0) return true // empty micro-batch: nothing to land
    val ix = openCountIndex(spark, dir, kind, Map.empty)
    if (ix.boot) return false
    val nPresent = docsHits(spark, ix.docsDir, ids).count()
    if (nPresent == nIds) true
    else {
      require(nPresent == 0L,
        s"$verb: $nPresent of $nIds batch doc ids are already " +
          "in the index but not all of them — a replayed micro-batch is " +
          "all-or-nothing under the txn, so a partial overlap means two " +
          "writers or re-used doc ids; refusing to double-count")
      false
    }
  }

  /** Incremental [[segmentDedup]]: arrival-order ingest against a
    * maintained SEGMENT-COUNT index. An arriving document is cleaned
    * against everything seen up to and INCLUDING its own batch —
    * an occurrence is dropped iff its segment's cumulative count
    * (history + this batch) reaches `minDupCount` and (when `keepFirst`)
    * it is not the ARRIVAL-first occurrence (the stored first if the
    * segment is historical, else the batch's min (doc_id, pos)).
    * Settled documents are never retro-edited ([[ingestDedup]]'s
    * convention), so a later batch re-duplicating old text drops only
    * its own copies.
    *
    * State under `dir/`: `segindex` — one graft row per DISTINCT segment
    * string (record key IS the segment — exact-string verdicts) with its
    * count and first occurrence; `docs` — cleaned outputs keyed by doc
    * id. Both MOR with deltaCounters=off; every post-bootstrap batch
    * commits BOTH in one [[graft.write.MultiTableTxn]]. Per batch: one
    * count-by-segment shuffle of the batch plus one STORAGE-PARTITIONED
    * index join (the segindex DSv2 scan reports bucket(n, k); only the
    * batch-side counts exchange — the batch-bounded shape, conf
    * isolation and checkpoint barrier of [[joinIndexCounts]], shared
    * with [[substrIngest]]). Per-batch cost tracks the BATCH however
    * large the index grows; history text is never re-read.
    *
    * Returns the batch's cleaned rows (doc_id, text_dedup, segs_total,
    * segs_removed) exactly as recorded in `dir/docs`. `ts` pins the
    * bootstrap commits only. Each doc id must arrive at most once —
    * ENFORCED by [[assertUningested]] (a key-only docs-table probe per
    * post-bootstrap batch; `assertNewDocs = false` skips it).
    * `delim` switches the segment unit exactly as in [[segmentDedup]];
    * the unit parameters (`width`/`delim`/`minDupCount`/`keepFirst`)
    * are RECORDED in the index's creation-commit extras and ENFORCED on
    * every later batch ([[assertIngestContract]]) — a drifting caller
    * refuses loudly instead of silently mixing segment units in the
    * count index. */
  def segIngest(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, id: Column, text: Column, width: Int = 5,
      minDupCount: Int = 2, keepFirst: Boolean = true,
      numBuckets: Int = 8, ts: Option[String] = None,
      delim: Option[String] = None,
      assertNewDocs: Boolean = true, hotN: Int = 64,
      hotMinCount: Long = HotEngageCount): DataFrame = {
    require(minDupCount >= 2, "minDupCount below 2 would drop every segment")
    val (rawBase, segArr, joiner) = segSplit(batch, id, text, width, delim)
    val base = graft.util.ParallelScan.widen(rawBase).persist()
    try {
      // opened and guarded BEFORE the eager occ checkpoint, so a refused
      // batch does no distributed work
      val ix = openCountIndex(spark, dir, SegmentIndex,
        Map(IngestUnitKey -> segUnit(width, delim),
          IngestMinDupKey -> minDupCount.toString,
          IngestKeepFirstKey -> keepFirst.toString))
      if (!ix.boot && assertNewDocs)
        assertUningested(spark, ix.docsDir, base.select(col("doc_id")))
      // batch-sized; read by the count aggregate AND the keep join
      val occ = base.select(col("doc_id"), posexplode_outer(segArr)
          .as(Seq("pos", "seg")))
        .filter(col("seg").isNotNull)
        .localCheckpoint(true)
      val bAgg = occ.groupBy("seg").agg(count(lit(1)).as("bcnt"),
        min(struct(col("doc_id"), col("pos"))).as("bfirst"))
      // ARRIVAL-first: a historical segment keeps its stored first
      // forever; only brand-new segments adopt the batch's min
      ingestCounts(spark, ix, bAgg.withColumnRenamed("seg", "k"),
        Seq(col("k").as("seg"),
          (col("bcnt") + coalesce(col("hcnt"), lit(0L))).as("cnt"),
          coalesce(col("hfdoc"), col("bfirst.doc_id")).as("fdoc"),
          coalesce(col("hfpos"), col("bfirst.pos")).as("fpos")),
        numBuckets, ts, hotN, hotMinCount) { (totals, hot) =>
        val hotStats = hot.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        segAssemble(base,
          segKeepJoin(occ, totals, keepFirst, minDupCount, hotStats), joiner)
      }
    } finally base.unpersist(blocking = true)
  }

  /** The segment unit recorded in the ingest contract. */
  private def segUnit(width: Int, delim: Option[String]): String =
    delim.fold(s"token:$width")(d => s"delim:$d")

  // ---- index takedown (r17) ---------------------------------------------
  //
  // The count indexes only ever ACCUMULATE through ingest; a takedown
  // (PII removal, rights revocation) needs the inverse verb. Counts are
  // exactly decrementable — the deleted docs' segment/window counts are
  // recomputed from their text (which the caller supplies: the index
  // stores CLEANED rows, and subtraction must mirror what ingest added)
  // and subtracted; index rows reaching zero are deleted, and the docs
  // rows go in the same transaction. What is NOT re-elected is the
  // keep-first KEEPER: `fdoc`/`fpos` stay as recorded even when the
  // keeper doc itself is taken down — the index does not store the
  // second-earliest occurrence, and (deliberately) a taken-down doc's
  // content is NOT resurrected through later arrivals: segments whose
  // count stays >= minDupCount keep being suppressed. Segments whose
  // count falls BELOW minDupCount genuinely are below the duplication
  // threshold again and future arrivals keep them — count-consistent
  // both ways. A deleted id may later RE-INGEST (its docs row is gone,
  // so the at-most-once guard accepts it as new).

  /** Remove documents from a [[segIngest]] index: subtract their
    * segments' counts (recomputed from the supplied text — pass the
    * rows AS INGESTED), delete index rows reaching zero and the docs
    * rows, all in ONE transaction. Unit parameters are validated
    * against the persisted ingest contract; unknown doc ids refuse
    * loudly ([[assertAllIngested]]); a count underflow (text differing
    * from what was ingested) refuses before any commit. Returns the
    * number of docs removed. Cost tracks the DELETE batch: one
    * batch-counts exchange into the index's bucket layout (the
    * storage-partitioned join ingest uses), never an index rewrite. */
  def segDelete(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, id: Column, text: Column, width: Int = 5,
      delim: Option[String] = None): Long =
    segSubtract(spark, dir, docs, id, text, width, delim, guard = true)

  /** [[segDelete]]'s body; `guard = false` skips the all-ingested probe
    * when the caller ([[segDeleteBatch]]) already made it. */
  private def segSubtract(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame, id: Column, text: Column, width: Int,
      delim: Option[String], guard: Boolean): Long = {
    val (rawBase, segArr, _) = segSplit(docs, id, text, width, delim)
    val base = rawBase.localCheckpoint(true)
    val dAgg = base.select(posexplode_outer(segArr).as(Seq("pos", "seg")))
      .filter(col("seg").isNotNull)
      .groupBy("seg").agg(count(lit(1)).as("dcnt"))
    subtractCounts(spark, "segDelete", dir, SegmentIndex,
      segUnit(width, delim), base, guard, dAgg)
  }

  /** Remove documents from a [[substrIngest]] index — the window-count
    * twin of [[segDelete]]: subtract the deleted docs' window counts
    * (recomputed from the supplied AS-INGESTED text), drop zeroed index
    * rows + the docs rows in one transaction. Same guards: persisted
    * unit contract, all-ingested probe, underflow refusal. */
  def substrDelete(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, id: Column, text: Column, w: Int): Long =
    substrSubtract(spark, dir, docs, id, text, w, guard = true)

  /** [[substrDelete]]'s body; `guard` as in [[segSubtract]]. */
  private def substrSubtract(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame, id: Column, text: Column, w: Int,
      guard: Boolean): Long = {
    require(w >= 1, s"window width must be >= 1 token (got $w)")
    val toks = docs.select(id.cast("long").as("doc_id"),
        TextAnalysis.tokens(text).as("t"))
      .localCheckpoint(true)
    val dAgg = toks
      .select(explode_outer(transform(winStarts(col("t"), w),
        p => winAt(col("t"), p, w))).as("win"))
      .filter(col("win").isNotNull)
      .groupBy("win").agg(count(lit(1)).as("dcnt"))
    subtractCounts(spark, "substrDelete", dir, WindowIndex, s"window:$w",
      toks, guard, dAgg)
  }

  // ---- count-index core -------------------------------------------------
  //
  // substrIngest/segIngest, their takedowns and the four streaming twins
  // maintain ONE design with two keys: a bucketed count index (`windex`
  // keyed by window string, `segindex` by segment string) plus a `docs`
  // table of cleaned rows keyed by doc id, both MOR graft tables under
  // `dir`. The pieces below are that design's only copy — the open step,
  // the docs probe (above), the index join, the ingest commit and the
  // count subtraction; each verb keeps just its key extraction, its
  // first-occurrence columns and its cleaned-row assembly.

  /** One count index's fixed shape: its table under `dir`, its key
    * column, the noun its keys are named by in refusals, and the columns
    * a batch join reads from it (index column → alias; `cnt` first).
    * `namesCounts`: the underflow refusal also names the stored and
    * subtracted counts. */
  private final case class CountKind(table: String, key: String,
      noun: String, hist: Seq[(String, String)], namesCounts: Boolean)
  private val WindowIndex =
    CountKind("windex", "win", "window", Seq("cnt" -> "hcnt"), false)
  private val SegmentIndex = CountKind("segindex", "seg", "segment",
    Seq("cnt" -> "hcnt", "fdoc" -> "hfdoc", "fpos" -> "hfpos"), true)

  /** An opened count index: both table paths, whether the index has no
    * commit yet (the bootstrap batch), and the unit contract it was
    * opened under. */
  private final case class CountIndex(kind: CountKind, idxDir: String,
      docsDir: String, boot: Boolean, contract: Map[String, String])

  /** The open step: the index Timeline, the bootstrap test, and — on an
    * existing index — the persisted ingest contract check. */
  private def openCountIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, kind: CountKind,
      contract: Map[String, String]): CountIndex = {
    val idxDir = s"$dir/${kind.table}"
    val tl = graft.format.Timeline(spark.sessionState.newHadoopConf(), idxDir)
    val boot = tl.completedInstants().isEmpty
    if (!boot) assertIngestContract(tl, idxDir, contract)
    CountIndex(kind, idxDir, s"$dir/docs", boot, contract)
  }

  /** One ingest batch after its guards: `batch` = (k, bcnt, …) per-key
    * batch aggregate; `totals` projects the cumulative index row from it
    * and the index's `hist` aliases (all null at bootstrap, when there is
    * no index yet). The totals are checkpointed ONCE — re-read by the hot
    * pick, the caller's mark join and the commit — and the hot pick
    * (top `hotN` keys by count, at least `hotMinCount`) is an exact local
    * re-scan of them. `clean(totals, hot)` assembles the batch's cleaned
    * rows, returned exactly as recorded in `docs`.
    *
    * Commit: the bootstrap creates docs first and the index last — the
    * boot gate tests the index, so a crash between the creates leaves a
    * retryable half, never a wedge — and the ingest contract rides the
    * index's creation-commit extras (the buckets mechanism). Every later
    * batch commits BOTH tables in ONE [[graft.write.MultiTableTxn]].
    * Both tables are MOR (r13): every batch touches every bucket (key
    * hashes are uniform), so COW upserts rewrote the WHOLE index per
    * batch; MOR appends are batch-sized delta commits that snapshots and
    * the storage-partitioned join merge natively (GraftMorBatchScan),
    * and maintenance compaction amortizes the rewrite on the operator's
    * schedule. deltaCounters=off: these state tables feed joins, never
    * metadata COUNT(*), so the per-delta live-count existence join
    * (snapshot-keys-sized however small the batch) buys nothing. */
  private def ingestCounts(spark: org.apache.spark.sql.SparkSession,
      ix: CountIndex, batch: DataFrame, totals: Seq[Column],
      numBuckets: Int, ts: Option[String], hotN: Int, hotMinCount: Long)(
      clean: (DataFrame, Seq[org.apache.spark.sql.Row]) => DataFrame)
      : DataFrame = {
    val tot =
      if (ix.boot)
        batch.select(col("*") +: ix.kind.hist.map(h => lit(null).as(h._2)): _*)
          .select(totals: _*).localCheckpoint(true)
      else joinIndexCounts(spark, ix, batch, totals)
    val hot =
      if (hotN <= 0) Nil
      else tot.filter(col("cnt") >= hotMinCount)
        .orderBy(col("cnt").desc, col(ix.kind.key).asc).limit(hotN)
        .collect().toSeq
    val cleaned = clean(tot, hot).localCheckpoint(true)
    val idxRows = tot
      .withColumn("k", col(ix.kind.key)).withColumn("p", lit("all"))
    val docRows = cleaned
      .withColumn("k", col("doc_id").cast("string"))
      .withColumn("p", lit("all"))
    if (ix.boot)
      Seq((docRows, ix.docsDir, Map.empty[String, String]),
          (idxRows, ix.idxDir, ix.contract)).foreach { case (df, path, extra) =>
        graft.write.FormatWriter.append(spark, path,
          Map("key" -> "k", "partition" -> "p", "type" -> "mor",
            "deltaCounters" -> "off",
            "buckets" -> numBuckets.toString) ++ ts.map("ts" -> _),
          df, extra)
      }
    else
      graft.write.MultiTableTxn.commit(spark, Seq(
        graft.write.MultiTableTxn.TableWrite(ix.idxDir,
          updates = Some(idxRows)),
        graft.write.MultiTableTxn.TableWrite(ix.docsDir,
          updates = Some(docRows)))): Unit
    cleaned
  }

  /** One takedown after its key extraction: `counts` = (key, dcnt) of
    * the deleted `rows` (checkpointed, with `doc_id`). Opens the index
    * under the `unit` contract, runs the all-ingested guard (unless the
    * caller already probed), joins the counts to the index, refuses an
    * underflow naming the key BEFORE any commit, then subtracts in ONE
    * transaction: index rows above zero update, rows reaching zero and
    * the docs rows delete. Returns the number of rows removed. */
  private def subtractCounts(spark: org.apache.spark.sql.SparkSession,
      verb: String, dir: String, kind: CountKind, unit: String,
      rows: DataFrame, guard: Boolean, counts: DataFrame): Long = {
    val ix = openCountIndex(spark, dir, kind, Map(IngestUnitKey -> unit))
    require(!ix.boot, s"$verb: no ${kind.noun} index at ${ix.idxDir}")
    if (guard)
      assertAllIngested(spark, ix.docsDir, rows.select(col("doc_id")), verb)
    val joined = joinIndexCounts(spark, ix,
      counts.withColumnRenamed(kind.key, "k"), Seq(col("*")))
    val bad = joined
      .filter(col("hcnt").isNull || col("hcnt") < col("dcnt"))
      .limit(1).collect()
    require(bad.isEmpty, {
      val r = bad.head
      val stored =
        if (kind.namesCounts) s" (stored ${r.get(2)} < subtracted ${r.get(1)})"
        else ""
      s"$verb: ${kind.noun} '${r.getString(0)}' would underflow$stored — " +
        "the supplied text differs from what was ingested; delete " +
        "exactly the rows as ingested"
    })
    val upd = joined.filter(col("hcnt") > col("dcnt"))
      .select(Seq(col("k").as(kind.key),
        (col("hcnt") - col("dcnt")).as("cnt")) ++
        kind.hist.tail.map { case (c, a) => col(a).as(c) } ++
        Seq(col("k"), lit("all").as("p")): _*)
    val dels = joined.filter(col("hcnt") === col("dcnt"))
      .select(col("k"), lit("all").as("p"))
    val docDels = rows
      .select(col("doc_id").cast("string").as("k"), lit("all").as("p"))
    graft.write.MultiTableTxn.commit(spark, Seq(
      graft.write.MultiTableTxn.TableWrite(ix.idxDir,
        updates = Some(upd), deletes = Some(dels)),
      graft.write.MultiTableTxn.TableWrite(ix.docsDir,
        deletes = Some(docDels)))): Unit
    rows.count()
  }

  /** Batch ↔ index join on the index's OWN bucket layout — the only
    * index join of the count indexes. `batch` is keyed by `k`; the
    * result is `out` projected over (k, batch columns, the index's
    * `hist` aliases), left-joined and eagerly checkpointed.
    *
    * Storage-partitioned: the index's DSv2 scan (catalog mount, the
    * table's own bucket key `k` as join key) reports bucket(n, k)
    * KeyGroupedPartitioning, and with the v2-bucketing shuffle conf only
    * the BATCH side exchanges, into the index's bucket layout — the index
    * partitions are read co-located, never shuffled, so per-batch
    * exchange bytes track the batch however large the index grows
    * (SOAK_r13 gates it). (r12 joined through the format-level reader,
    * which re-shuffled the full index every batch.)
    *
    * Checkpoint barrier: a batch aggregate leaves a shuffle-partitions
    * hash partitioning that outbids the index's key-grouped spec in
    * EnsureRequirements' side selection — Spark would then re-shuffle the
    * INDEX (index-sized exchange, the exact cost this join exists to
    * avoid). Checkpointing the batch — AFTER its key is renamed to `k` —
    * drops the reusable spec so the scan side's layout wins.
    *
    * ISOLATED session (r14): the join needs
    * spark.sql.sources.v2.bucketing{,.shuffle}.enabled; flipping them on
    * the CALLER's session leaked into concurrent queries during the eager
    * checkpoint, and two interleaved ingests could restore each other's
    * stale values. newSession shares the SparkContext (and re-applies
    * builder-time options) but owns its SQLConf, so the flip is invisible
    * outside; frames cross sessions as materialized RDDs (batch-sized both
    * ways). Runtime-set confs are NOT inherited — the sizing conf the join
    * cares about is copied explicitly. */
  private def joinIndexCounts(spark: org.apache.spark.sql.SparkSession,
      ix: CountIndex, batch: DataFrame, out: Seq[Column]): DataFrame = {
    val bc = batch.localCheckpoint(true)
    val iso = spark.newSession()
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    iso.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    val hist = graft.util.CatalogMount.table(iso, ix.idxDir)
      .select(col("k") +: ix.kind.hist.map { case (c, a) => col(c).as(a) }: _*)
    val joined = org.apache.spark.sql.graft.Bridge
      .sinkBatchDataFrame(iso, bc)
      .join(hist, Seq("k"), "left").select(out: _*)
      .localCheckpoint(true) // eager: the plan runs under iso's conf
    org.apache.spark.sql.graft.Bridge.sinkBatchDataFrame(spark, joined)
  }

  /** (id_a, id_b, inter) + per-doc set sizes → integer-exact Jaccard
    * per-mille: floor(inter·1000 / (sz_a + sz_b − inter)). */
  private def jaccardFromCounts(inter: DataFrame, sizes: DataFrame,
      thresholdPermille: Int): DataFrame =
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard_permille",
        floor(col("inter") * lit(1000) /
          (col("sz_a") + col("sz_b") - col("inter"))).cast("long"))
      .filter(col("jaccard_permille") >= thresholdPermille)
      .select("id_a", "id_b", "jaccard_permille")

  /** Capped co-bucket membership in ONE map-side-combined aggregate
    * (r17, guide §2.2/§2.5): each (band, bucket) group folds to its
    * `maxBucket` smallest-id rows via [[graft.functions.MinKAgg]] — a
    * hot bucket costs the exchange ≤ maxBucket rows PER MAPPER instead
    * of shipping its whole occupancy to one reducer for the r16 rank
    * window's sort, and the bucket stream is read ONCE instead of once
    * per self-join side. Kept set and pair set are bit-identical to the
    * window + self-join form (ids are unique within a bucket, so
    // `orderBy id` is a total order; property-pinned in DedupProps). */
  private[graft] def cappedIds(bucketed: DataFrame, tag: Column,
      maxBucket: Int): DataFrame =
    bucketed.groupBy("band", "bucket")
      .agg(graft.functions.MinKAgg.minK(col("id"), tag, maxBucket)
        .as("__ids"))

  /** In-row pair explosion of a capped, id-ASC bucket array: element i
    * pairs with every LATER element, then the id_a < id_b guard of the
    * self-join form — NOT redundant with the ASC sort: a bucket can hold
    * the SAME id twice (ingestDedup unions the incoming batch with the
    * seen index, so a re-ingested doc co-buckets with its own index
    * row), and the self-join's strict inequality never emitted that
    * degenerate (id, id) pair. */
  private[graft] def pairsFromCapped(capped: DataFrame): DataFrame =
    capped
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "__a")))
      .select(col("__a").getField("id").as("id_a"),
        col("__a").getField("p").as("p_a"),
        explode(slice(col("__ids"), col("__i") + 2, size(col("__ids"))))
          .as("__b"))
      .select(col("id_a"), col("p_a"),
        col("__b").getField("id").as("id_b"),
        col("__b").getField("p").as("p_b"))
      .filter(col("id_a") < col("id_b"))

  /** Distinct co-bucketed id pairs (id_a < id_b). */
  private[graft] def candidatePairs(bucketed: DataFrame,
      maxBucket: Int): DataFrame =
    pairsFromCapped(cappedIds(bucketed, lit(0), maxBucket))
      .select("id_a", "id_b")
      .distinct()

  /** Multi-probe variant: co-bucketed pairs where at least ONE side is a
    * HOME row (`p = 0`) — probe×probe pairs are excluded, bounding
    * per-bucket pair growth to h² + 2hp instead of (h+p)². */
  private[graft] def candidatePairsHomeProbe(bucketed: DataFrame,
      maxBucket: Int): DataFrame =
    pairsFromCapped(cappedIds(bucketed, col("p"), maxBucket))
      .filter(col("p_a") === 0 || col("p_b") === 0)
      .select("id_a", "id_b")
      .distinct()
}
