package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` (whole-stage
  * codegen, no UDFs), scales embarrassingly-parallel (per-row, no shuffle),
  * and is engine-portable: each computation has an exact ANSI-SQL twin used
  * as the DuckDB oracle (see SparkEntry.oracleSql). Ratio outputs are
  * integer-scaled (per-mille floors) to keep cross-engine hashing exact —
  * no float rounding-mode drift.
  */
object TextAnalysis {

  /** Lower-cased whitespace tokens. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space glyphs (CJK counts one-per-char) — a cheap proxy for
    * tokenizer load at scale. Defined as a match COUNT of one regex so the
    * SQL oracle (`len(regexp_extract_all(...))`) is exact. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("([a-z]+|[0-9]+|[^a-z0-9\\s])"), lit(0)))

  /** English-ish stopwords used by the quality heuristic. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Quality metrics: n_chars, n_tokens, avg token length (per-mille),
    * punctuation per-mille, stopword per-mille, and a 0-1000 quality score
    * (docs in a healthy length band with some stopwords score high). */
  def withQuality(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val nPunct = nChars - length(regexp_replace(text, "[.,;:!?'\"()]", ""))
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    df.withColumn("n_chars", nChars.cast("long"))
      .withColumn("n_tokens", nToks.cast("long"))
      .withColumn("avg_token_len_permille",
        floor(nChars * lit(1000) / greatest(nToks, lit(1))).cast("long"))
      .withColumn("punct_permille",
        floor(nPunct * lit(1000) / greatest(nChars, lit(1))).cast("long"))
      .withColumn("stopword_permille",
        floor(nStop * lit(1000) / greatest(nToks, lit(1))).cast("long"))
      .withColumn("quality_score",
        (when(nToks.between(5, 10000), lit(400)).otherwise(lit(0)) +
          when(col("stopword_permille") > 20, lit(300)).otherwise(lit(0)) +
          when(col("punct_permille") < 100, lit(300)).otherwise(lit(0)))
          .cast("long"))
  }

  /** Marker stopwords per language for the n-gram/stopword-count heuristic.
    * Deterministic argmax with a fixed tie order (en,de,fr,es). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  /** Heuristic language ID: per-language marker-token counts, argmax, with
    * CJK-codepoint presence short-circuiting to "zh"; "und" when no marker
    * hits at all. */
  def withLangId(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    val counts = LangMarkers.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(arr, t)))
    }
    val hasCjk = text.rlike("[\\u4e00-\\u9fff]")
    // Argmax as an explicit greatest + case chain (ties go to the earlier
    // language in LangMarkers order) — mirrorable 1:1 in the SQL oracle.
    val cEn = counts(0)._2; val cDe = counts(1)._2
    val cFr = counts(2)._2; val cEs = counts(3)._2
    val top = greatest(cEn, cDe, cFr, cEs)
    val pred = when(hasCjk, lit("zh"))
      .when(top === 0, lit("und"))
      .when(cEn === top, lit("en"))
      .when(cDe === top, lit("de"))
      .when(cFr === top, lit("fr"))
      .otherwise(lit("es"))
    df.withColumn("lang_pred", pred)
  }

  /** Intra-document REPETITION signal (the Gopher/MassiveText quality
    * filter): the per-mille of word `n`-gram occurrences that are repeats
    * of an earlier occurrence in the same document —
    * floor(1000·(count − distinct)/count). "batch batch batch" scores
    * high; natural prose scores near zero. Pure per-row arithmetic (no
    * shuffle, fuses into the scan); integer-exact so the SQL oracle
    * hash-matches. Documents shorter than `n` tokens are one whole-doc
    * gram (repetition 0) — the shingle convention. */
  def dupNgramPermille(text: Column, n: Int): Column = {
    // r18: the gram build + array_distinct ran as interpreted HOF lambdas
    // per row; the distinct count is now the native
    // [[graft.functions.NgramDistinctShortTail]] kernel (same short-doc
    // convention; pinned bit-identical against [[dupNgramPermilleHof]] in
    // PipelineSpec). W = size(grams) of the HOF form = max(sz−n,0)+1 —
    // null text folds to the single empty-string gram there, so W
    // coalesces to 1 and the kernel reports 1 distinct (permille 0,
    // exactly the HOF result).
    // the repeat count is widened to long before the per-mille scaling:
    // past ~2.15M repeated windows the int product overflows
    val toks = tokens(text)
    val w = coalesce(greatest(size(toks) - n, lit(0)) + lit(1), lit(1))
    floor((w - graft.functions.NgramRepetition.distinctShortTail(toks, n))
      .cast("long") * lit(1000L) / w).cast("long")
  }

  /** REFERENCE form of [[dupNgramPermille]] (the pure-`functions._` HOF
    * chain) — kept for the bit-identity pin in PipelineSpec. */
  private[graft] def dupNgramPermilleHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    floor((size(grams) - size(array_distinct(grams))).cast("long") *
      lit(1000L) / size(grams)).cast("long")
  }

  /** PII pattern → replacement token, applied in this order. Patterns stay
    * inside the Java-regex ∩ RE2 common subset (classes, bounded repeats,
    * `\b`, alternation-free) so the DuckDB oracle's `regexp_replace(…,'g')`
    * is character-identical. The four categories are disjoint by
    * construction: IP needs three dots, ID is 3-2-4 digits, PHONE is 3-3-4
    * — no pattern can match another's replacement or remainder, so the
    * chain is order-insensitive (order fixed anyway for determinism). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<ID>",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>")

  /** PII redaction: emails, IPv4 addresses, SSN-shaped ids, and US-shaped
    * phone numbers replaced by category tokens. A chain of codegen'd
    * `regexp_replace` calls — per-row, zero shuffle, fuses into the scan;
    * the per-executor compiled-regex cache makes the chain four pattern
    * executions per row, no recompilation. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-category PII match counts (computed on the UNredacted text) —
    * the audit twin of [[redactPii]]: count columns n_email, n_ip, n_id,
    * n_phone. Counting runs the same four patterns, so
    * `redactPii(text) == text ⇔ all counts 0`. */
  def piiCounts(df: DataFrame, text: Column): DataFrame = {
    val names = Seq("n_email", "n_ip", "n_id", "n_phone")
    names.zip(PiiPatterns).foldLeft(df) { case (d, (name, (pat, _))) =>
      d.withColumn(name,
        size(regexp_extract_all(text, lit(pat), lit(0))).cast("long"))
    }
  }

  /** Exact document fingerprint: md5 of whitespace-normalized lower-cased
    * text (md5 is bit-identical across engines → oracle-matchable). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Rolling-hash shingle fingerprints: xxhash64 of each word n-gram — the
    * building block for n-gram dedup (Spark-side only; xxhash64 is
    * engine-specific so no SQL oracle). The hot-path implementation is the
    * native [[graft.functions.DistinctShingleHashes]] expression; this is
    * the pure-`functions._` reference formulation kept for documentation
    * and cross-checking (HOF lambdas evaluate interpreted — measured ~20×
    * slower per shingle). */
  def shingleHashesHof(toks: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): polynomial rolling hash of every `k`-char gram of the
    * lower-cased text, then the minimum hash of every `w`-wide window of
    * that sequence, deduplicated. The guarantee: any shared substring of
    * length ≥ k + w − 1 between two documents yields at least one shared
    * fingerprint, with only ~2/(w+1) of positions sampled — the standard
    * near-copy detection sketch at crawl scale.
    *
    * Arithmetic is engine-portable on purpose: code points via `ascii`,
    * hash = (Σ code·257^(k−1−i)) mod (10⁹+7) in exact integer math — the
    * DuckDB oracle reproduces it term by term (unlike xxhash64-based
    * shingles). Documents shorter than k + w − 1 chars get an empty set. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 8): Column =
    graft.functions.WinnowHashes.winnowHashes(lower(text), k, w)

  /** Word n-gram strings of a text column ("tok_i … tok_i+n−1"); one per
    * window start, empty for docs shorter than n tokens. The unit the LM
    * quality filters below count. */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"ngram order must be >= 1 (got $n)")
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word-bigram strings — [[ngrams]] at order 2 (kept as the named unit
    * the original bigram LM filters consume). */
  def bigrams(text: Column): Column = ngrams(text, 2)

  /** In-row "let": binds `bound` once and hands it to `body` through a
    * higher-order-function lambda, so an expensive sub-expression used
    * several times inside one expression tree is EVALUATED once per row
    * and — unlike a projection alias — can never be re-inlined per
    * reference by predicate pushdown / project collapse. */
  private def letCol(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Occurrence count of the most frequent element of an ASC-sorted
    * string array (0 for empty): one fold tracking the current run —
    * equal elements are adjacent after the sort, so the max run length
    * IS the max multiplicity.
    *
    * r18: REFERENCE form only — the hot path is the native
    * [[graft.functions.NgramMaxRun]] kernel (HOF lambdas evaluate
    * interpreted per element; the kernel is one primitive loop per row).
    * Kept for the bit-identity property pin in PipelineSpec. */
  private[graft] def maxRunCountHof(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Tokens covered by duplicated n-gram windows of token array `t`,
    * computed ENTIRELY in-row (the metric is per-document local — no
    * cross-document state exists): windows sort by (string, pos), a
    * position is duplicated iff a sort-neighbor shares its window
    * string, and the covered-token count is the same interval-union
    * fold over the ASC positions as the r14 shuffle form (bit-identical
    * integer arithmetic). O(L log L) per doc — the unit of parallelism
    * is the document, exactly like the final per-doc fold the previous
    * implementation already required.
    *
    * r18: REFERENCE form only — the hot path is the native
    * [[graft.functions.NgramDupCovered]] kernel (same grouping + the
    * same interval-union fold in one primitive loop). Kept for the
    * bit-identity property pin in PipelineSpec. */
  private[graft] def dupCoveredCountHof(t: Column, n: Int): Column = {
    val posSeq = when(size(t) >= n, sequence(lit(0), size(t) - n))
      .otherwise(array().cast("array<int>"))
    val pw = transform(posSeq, p =>
      struct(concat_ws(" ", slice(t, p + 1, lit(n))).as("win"),
        p.as("pos")))
    letCol(sort_array(pw)) { srt =>
      val L = size(srt)
      val idxs = when(L > 0, sequence(lit(1), L))
        .otherwise(array().cast("array<int>"))
      val dupPos = sort_array(filter(
        transform(idxs, i =>
          when((i > lit(1) &&
              element_at(srt, i - 1).getField("win") ===
                element_at(srt, i).getField("win")) ||
            (i < L &&
              element_at(srt, i + 1).getField("win") ===
                element_at(srt, i).getField("win")),
            element_at(srt, i).getField("pos"))),
        p => p.isNotNull))
      aggregate(dupPos,
        struct(lit(0).as("tot"), lit(Int.MinValue / 2).as("pe")),
        (acc, p) => struct(
          (acc.getField("tot") + lit(n) -
            greatest(acc.getField("pe") - p, lit(0))).as("tot"),
          (p + lit(n)).as("pe")),
        acc => acc.getField("tot"))
    }
  }

  /** GOPHER repetition filter, part 1 (Rae et al. 2021 §A1.1): per
    * document and per order n ∈ `orders`, the fraction of the document
    * covered by occurrences of its single MOST FREQUENT word n-gram —
    * `top_cnt · n / n_tokens` as an exact permille floor (may exceed
    * 1000 for overlapping self-repeats, as in the paper's uncapped
    * char-fraction; the filter thresholds, it doesn't normalize).
    * Degenerate repetition ("the the the …", boilerplate chants) scores
    * near or above 1000; healthy prose scores low. Token-based rather
    * than character-based — same construction, and the permille stays
    * integer-exact for the cross-engine hash gate.
    *
    * Output: one row per (doc, n): (doc_id, n, n_tokens, top_cnt,
    * permille); docs shorter than n tokens report top_cnt 0 (present,
    * not absent — a filter must see every doc). Scale shape: ONE
    * explode of all orders → one map-side-combined count keyed
    * (doc, n, gram) → one (doc, n) max — never a per-doc in-row mode
    * scan (O(len²) on long documents). */
  def topNgramFraction(df: DataFrame, id: Column, text: Column,
      orders: Seq[Int]): DataFrame = {
    require(orders.nonEmpty && orders.forall(_ >= 1),
      s"orders must be non-empty, all >= 1 (got $orders)")
    // r17 (optimization, guide §2.4 — remove shuffles outright): the
    // metric is per-document local, so the (doc, n, gram) count shuffle
    // + (doc, n) max + corpus re-join of the r14 form are gone — the max
    // multiplicity is the longest run of the doc's SORTED gram array,
    // computed in-row; the whole operator is one map-side pass. The
    // per-doc cost is O(L log L) (the explode input is CreateArray, so
    // no size-filter is inferred that could push the gram work below
    // the widening exchange). Output rows, types and integer arithmetic
    // are bit-identical to the shuffle form (spec-pinned; oracle
    // unchanged). r18: the fold is the native
    // [[graft.functions.NgramMaxRun]] kernel (was the interpreted
    // [[maxRunCountHof]] HOF — pinned bit-identical in PipelineSpec).
    val base = graft.util.ParallelScan.widen(
      df.select(id.cast("long").as("doc_id"), tokens(text).as("t")))
    base.select(col("doc_id"),
        explode(array(orders.map(n =>
          struct(lit(n).as("n"), size(col("t")).as("n_tokens"),
            graft.functions.NgramRepetition.maxRun(col("t"), n)
              .as("top_cnt"))): _*)).as("e"))
      .select(col("doc_id"), col("e.n").as("n"),
        col("e.n_tokens").as("n_tokens"), col("e.top_cnt").as("top_cnt"),
        floor(col("e.top_cnt") * col("e.n") * 1000 /
          greatest(col("e.n_tokens"), lit(1))).as("permille"))
  }

  /** [[ngrams]] over an already-tokenized array (the per-order gram
    * arrays the in-row repetition reference forms fold over). */
  private[graft] def ngramsOf(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** GOPHER repetition filter, part 2: per document, the fraction of
    * token POSITIONS covered by any word n-gram occurring MORE THAN ONCE
    * within the document — position-coverage semantics, so overlapping
    * duplicate windows never double-count (the within-doc twin of
    * [[graft.pipeline.Dedup.substrDedup]]'s covered-token rule; Gopher
    * applies it at n ∈ 5..10). Output (doc_id, n_tokens, covered_tokens,
    * permille), one row per doc.
    *
    * Scale shape: windows explode to (doc, pos, win) — the per-(doc,win)
    * count is one map-side-combined shuffle, duplicated positions fold
    * to ONE sorted per-doc array, and the covered-token count is a
    * single in-row pass over that array (islands arithmetic:
    * `n − overlap(prevEnd, pos)` per marked start). */
  def dupNgramCoverage(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 1, s"ngram order must be >= 1 (got $n)")
    // r17 (optimization, guide §2.4): per-document-local metric → the
    // exploded (doc, pos, win) shuffle, the count-over-window sort and
    // the per-doc regroup + corpus re-join are all gone; duplicated
    // positions and the interval-union fold compute in-row (identical
    // integer fold, spec-pinned). The operator is one map-side pass
    // over the token base. r18: the fold is the native
    // [[graft.functions.NgramDupCovered]] kernel (was the interpreted
    // [[dupCoveredCountHof]] HOF — pinned bit-identical in
    // PipelineSpec).
    val base = graft.util.ParallelScan.widen(
      df.select(id.cast("long").as("doc_id"), tokens(text).as("t")))
    base.select(col("doc_id"),
        explode(array(struct(size(col("t")).as("n_tokens"),
          graft.functions.NgramRepetition.dupCovered(col("t"), n)
            .as("covered")))).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.covered").cast("long").as("covered_tokens"),
        floor(col("e.covered") * 1000 /
          greatest(col("e.n_tokens"), lit(1))).as("permille"))
  }

  /** The COMPOSED Gopher repetition KEEP step (Rae et al. 2021 Table A1):
    * one operator that drops every document whose top-n-gram fraction
    * (n ∈ 2..4) or duplicated-n-gram position coverage (n ∈ 5..10)
    * STRICTLY exceeds its order's threshold — the paper's permille
    * defaults 200/180/160 and 150/140/130/120/110/100 — and emits the
    * kept doc ids. Integer-exact end to end (the same permille floors as
    * [[topNgramFraction]]/[[dupNgramCoverage]]), so the gate
    * hash-matches a SQL oracle.
    *
    * Scale shape: ONE tokenization pass (the token base is persisted for
    * the call, [[graft.pipeline.Dedup]]'s `scoped` convention), one
    * all-orders explode per filter family, map-side-combined counts, and
    * a doc-keyed anti-join of the violator union — violators are a
    * doc-id-sized frame, never corpus text. Thresholds ride a literal
    * map lookup (`element_at`), so adding orders changes data, not
    * plan shape. */
  def gopherKeep(df: DataFrame, id: Column, text: Column,
      topThresholds: Seq[(Int, Int)] = Seq(2 -> 200, 3 -> 180, 4 -> 160),
      dupThresholds: Seq[(Int, Int)] =
        Seq(5 -> 150, 6 -> 140, 7 -> 130, 8 -> 120, 9 -> 110, 10 -> 100))
      : DataFrame = {
    require(topThresholds.nonEmpty && topThresholds.forall(_._1 >= 1),
      s"topThresholds must be non-empty, orders >= 1 (got $topThresholds)")
    require(dupThresholds.nonEmpty && dupThresholds.forall(_._1 >= 1),
      s"dupThresholds must be non-empty, orders >= 1 (got $dupThresholds)")
    // r17 (optimization, guide §2.4): both filter families are
    // per-document local, so the two explode shuffles, the window count,
    // the per-doc regroups and the violator anti-join are replaced by ONE
    // in-row keep predicate over the token base — the whole composed
    // filter is a single map-side pass (no persist, no checkpoint: there
    // is no shared intermediate left to scope). Violation arithmetic is
    // the exact integer form of [[topNgramFraction]]/[[dupNgramCoverage]]
    // (docs shorter than n score 0 and can never violate — unchanged).
    // The keep verdict rides an explode_outer generator rather than a
    // filter so the per-row work cannot be pushed below the widening
    // exchange (the repo-wide explode_outer convention), and the token
    // array is referenced only through one generator input, so no
    // optimizer rule can re-inline the tokenization per reference.
    // r18: both folds are the native kernels (NgramMaxRun /
    // NgramDupCovered); the permille arithmetic around them is
    // unchanged, so the keep predicate is bit-identical by the kernels'
    // property pins.
    val base = graft.util.ParallelScan.widen(
      df.select(id.cast("long").as("doc_id"), tokens(text).as("t")))
    val nTok = greatest(size(col("t")), lit(1))
    val topViol = topThresholds.map { case (n, thr) =>
      floor(graft.functions.NgramRepetition.maxRun(col("t"), n) *
        lit(n) * 1000 / nTok) > lit(thr.toLong)
    }.reduce(_ || _)
    val dupViol = dupThresholds.map { case (n, thr) =>
      floor(graft.functions.NgramRepetition.dupCovered(col("t"), n) * 1000 /
        nTok) > lit(thr.toLong)
    }.reduce(_ || _)
    base.select(col("doc_id"),
        explode_outer(when(!(topViol || dupViol), array(lit(1)))
          .otherwise(array().cast("array<int>"))).as("__k"))
      .filter(col("__k").isNotNull)
      .select("doc_id")
  }

  /** Reference-corpus bigram table for the LM filters: (bigram, cnt) with
    * cnt ≥ `minCount`. One map-side-combined count over the reference
    * corpus — build once, reuse across scoring runs (persist it as a graft
    * table for incremental refresh). */
  def bigramLm(ref: DataFrame, refText: Column, minCount: Long = 1L)
      : DataFrame =
    graft.util.ParallelScan.widen(ref.select(bigrams(refText).as("bg")))
      .select(explode_outer(col("bg")).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** CCNet-style LM quality score, integer-exact: per document, the
    * per-mille of its word bigrams that appear (≥ minCount times) in a
    * reference corpus ("does this doc look like reference text"). CCNet
    * filters crawl text by a KenLM perplexity cut; the coverage form keeps
    * that signal's shape with exact integer arithmetic, so the gate has a
    * bit-exact SQL oracle (fp perplexity drifts with summation order —
    * [[stupidBackoffScores]] is the fp variant, tolerance-pinned in
    * specs). Output: (doc_id, n_bigrams, known_bigrams,
    * lm_coverage_permille); single-token docs score 0 of 0 → 0‰.
    *
    * Scale: scoring is one shuffle join of exploded doc bigrams against
    * the (vocabulary-sized, partially-aggregated) reference table keyed by
    * the bigram string, then one map-side-combined count by doc — no
    * broadcast of either side is required; Catalyst broadcasts the
    * reference automatically when its stats say it fits. */
  def bigramCoverage(df: DataFrame, id: Column, text: Column,
      lm: DataFrame): DataFrame = {
    // ONE scan: explode_outer emits a single null-bigram row for empty
    // arrays so every doc survives the explode; count(bigram) skips that
    // null ⇒ n_bigrams, and a left join flags reference hits (a null key
    // never matches) ⇒ count(__hit) = known_bigrams. One shuffle join by
    // bigram + one map-side-combined count by doc.
    val exploded = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("doc_id"), bigrams(text).as("bg")))
      .select(col("doc_id"), explode_outer(col("bg")).as("bigram"))
    exploded
      .join(lm.select(col("bigram"), lit(1).as("__hit")),
        Seq("bigram"), "left")
      .groupBy("doc_id").agg(
        count(col("bigram")).cast("int").as("n_bigrams"),
        count(col("__hit")).as("known_bigrams"),
        floor(count(col("__hit")) * 1000 /
          greatest(count(col("bigram")), lit(1))).cast("long")
          .as("lm_coverage_permille"))
  }

  /** Stupid-backoff bigram LM scoring (Brants et al. 2007) — the fp
    * perplexity-style variant of [[bigramCoverage]]: per document, the
    * average negative log-probability of each token given its predecessor,
    * backing off to `alpha` × the add-one-smoothed unigram probability
    * when the bigram is unseen. Lower = more reference-like. Output:
    * (doc_id, n_scored, avg_neg_logprob). fp by nature → spec-pinned with
    * tolerance, not oracle-hashed; rank-order agreement with
    * [[bigramCoverage]] is the spec's cross-check. Same join shape as the
    * coverage scorer: exploded bigrams against the reference tables, no
    * required broadcast. */
  def stupidBackoffScores(df: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column, alpha: Double = 0.4): DataFrame = {
    val refToks = graft.util.ParallelScan.widen(
        ref.select(tokens(refText).as("t")))
      .select(explode_outer(col("t")).as("tok"))
      .filter(col("tok").isNotNull)
    val uni = refToks.groupBy("tok").agg(count(lit(1)).as("ucnt"))
    val totals = uni.agg(sum(col("ucnt")).as("n_ref"),
      count(lit(1)).as("vocab"))
    val bi = bigramLm(ref, refText)
      .select(col("bigram"), col("cnt").as("bcnt"),
        split(col("bigram"), " ").getItem(0).as("w1"))
    val prevCnt = uni.select(col("tok").as("w1"), col("ucnt").as("pcnt"))
    val exploded = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("doc_id"), bigrams(text).as("bg")))
      .select(col("doc_id"), explode_outer(col("bg")).as("bigram"))
      .filter(col("bigram").isNotNull)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val scored = exploded
      .join(bi.select("bigram", "bcnt"), Seq("bigram"), "left")
      .join(prevCnt, Seq("w1"), "left")
      .join(uni.select(col("tok").as("w2"), col("ucnt").as("w2cnt")),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lp",
        when(col("bcnt").isNotNull && col("pcnt").isNotNull,
          log(col("bcnt").cast("double") / col("pcnt")))
          .otherwise(log(lit(alpha) *
            (coalesce(col("w2cnt"), lit(0L)) + 1).cast("double") /
            (col("n_ref") + col("vocab")))))
    scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_scored"),
      (-avg(col("lp"))).as("avg_neg_logprob"))
  }

  /** Reference-corpus n-gram table: (gram, cnt) with cnt ≥ `minCount` —
    * [[bigramLm]] generalized to any order (one map-side-combined count
    * over the reference corpus per order). */
  def ngramLm(ref: DataFrame, refText: Column, n: Int,
      minCount: Long = 1L): DataFrame =
    graft.util.ParallelScan.widen(ref.select(ngrams(refText, n).as("g")))
      .select(explode_outer(col("g")).as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** [[bigramCoverage]] generalized to order-n grams against an
    * [[ngramLm]] table: per document, the per-mille of its word n-grams
    * appearing in the reference — integer-exact, bit-exact SQL oracle
    * (`q_lm_coverage_tri` gates the trigram form). Docs shorter than n
    * tokens score 0 of 0 → 0‰. Same single-scan shape: one shuffle join
    * by the gram string + one map-side-combined count by doc. */
  def ngramCoverage(df: DataFrame, id: Column, text: Column,
      lm: DataFrame, n: Int): DataFrame = {
    val exploded = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("doc_id"), ngrams(text, n).as("g")))
      .select(col("doc_id"), explode_outer(col("g")).as("gram"))
    exploded
      .join(lm.select(col("gram"), lit(1).as("__hit")),
        Seq("gram"), "left")
      .groupBy("doc_id").agg(
        count(col("gram")).cast("int").as("n_ngrams"),
        count(col("__hit")).as("known_ngrams"),
        floor(count(col("__hit")) * 1000 /
          greatest(count(col("gram")), lit(1))).cast("long")
          .as("lm_coverage_permille"))
  }

  /** Order-n stupid-backoff LM scoring (Brants et al. 2007, the full
    * chain): per document, the average negative log-score of each
    * order-n gram's last token given its n−1 predecessors, backing off
    * by DROPPING THE LEFTMOST context word — α^(n−o) · c_o(last o
    * tokens)/c_{o−1}(those minus the last) at the first order o whose
    * numerator exists, down to α^(n−1) × the add-one-smoothed unigram.
    * `order = 2` reproduces [[stupidBackoffScores]] (spec-pinned); CCNet
    * proper scores with a 5-gram KenLM — `order = 5` here is the same
    * count-table construction with Katz-style storage replaced by one
    * table per order, all built in one pass each over the reference.
    *
    * Scale: one exploded shuffle join per order (2(n−1)+1 joins total,
    * each keyed by a gram string against a vocabulary-sized count
    * table) — no broadcast required on either side; fp by nature →
    * spec-pinned, not oracle-hashed (the integer-exact gate is
    * [[ngramCoverage]]).
    *
    * COVERAGE CONTRACT: a document shorter than `order` tokens has zero
    * order-n grams and gets NO output row (same as [[bigramLm]]'s scorer
    * for sub-bigram docs — the order-2 ≡ pin depends on it). Raising the
    * order therefore narrows which docs appear, not just their scores;
    * a caller filtering on the score must left-join this result back to
    * the corpus and decide a policy for the unscored tail (CCNet keeps
    * them — too short to judge is not the same as low quality). */
  def stupidBackoffScoresN(df: DataFrame, id: Column, text: Column,
      ref: DataFrame, refText: Column, order: Int,
      alpha: Double = 0.4): DataFrame = {
    require(order >= 2, s"backoff needs order >= 2 (got $order)")
    val refToks = graft.util.ParallelScan.widen(
        ref.select(tokens(refText).as("t")))
      .select(explode_outer(col("t")).as("tok"))
      .filter(col("tok").isNotNull)
    val uni = refToks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum(col("c1")).as("n_ref"),
      count(lit(1)).as("vocab"))
    val cnts: Map[Int, DataFrame] = (2 to order).map(o =>
      o -> ngramLm(ref, refText, o)
        .select(col("gram"), col("cnt").as(s"c$o"))).toMap
    var cur = graft.util.ParallelScan.widen(
        df.select(id.cast("long").as("doc_id"),
          ngrams(text, order).as("g")))
      .select(col("doc_id"), explode_outer(col("g")).as("gram"))
      .filter(col("gram").isNotNull)
      .withColumn("__w", split(col("gram"), " "))
    for (o <- 2 to order) {
      // the order-o backoff level looks at the LAST o tokens and their
      // length-(o−1) prefix (leftmost-word dropping)
      cur = cur
        .withColumn(s"__k$o",
          array_join(slice(col("__w"), order - o + 1, o), " "))
        .withColumn(s"__x$o",
          array_join(slice(col("__w"), order - o + 1, o - 1), " "))
        .join(cnts(o).select(col("gram").as(s"__k$o"), col(s"c$o")),
          Seq(s"__k$o"), "left")
      cur =
        if (o == 2)
          cur.join(uni.select(col("tok").as("__x2"), col("c1").as("p2")),
            Seq("__x2"), "left")
        else
          cur.join(cnts(o - 1).select(col("gram").as(s"__x$o"),
            col(s"c${o - 1}").as(s"p$o")), Seq(s"__x$o"), "left")
    }
    val scored = cur
      .withColumn("__wn", element_at(col("__w"), order))
      .join(uni.select(col("tok").as("__wn"), col("c1").as("wncnt")),
        Seq("__wn"), "left")
      .crossJoin(broadcast(totals))
    val fallback = log(lit(math.pow(alpha, order - 1)) *
      (coalesce(col("wncnt"), lit(0L)) + 1).cast("double") /
      (col("n_ref") + col("vocab")))
    // low orders fold in first so the FULL order ends up outermost:
    // the first level with both counts present wins, exactly the chain
    val chain = (2 to order).foldLeft(fallback) { (els, o) =>
      when(col(s"c$o").isNotNull && col(s"p$o").isNotNull,
        log(lit(math.pow(alpha, order - o)) *
          col(s"c$o").cast("double") / col(s"p$o")))
        .otherwise(els)
    }
    scored.withColumn("lp", chain)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_scored"),
        (-avg(col("lp"))).as("avg_neg_logprob"))
  }
}
