package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** BM25-style full-text retrieval over an inverted index — the "find the
  * training docs about X" operator a 100 TB corpus pipeline needs, built
  * Spark-first: the index is ordinary partitioned parquet, the query is a
  * partition-pruned scan + one aggregation, and the scoring runs entirely
  * in whole-stage codegen.
  *
  * Index layout (`buildIndex`): one row per (term, doc) posting with tf,
  * doc length and document frequency DENORMALIZED into the row, written
  * partitioned by `tb = pmod(xxhash64(term), termBuckets)`. Denormalizing
  * dl/df costs two longs per posting but makes the query path JOIN-FREE:
  * scoring needs only the posting rows of the query's terms, so a search
  * reads `O(query terms / termBuckets)` of the index via partition pruning
  * (plan-asserted in RetrievalSpec), then one `groupBy(doc_id).sum` and a
  * top-k. Corpus-level stats (N docs, total length) live in a one-row
  * sidecar read on the driver.
  *
  * Skew: stop-word posting lists are the classic hot key. `maxDfPermille`
  * drops terms present in more than that fraction of documents from the
  * index at build time (standard IR practice — such terms carry ~zero idf
  * anyway), bounding the largest posting list. Default keeps everything so
  * the oracle sees the full corpus.
  *
  * Two scoring modes:
  *  - [[bm25TopK]]: textbook BM25 (Robertson/Sparck Jones; k1=1.2, b=0.75,
  *    log idf) in doubles — the production scorer. Spec-gated against an
  *    independently-composed plan (fp sums are order-dependent, so this is
  *    tolerance-checked, not hash-exact).
  *  - [[exactTopK]]: the same tf-saturation/length-normalization shape in
  *    SCALED-INTEGER arithmetic with a rational idf — every division an
  *    integer floor-div, every sum a long sum, so the score is bit-exact
  *    across engines and the DuckDB oracle reproduces it literally
  *    (`q_bm25_topk`; the r10 `q_v2_sum` lesson applied from day one:
  *    never put fp folds under a hash-exactness gate).
  *
  * Scale note: the exact scorer's `idf_s · tfq_s` product crosses Long at
  * N ≈ 8.4·10^6 docs, so [[exactTopK]] REFUSES beyond [[MaxExactDocs]]
  * with a clear error instead of wrapping — the fp [[bm25TopK]] is the
  * production scorer at corpus scale and has no such bound.
  */
object TextRetrieval {

  /** Fixed-point scale for the exact scorer. */
  val Scale = 1000000L
  private val K1S = 1200000L // k1 = 1.2, scaled
  private val BS = 750000L   // b  = 0.75, scaled

  /** Tokenization shared with the rest of the text surface
    * ([[TextAnalysis.tokens]]): whitespace split of trim(lower(text)). */
  private def toks(text: Column): Column = TextAnalysis.tokens(text)

  /** The shared tokenize→aggregate base: df-FREE positional postings
    * `(term, doc_id, tf, dl, positions)` and the per-doc length frame —
    * ONE tokenize pass feeds both (postings, stats, and the incremental
    * tables all derive from here, so the tokenization can never
    * diverge between index forms). */
  private def postingsBase(docs: DataFrame, idCol: Column,
      textCol: Column): (DataFrame, DataFrame) = {
    val tok = docs.select(idCol.cast("long").as("doc_id"),
      posexplode(toks(textCol)).as(Seq("pos0", "term")))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val post = tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos0") + 1)).as("positions"))
      .join(dl, "doc_id")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"))
    (post, dl)
  }

  /** One row per (term, doc) with everything scoring AND phrase matching
    * need: `(term, doc_id, tf, dl, df, positions)` — `positions` is the
    * sorted 1-based token offsets of the term in the doc (the positional
    * index Lucene calls proximity data; `tf = size(positions)`). */
  def postings(docs: DataFrame, idCol: Column, textCol: Column,
      maxDfPermille: Int = 1000): DataFrame = {
    val (post, _) = postingsBase(docs, idCol, textCol)
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val capped =
      if (maxDfPermille >= 1000) dfreq
      else { // corpus size only needed when a cap is actually set
        val n = docs.select(idCol).distinct().count()
        dfreq.where(col("df") * 1000L <= lit(n * maxDfPermille.toLong))
      }
    post.join(capped, "term")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"),
        col("positions"))
  }

  /** Per-term top impacts kept in the `impacts` sidecar — serves any
    * top-k with k ≤ this; larger k falls back to the unpruned scan. */
  val ImpactTopK: Int = 32

  /** Build the serving index under `dir`: `dir/postings` partitioned by
    * term bucket, `dir/stats` a one-row corpus sidecar
    * `(n, sdl, max_df_permille)` — the cap is RECORDED so phrase search
    * can refuse an index whose postings were thinned.
    *
    * r11: also writes `dir/impacts` — per term, its TOP-[[ImpactTopK]]
    * exact per-posting scores ("impacts", Anserini/Lucene terminology),
    * partitioned by the same term bucket. This is what the MaxScore-
    * pruned [[exactTopK]] derives its top-k floor and per-term upper
    * bounds from, with zero postings IO. Impacts use the exact
    * scaled-integer arithmetic, so they exist only while the exact
    * scorer's refuse-don't-wrap bounds hold — beyond them the sidecar is
    * skipped and every query takes the unpruned path. */
  def buildIndex(spark: SparkSession, docs: DataFrame, idCol: Column,
      textCol: Column, dir: String, termBuckets: Int = 16,
      maxDfPermille: Int = 1000): Unit = {
    val (base, dl) = postingsBase(docs, idCol, textCol)
    val dfreq = base.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val capped =
      if (maxDfPermille >= 1000) dfreq
      else {
        val n = docs.select(idCol).distinct().count()
        dfreq.where(col("df") * 1000L <= lit(n * maxDfPermille.toLong))
      }
    base.join(capped, "term")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"),
        col("positions"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(termBuckets)))
      .repartition(termBuckets, col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/postings")
    // Corpus stats over ALL docs (independent of any df cap): N and Σdl
    // off the SAME per-doc length frame — no second tokenize pass. The
    // row is collected (one row) because the impacts pass needs n/sdl.
    val st = dl.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sdl"),
      coalesce(max(col("dl")), lit(0L)).as("maxdl")).head()
    val (n, sdl, maxdl) = (st.getLong(0), st.getLong(1), st.getLong(2))
    import org.apache.spark.sql.{functions => F}
    spark.range(1).select(lit(n).as("n"), lit(sdl).as("sdl"),
        lit(maxDfPermille).as("max_df_permille"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    if (n <= MaxExactDocs && sdl <= MaxExactTokens && maxdl <= MaxExactDl
        && n > 0) {
      val posts = spark.read.parquet(s"$dir/postings")
        .select(col("term"), col("tb"), col("tf"), col("dl"), col("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("tscore").desc)
      scoreExact(posts, n, sdl)
        .withColumn("__r", F.row_number().over(w))
        .where(col("__r") <= ImpactTopK)
        .groupBy(col("term"), col("tb"))
        .agg(F.reverse(F.sort_array(F.collect_list(col("tscore"))))
          .as("top_imp"),
          F.first(col("df")).as("df")) // the pruning cost/benefit gate
        .repartition(termBuckets, col("tb"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$dir/impacts")
    }
  }

  /** The driver-side term bucket — same Catalyst hash as the written
    * `tb` column (`pmod(xxhash64(term), buckets)`). */
  private[graft] def termBucket(term: String, buckets: Int): Int =
    graft.read.GraftFileIndex.keyBucket(UTF8String.fromString(term), buckets)

  /** Posting rows of the query terms only: partition-pruned by term
    * bucket, then term-filtered (pushed to parquet). */
  private def queryPostings(spark: SparkSession, dir: String,
      terms: Seq[String], termBuckets: Int): DataFrame = {
    val buckets = terms.map(termBucket(_, termBuckets)).distinct
    spark.read.parquet(s"$dir/postings")
      .where(col("tb").isin(buckets.map(Integer.valueOf): _*))
      .where(col("term").isin(terms: _*))
  }

  private case class CorpusStats(n: Long, sdl: Long, maxDfPermille: Int)

  private def stats(spark: SparkSession, dir: String): CorpusStats = {
    val df = spark.read.parquet(s"$dir/stats")
    val r = df.head()
    // sdl is NULL on a pre-r10 sidecar of an empty corpus; the cap column
    // is absent on pre-cap-recording sidecars (treated as uncapped)
    val sdl = if (r.isNullAt(1)) 0L else r.getLong(1)
    val cap =
      if (df.schema.fieldNames.contains("max_df_permille"))
        r.getInt(df.schema.fieldIndex("max_df_permille"))
      else 1000
    CorpusStats(r.getLong(0), sdl, cap)
  }

  /** Production scorer: BM25 with log idf in doubles, top-k docs for one
    * term list. Returns `(doc_id, score)`, score descending / doc_id
    * ascending. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, termBuckets: Int = 16): DataFrame = {
    val st = stats(spark, dir)
    val avgdl = st.sdl.toDouble / math.max(st.n, 1L).toDouble
    val scored = queryPostings(spark, dir, terms, termBuckets)
      .withColumn("idf",
        log(lit(1.0) + (lit(st.n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("tscore",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Largest corpus the EXACT scorer serves: `idf_s · tfq_s` is bounded
    * by `S·(N+1)/2 · (k1+1)·S`, which crosses Long.MaxValue at
    * N ≈ 8.38·10^6 docs. Beyond that the exact path REFUSES (clear error,
    * not a wrapped/ANSI-failed score) — the fp [[bm25TopK]] is the
    * production scorer at corpus scale; the exact path exists for the
    * cross-engine hash gate and any corpus that fits the bound. */
  val MaxExactDocs: Long = 8L * 1000 * 1000

  /** Largest TOTAL token count the exact scorer serves: `Scale · sdl`
    * must stay inside Long, so sdl caps at ⌊Long.MaxValue/Scale⌋ with
    * headroom. Same refuse-don't-wrap contract as [[MaxExactDocs]]. */
  val MaxExactTokens: Long = 9L * 1000 * 1000 * 1000 * 1000 // 9e12

  /** Largest SINGLE document length the exact scorer serves:
    * `BS · dl · Scale` = 7.5e11 · dl crosses Long at dl ≈ 1.23e7.
    * Enforced per ROW inside the plan (raise_error, not a wrap). */
  val MaxExactDl: Long = 12L * 1000 * 1000 // 1.2e7

  /** The scaled-integer per-posting score, shared by every exact entry
    * point. Input needs columns `tf, dl, df`; appends `tscore`. */
  private def scoreExact(posts: DataFrame, n: Long, sdl: Long): DataFrame = {
    require(n <= MaxExactDocs,
      s"exact scorer caps at $MaxExactDocs docs (idf*tf product would " +
        s"exceed Long at n=$n); use bm25TopK for large corpora")
    require(sdl <= MaxExactTokens,
      s"exact scorer caps at $MaxExactTokens total tokens (Scale*sdl " +
        s"would exceed Long at sdl=$sdl); use bm25TopK for large corpora")
    val avgdlS = math.max(Scale * sdl / math.max(n, 1L), 1L) // scaled avg dl
      // (clamped to 1 only for an empty corpus, where no posting rows
      // exist to evaluate the division anyway)
    // Every literal is suffixed `L`: the idf numerator `S·(N+1)` exceeds
    // Int.MaxValue from N ≈ 2148 docs on, and Spark folds UNsuffixed
    // int-literal products in 32 bits — under ANSI that's a plan-time
    // ARITHMETIC_OVERFLOW (caught by the 100k-doc soak; invisible at the
    // 500-doc oracle SF). DuckDB needs no suffix: its int32 × BIGINT
    // promotes, and the count-typed columns anchor every product.
    posts
      .withColumn("idf_s",
        expr(s"(${Scale}L * (${n}L + 1L)) div (df + 1L)"))
      .withColumn("norm_s",
        // per-row dl bound: BS*dl*Scale wraps past MaxExactDl; refuse
        // loudly inside the plan instead of scoring with a wrapped Long
        expr(s"CASE WHEN dl > ${MaxExactDl}L THEN CAST(raise_error(" +
          s"'exact scorer caps at ${MaxExactDl} tokens per doc; use " +
          s"bm25TopK') AS BIGINT) ELSE " +
          s"${Scale}L - ${BS}L + (${BS}L * dl * ${Scale}L) div ${avgdlS}L " +
          s"END"))
      .withColumn("tfq_s",
        expr(s"(tf * ${K1S + Scale}L * ${Scale}L) div " +
          s"(tf * ${Scale}L + (${K1S}L * norm_s) div ${Scale}L)"))
      .withColumn("tscore", expr(s"(idf_s * tfq_s) div ${Scale}L"))
  }

  /** Oracle-exact scorer: scaled-integer BM25 shape with rational idf.
    * Every operation is a long add/multiply or a floor division of
    * nonnegative longs — DuckDB's `//` computes the identical value, so
    * the score column is engine-portable bit-for-bit. Returns
    * `(doc_id, score)` top-k, score desc / doc_id asc.
    *
    * r11: MaxScore-pruned when the index carries the impacts sidecar
    * (LOSSLESS — Turtle & Flood 1995 / block-max WAND family): the top-k
    * floor θ comes from the sidecar alone (the k-th best impact of any
    * single query term is a k-distinct-docs lower bound on the final
    * k-th score), a NARROW (term, doc_id) pass bounds every doc by
    * Σ max-impact of the terms it contains, and only docs with bound ≥ θ
    * are scored. A hot low-idf term's millions of postings stop being
    * scored the moment a rarer term's k-th impact exceeds the hot term's
    * best — the classic WAND win; integer arithmetic keeps the bound
    * math exact, so results are bit-identical to the unpruned scan
    * (spec-pinned). Falls back transparently: no sidecar (pre-r11 index
    * or out-of-bounds corpus), k > [[ImpactTopK]], or θ = 0. */
  def exactTopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, termBuckets: Int = 16): DataFrame = {
    val st = stats(spark, dir)
    val posts = queryPostings(spark, dir, terms, termBuckets)
    val scoped = wandCandidates(spark, dir, terms, k, termBuckets,
        corpusTokens = Some(st.sdl)) match {
      case Some(c) => posts.join(c, "doc_id")
      case None => posts
    }
    scoreExact(scoped, st.n, st.sdl)
      .groupBy(col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The MaxScore candidate-doc frame (doc_id), or None when pruning
    * cannot engage. Soundness: θ = the k-th best recorded impact of some
    * single query term — that term alone names k distinct docs whose
    * FULL scores are ≥ θ, so the true k-th best score is ≥ θ; a doc
    * whose upper bound Σ_{t ∈ query ∩ doc} maxImpact(t) is < θ has full
    * score strictly below the k-th best and can never enter the top k
    * (contributions are non-negative). */
  /** Below this many total query-term postings the pruning's narrow
    * candidate pass exceeds what it saves — the full scan of a small
    * posting set is already trivial. Session override:
    * `spark.graft.text.wandMinPostings`. */
  val WandMinPostings: Long = 1L << 16

  /** Below this many total CORPUS tokens (the free upper bound on any
    * query's postings, read from the stats sidecar the query loads
    * anyway) pruning is skipped with ZERO extra IO — the impacts sidecar
    * is never consulted on a corpus whose full query-term scan is
    * trivial. Session override: `spark.graft.text.wandMinCorpusTokens`. */
  val WandMinCorpusTokens: Long = 1L << 19

  private[graft] def wandCandidates(spark: SparkSession, dir: String,
      terms: Seq[String], k: Int, termBuckets: Int,
      corpusTokens: Option[Long] = None): Option[DataFrame] = {
    if (k > ImpactTopK || k <= 0 || terms.isEmpty) return None
    val minTokens = spark.conf
      .get("spark.graft.text.wandMinCorpusTokens",
        WandMinCorpusTokens.toString).toLong
    if (corpusTokens.exists(_ < minTokens))
      return None // small corpus: no pruning, no sidecar IO
    val impPath = new org.apache.hadoop.fs.Path(s"$dir/impacts")
    val fs = impPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(impPath)) return None // pre-impacts index: no pruning
    val impDf = spark.read.parquet(s"$dir/impacts")
    if (!impDf.schema.fieldNames.contains("df")) return None // pre-df form
    val buckets = terms.map(termBucket(_, termBuckets)).distinct
    val imps: Map[String, (Seq[Long], Long)] = // query-sized driver map
      impDf
        .where(col("tb").isin(buckets.map(Integer.valueOf): _*))
        .where(col("term").isin(terms: _*))
        .select(col("term"), col("top_imp"), col("df")).collect()
        .map(r => r.getString(0) ->
          (r.getSeq[Long](1).toSeq, r.getLong(2))).toMap
    val minPostings = spark.conf
      .get("spark.graft.text.wandMinPostings", WandMinPostings.toString)
      .toLong
    if (imps.valuesIterator.map(_._2).sum < minPostings)
      return None // small posting set: pruning costs more than it saves
    val theta = terms.flatMap(t => imps.get(t).map(_._1))
      .filter(_.size >= k).map(_(k - 1))
      .maxOption.getOrElse(0L)
    if (theta <= 0L) return None // no single term fills k docs: full scan
    val maxImp: Map[String, Long] =
      terms.map(t => t -> imps.get(t).flatMap(_._1.headOption)
        .getOrElse(0L)).toMap
    Some(queryPostings(spark, dir, terms, termBuckets)
      .select(col("doc_id"), // NARROW pass: two columns reach parquet
        coalesce(element_at(typedLit(maxImp), col("term")), lit(0L))
          .as("__mi"))
      .groupBy(col("doc_id")).agg(sum(col("__mi")).as("__ub"))
      .filter(col("__ub") >= theta)
      .select(col("doc_id")))
  }

  /** Batch form: many queries at once. `queries` is `(qid, term)` rows
    * (one per query term); the query side is broadcast into the pruned
    * posting scan, so the cost stays O(postings of the union of terms).
    * Returns `(qid, doc_id, score)` with per-query rank ≤ k (exact
    * scorer). */
  def exactTopKBatch(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, termBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = stats(spark, dir)
    val terms = queries.select(col("term").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq // query-sized
    val q = broadcast(queries.select(col("qid"), col("term").as("qterm")))
    val scored = scoreExact(
        queryPostings(spark, dir, terms, termBuckets)
          .join(q, col("term") === col("qterm")), st.n, st.sdl)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k).drop("rnk")
      .orderBy(col("qid"), col("score").desc, col("doc_id").asc)
  }

  /** Exact PHRASE search over the positional index: docs containing the
    * consecutive token sequence `phrase`, with occurrence counts.
    *
    * The classic positional-postings fold (Lucene's PhraseQuery shape):
    * read ONLY the phrase terms' postings (partition-pruned like any
    * search), join them per doc, then narrow the match set term by term —
    * `matched_i = (matched_{i-1} + 1) ∩ positions_i`, all inside
    * codegen'd array expressions (`transform`/`array_intersect`), no
    * explode. Matched sets only shrink, so per-row cost is bounded by the
    * FIRST term's tf; pick the rarest term first for the tightest bound
    * (the caller controls phrase order semantics, so this implementation
    * keeps the given order — position arithmetic needs it anyway).
    * Returns `(doc_id, n_occur)`, n_occur desc / doc_id asc, top-k. */
  def phraseTopK(spark: SparkSession, dir: String, phrase: Seq[String],
      k: Int, termBuckets: Int = 16): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    // A df-capped index THINNED its postings: a dropped stop-word would
    // make phrase matches silently vanish (fine for BM25 — near-zero idf
    // — but a wrong ANSWER for phrase semantics). Refuse loudly.
    require(stats(spark, dir).maxDfPermille >= 1000,
      "phrase search needs an uncapped index: this one was built with " +
        "maxDfPermille < 1000, so frequent terms' postings were dropped " +
        "and phrase matches containing them would silently disappear")
    phraseFold(queryPostings(spark, dir, phrase.distinct, termBuckets),
      phrase, k)
  }

  /** Phrase search over the MAINTAINED index (same fold; postings read
    * partition-pruned through the graft snapshot). */
  def incPhraseTopK(spark: SparkSession, dir: String, phrase: Seq[String],
      k: Int, termBuckets: Int = 16): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val buckets = phrase.distinct.map(termBucket(_, termBuckets)).distinct
      .map(_.toString)
    val posts = graft.read.SnapshotReader.read(spark, s"$dir/postings")
      .where(col(graft.format.MetaCols.PartitionPath).isin(buckets: _*))
      .where(col("term").isin(phrase.distinct: _*))
    phraseFold(posts, phrase, k)
  }

  /** Decontamination by EXACT phrase: the doc ids containing ANY of the
    * given benchmark phrases — the retrieval-index form of leakage
    * screening (an n-gram-overlap screen catches fuzzy contamination,
    * [[Curation]]; this one catches verbatim benchmark strings with zero
    * false positives and reads only the phrases' posting buckets, not the
    * corpus). Returns distinct `doc_id` rows. */
  def phraseMatchDocs(spark: SparkSession, dir: String,
      phrases: Seq[Seq[String]], termBuckets: Int = 16): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "need at least one non-empty phrase")
    require(stats(spark, dir).maxDfPermille >= 1000,
      "phrase matching needs an uncapped index")
    // ONE postings pass for the whole phrase set (a per-phrase plan
    // branch would rescan shared buckets once per phrase and grow the
    // plan O(#phrases) — decontamination screens THOUSANDS of phrases):
    // broadcast the (phrase, offset, term) spec into the union-pruned
    // scan, group per (phrase, doc), and run the SAME positional fold as
    // phraseTopK inside one `aggregate` higher-order expression over the
    // offset-sorted steps. A group missing any offset lacks a term and
    // cannot match (guarded by the count).
    import spark.implicits._
    val spec = broadcast(phrases.zipWithIndex.flatMap {
      case (p, pid) => p.zipWithIndex.map {
        case (t, off) => (pid, off, t, p.size)
      }
    }.toDF("__pid", "__off", "__qterm", "__plen"))
    val allTerms = phrases.flatten.distinct
    queryPostings(spark, dir, allTerms, termBuckets)
      .join(spec, col("term") === col("__qterm"))
      .groupBy(col("__pid"), col("doc_id"), col("__plen"))
      .agg(count(lit(1)).as("__noff"),
        sort_array(collect_list(struct(col("__off"),
          transform(col("positions"), x => x.cast("long")).as("ps"))))
          .as("__steps"))
      .where(col("__noff") === col("__plen")) // every offset present
      .withColumn("__matched", expr(
        "aggregate(slice(__steps, 2, __plen - 1), __steps[0].ps, " +
          "(acc, s) -> array_intersect(" +
          "transform(acc, x -> x + 1L), s.ps))"))
      .where(size(col("__matched")) > 0)
      .select(col("doc_id")).distinct()
  }

  /** All docs with ≥1 occurrence of `phrase`: `(doc_id, n_occur)`,
    * unordered and unlimited (the fold shared by top-k and match-all). */
  private def phraseHits(posts: DataFrame,
      phrase: Seq[String]): DataFrame = {
    def termPositions(t: String, i: Int): DataFrame =
      posts.where(col("term") === t)
        .select(col("doc_id"),
          transform(col("positions"), x => x.cast("long")).as(s"__p$i"))
    val first = termPositions(phrase.head, 0)
    val joined = phrase.tail.zipWithIndex.foldLeft(first) {
      case (acc, (t, i)) => acc.join(termPositions(t, i + 1), "doc_id")
    }
    val matched = (1 until phrase.size).foldLeft(col("__p0")) { (prev, i) =>
      array_intersect(transform(prev, x => x + 1L), col(s"__p$i"))
    }
    joined.select(col("doc_id"), size(matched).cast("long").as("n_occur"))
      .where(col("n_occur") > 0)
  }

  private def phraseFold(posts: DataFrame, phrase: Seq[String],
      k: Int): DataFrame =
    phraseHits(posts, phrase)
      .orderBy(col("n_occur").desc, col("doc_id").asc)
      .limit(k)

  /** "More like this": top-k docs similar to a given document, scored by
    * BM25 over the document's `m` RAREST terms (minimum df = maximum idf;
    * deterministic tie-break by term) with the source doc excluded —
    * Lucene's MoreLikeThisQuery shape. The term-selection probe is a
    * partition-pruned read of the doc's own terms' df (query-sized driver
    * list); the search is an ordinary [[exactTopK]]-style pruned scan, so
    * the whole operation costs O(postings of m terms), never a corpus
    * pass. Oracle-exact end to end: selection orders by integers and the
    * scoring is the scaled-integer BM25. */
  def moreLikeThis(spark: SparkSession, dir: String, text: String,
      selfId: Long, k: Int, m: Int = 5,
      termBuckets: Int = 16): DataFrame = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .filter(_.nonEmpty).distinct.toSeq
    require(toks.nonEmpty, "moreLikeThis needs a non-empty document")
    val sel = queryPostings(spark, dir, toks, termBuckets)
      .groupBy(col("term")).agg(first(col("df")).as("df"))
      .orderBy(col("df").asc, col("term").asc).limit(m)
      .select(col("term")).collect().map(_.getString(0)).toSeq // m-sized
    val st = stats(spark, dir)
    scoreExact(queryPostings(spark, dir, sel, termBuckets), st.n, st.sdl)
      .where(col("doc_id") =!= selfId)
      .groupBy(col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    * the lexical [[exactTopK]] pool and a vector top-k pool over an
    * embedding table — the standard two-channel retrieval shape for
    * training-data curation (lexical recall + semantic recall, fused
    * without score calibration because RRF consumes only RANKS).
    *
    * `rrf = Σ_channels S div (rrfK + rank)` in scaled-integer arithmetic —
    * ranks are integers on both engines (the lexical ranks order by the
    * bit-exact integer BM25 score; the vector ranks inherit the
    * `q_sim_topk`-established cosine rank parity), so the fused score is
    * oracle-exact. A doc absent from a channel contributes 0 from it.
    *
    * The lexical pool is ≤ `poolK` rows BY CONSTRUCTION (exactTopK's
    * limit), so its ranks are computed on the driver — one collect of
    * the pool, ranks assigned locally, re-entering the plan as a literal
    * frame. One index-probe evaluation total, no single-partition
    * WindowExec, no self-join re-running the probe on the broadcast
    * side. At scale the vector pool swaps brute force for the IVF/PQ
    * serving paths unchanged (any (doc_id, rank) frame fuses). */
  def hybridRrfTopK(spark: SparkSession, dir: String, terms: Seq[String],
      emb: DataFrame, embId: Column, embVec: Column, queryVecId: Long,
      k: Int, poolK: Int = 50, rrfK: Int = 60,
      termBuckets: Int = 16): DataFrame = {
    // rank = row_number over (score DESC, doc_id ASC) — doc_id breaks
    // ties totally, so the driver-side sort is the same total order
    val pool = exactTopK(spark, dir, terms, poolK, termBuckets)
      .select(col("doc_id"), col("score"))
      .collect() // ≤ poolK rows — the operator's own result contract
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (d, s) => (-s, d) }
    import spark.implicits._
    val lex = pool.zipWithIndex
      .map { case ((d, _), i) => (d, i + 1L) }.toSeq
      .toDF("doc_id", "lex_rank")
    val vec = Similarity.bruteForceTopK(emb, embId, embVec,
        emb.filter(embId === queryVecId), embId, embVec, poolK)
      .select(col("corpus_id").as("doc_id"),
        col("rank").cast("long").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_s",
        coalesce(expr(s"${Scale}L div (${rrfK}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"${Scale}L div (${rrfK}L + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_s").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf_s"))
  }

  // ---- incrementally maintained index ------------------------------------
  //
  // The batch index above denormalizes df into every posting — optimal for
  // a rebuild-per-corpus-version deployment, but a single new document
  // would invalidate the df stamped on EVERY posting of every term it
  // contains. The incremental layout keeps postings df-FREE in a graft
  // table and maintains the corpus-level numbers as views:
  //
  //   <dir>/postings  graft table, record key `term<U+0001>doc_id`,
  //                   PARTITIONED BY term bucket — (term, doc_id, tf, dl)
  //   <dir>/doclen    graft table, record key doc_id — (doc_id, dl, g)
  //   <dir>/dfv       MaterializedAgg over postings GROUP BY term:
  //                   n_rows = df (+ sum_tf = corpus term frequency)
  //   <dir>/statsv    MaterializedAgg over doclen (constant group):
  //                   n_rows = N, sum_dl = Σdl
  //
  // Ingest/remove are ordinary graft commits + churn-bounded view
  // refreshes (the df view re-aggregates only the TERMS the batch
  // touched); the index gets time travel / OCC / cleaning for free. A
  // query reads the postings partitions of its terms (pruned on the
  // partition-path meta column), joins df for those terms from the view
  // (a record-key IN read, broadcast — query-sized), and reads the one
  // stats row on the driver; scoring is identical to the batch path, so
  // the maintained index converges to exactly the batch answer.
  //
  // Contract: `incIngest` batches carry NEW doc ids (append-only corpus —
  // the training-data shape); updating a document = incRemove(old row) +
  // incIngest(new row). Terms must not contain U+0001 (the key
  // separator); whitespace tokenization already guarantees no spaces.

  private val Sep = "\u0001"
  private val StatsGroup = "all"

  // Incremental batches derive from the SAME tokenize→aggregate base as
  // the batch index ([[postingsBase]]) — one definition of the postings
  // shape, so the two index forms can never diverge.
  private def batchPostings(docs: DataFrame, idCol: Column,
      textCol: Column): (DataFrame, DataFrame) =
    postingsBase(docs, idCol, textCol)

  private def postKey: Column = concat(col("term"), lit(Sep), col("doc_id"))
  private def postPart(termBuckets: Int): Column =
    pmod(xxhash64(col("term")), lit(termBuckets)).cast("string")

  private def refreshViews(spark: SparkSession, dir: String): Unit = {
    graft.views.MaterializedAgg.refresh(spark, s"$dir/postings",
      s"$dir/dfv", "term", Seq("tf" -> col("tf")))
    graft.views.MaterializedAgg.refresh(spark, s"$dir/doclen",
      s"$dir/statsv", "g", Seq("dl" -> col("dl"))): Unit
  }

  /** The two incremental-table frames of a batch, key/partition columns
    * attached — shared by ingest, remove, and the transactional spec. */
  private[graft] def incFrames(docs: DataFrame, idCol: Column,
      textCol: Column, termBuckets: Int): (DataFrame, DataFrame) = {
    val (post, dl) = batchPostings(docs, idCol, textCol)
    (post.withColumn("k", postKey).withColumn("p", postPart(termBuckets)),
      dl.withColumn("g", lit(StatsGroup))
        .withColumn("k", col("doc_id").cast("string"))
        .withColumn("p", lit(StatsGroup)))
  }

  /** Add a batch of NEW documents to the maintained index (creates the
    * index on first call). The bootstrap creates doclen FIRST and gates
    * on postings — a crash between the two creations leaves postings
    * empty, so a RETRY of the same batch simply redoes the bootstrap
    * (re-upserting doclen's identical rows is a content no-op); once
    * postings exists, both tables do. Every later batch lands as ONE
    * multi-table transaction (all-or-nothing across postings + doclen) +
    * churn-bounded view refreshes. `ts` pins the BOOTSTRAP commit only;
    * transactional batches mint their own reserved timestamps. */
  def incIngest(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: Column, textCol: Column, termBuckets: Int = 16,
      numBuckets: Int = 8, ts: Option[String] = None): Unit = {
    val (postFrame, dlFrame) = incFrames(docs, idCol, textCol, termBuckets)
    val tl = graft.format.Timeline(
      spark.sessionState.newHadoopConf(), s"$dir/postings")
    if (tl.completedInstants().isEmpty) {
      // bootstrap: CREATE both tables (recording the key/partition/bucket
      // contract the transactional path resolves on every later batch).
      // doclen first, postings last: the gate above tests postings, so a
      // half-done bootstrap is always retryable, never wedged.
      // MOR + deltaCounters=off (r13): each batch's postings keys hash
      // across every bucket, so COW appends rewrote the whole index per
      // batch and the exact-live-count existence join re-read it; these
      // are internal state tables consumed by pruned scans and the
      // maintained views (which refresh from the change feed), never by
      // metadata COUNT(*). Compaction is the operator's maintenance call.
      def create(df: DataFrame, path: String): Unit = {
        val w = df.write.format("graft")
          .option("key", "k").option("partition", "p")
          .option("type", "mor")
          .option("deltaCounters", "off")
          .option("buckets", numBuckets.toString)
          .mode(org.apache.spark.sql.SaveMode.Append)
        ts.fold(w)(x => w.option("ts", x)).save(path)
      }
      create(dlFrame, s"$dir/doclen")
      create(postFrame, s"$dir/postings")
    } else {
      // not materialized: each table's delete-free, counter-free delta
      // append reads its tokenize→aggregate frame exactly once (its write
      // measures the files itself)
      graft.write.MultiTableTxn.commit(spark, Seq(
        graft.write.MultiTableTxn.TableWrite(s"$dir/postings",
          updates = Some(postFrame)),
        graft.write.MultiTableTxn.TableWrite(s"$dir/doclen",
          updates = Some(dlFrame)))): Unit
    }
    refreshViews(spark, dir)
  }

  /** Remove documents (the rows as ingested — postings keys are recomputed
    * from the text). One TRANSACTIONAL delete across both tables (minting
    * its own reserved timestamps) + view refreshes. */
  def incRemove(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: Column, textCol: Column, termBuckets: Int = 16): Unit = {
    val (postFrame, dlFrame) = incFrames(docs, idCol, textCol, termBuckets)
    graft.write.MultiTableTxn.commit(spark, Seq(
      graft.write.MultiTableTxn.TableWrite(s"$dir/postings",
        deletes = Some(postFrame.localCheckpoint(true))),
      graft.write.MultiTableTxn.TableWrite(s"$dir/doclen",
        deletes = Some(dlFrame.localCheckpoint(true))))): Unit
    refreshViews(spark, dir)
  }

  /** Top-k over the maintained index — identical scoring to [[exactTopK]],
    * df/stats resolved from the maintained views. */
  def incExactTopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, termBuckets: Int = 16): DataFrame = {
    // The constant-group stats row is DELETED when every doc has been
    // incRemove'd — an empty index answers every query with zero hits,
    // not a NoSuchElementException.
    val statsRow = graft.views.MaterializedAgg.read(spark, s"$dir/statsv")
      .select(col("n_rows"), col("sum_dl")).collect().headOption
    if (statsRow.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("score"))
    val (n, sdl) = (statsRow.get.getLong(0), statsRow.get.getLong(1))
    val buckets = terms.map(termBucket(_, termBuckets)).distinct
      .map(_.toString)
    val posts = graft.read.SnapshotReader.read(spark, s"$dir/postings")
      .where(col(graft.format.MetaCols.PartitionPath)
        .isin(buckets: _*)) // partition-pruned listing
      .where(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    // df for the query terms: a record-key IN read of the view — tiny
    val dfv = graft.views.MaterializedAgg.read(spark, s"$dir/dfv")
      .where(col(graft.format.MetaCols.RecordKey).isin(terms: _*))
      .select(col("term"), col("n_rows").as("df"))
    scoreExact(posts.join(broadcast(dfv), "term"), n, sdl)
      .groupBy(col("doc_id"))
      .agg(sum(col("tscore")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
