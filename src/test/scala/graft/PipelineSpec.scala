package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

/** Pipeline-operator specs over the driver testdata (documents/embeddings). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("exact dedup keeps one row per duplicated text, smallest id") {
    // introduce real duplicates: re-append docs 0-49 with shifted ids
    val dupes = docs.filter($"doc_id" < 50)
      .withColumn("doc_id", $"doc_id" + 10000)
    val withDupes = docs.unionByName(dupes)
    val out = Dedup.exact(withDupes, $"text", $"doc_id")
    assert(out.count() == docs.count())
    assert(out.filter($"doc_id" >= 10000).isEmpty, "kept the smaller ids")
  }

  test("minhash LSH finds planted near-duplicates") {
    // plant near-dups: copy of text with one word changed
    val near = docs.filter($"doc_id" < 20)
      .withColumn("doc_id", $"doc_id" + 20000)
      .withColumn("text", concat($"text", lit(" extra")))
    val df = docs.unionByName(near)
    val pairs = Dedup.minhashPairs(df, $"doc_id", $"text",
      n = 3, numHashes = 32, bands = 16, thresholdPermille = 600)
    val found = pairs.filter($"id_b" >= 20000 && $"id_a" === $"id_b" - 20000)
    assert(found.count() >= 15, s"recall too low: ${found.count()}/20")
    // verified pairs really are similar
    assert(pairs.filter($"jaccard_permille" < 600).isEmpty)
  }

  test("native shingle expression == HOF reference formulation") {
    val native = docs.select($"doc_id",
      Dedup.shingleSet($"text", 3).as("s"))
    val hof = docs.select($"doc_id",
      array_distinct(TextAnalysis.shingleHashesHof(
        TextAnalysis.tokens($"text"), 3)).as("s"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("minhash LSH output == exact brute-force Jaccard (recall 1)") {
    // brute force = the full-inverted-index operator with a constant
    // blocking key; the q_minhash_pairs oracle relies on this equality.
    val lsh = Dedup.minhashPairs(docs, $"doc_id", $"text",
      n = 3, numHashes = 32, bands = 16, thresholdPermille = 500)
    val brute = Dedup.ngramJaccardPairsFullIndex(docs, $"doc_id", $"text",
      blocking = lit(1), n = 3, thresholdPermille = 500)
    assert(lsh.exceptAll(brute).isEmpty, "LSH emitted a non-pair")
    assert(brute.exceptAll(lsh).isEmpty, "LSH missed a true pair")
  }

  test("minhash LSH evaluates the in-row signature once per doc, in both " +
    "materialize modes (no copy inlined into the band slices)") {
    def sigCalls(plan: String): Int =
      "minhash_signature\\(".r.findAllMatchIn(plan).size
    val lazyPlan = Dedup.minhashPairs(docs, $"doc_id", $"text",
      materialize = false).queryExecution.optimizedPlan.toString
    assert(sigCalls(lazyPlan) == 1, lazyPlan)
    // materialize = true checkpoints: read the inner plan via PlanProbe
    val inner = new java.util.concurrent.ConcurrentLinkedQueue[String]
    graft.util.PlanProbe.install((_, plan) => inner.add(plan))
    try Dedup.minhashPairs(docs, $"doc_id", $"text").count()
    finally graft.util.PlanProbe.uninstall()
    assert(inner.size == 1)
    assert(sigCalls(inner.peek) == 1, inner.peek)
  }

  test("prefix-filtered ngram pairs == full inverted index (lossless filter)") {
    for (t <- Seq(200, 500, 800)) {
      val pref = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text",
        blocking = $"source", n = 2, thresholdPermille = t)
      val full = Dedup.ngramJaccardPairsFullIndex(docs, $"doc_id", $"text",
        blocking = $"source", n = 2, thresholdPermille = t)
      assert(pref.exceptAll(full).isEmpty, s"t=$t: prefix emitted a non-pair")
      assert(full.exceptAll(pref).isEmpty, s"t=$t: prefix filter lost a pair")
    }
  }

  test("simhash: identical docs have hamming 0; pairs found") {
    val twin = docs.filter($"doc_id" < 10)
      .withColumn("doc_id", $"doc_id" + 30000)
    val pairs = Dedup.simhashPairs(docs.unionByName(twin),
      $"doc_id", $"text", maxHamming = 3)
    val exact0 = pairs.filter($"id_b" >= 30000 && $"id_a" === $"id_b" - 30000)
    assert(exact0.count() == 10)
    assert(exact0.filter($"hamming" =!= 0).isEmpty)
  }

  test("ngram jaccard within blocking key is symmetric-free and thresholded") {
    val pairs = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text",
      blocking = $"source", n = 2, thresholdPermille = 100)
    assert(pairs.filter($"id_a" >= $"id_b").isEmpty)
    assert(pairs.filter($"jaccard_permille" < 100).isEmpty)
  }

  test("embedding near-dup: planted duplicate vector is ALWAYS found (sign-LSH recall 1 on exact dups)") {
    val twin = embs.filter($"vec_id" < 5)
      .withColumn("vec_id", $"vec_id" + 40000)
    // cosine ≥ 99/100: only the planted identical twins qualify; identical
    // quantized vectors have identical sign words in every band, so the
    // blocking can never lose them.
    val pairs = Dedup.embeddingNearDupPairs(embs.unionByName(twin),
      $"vec_id", $"embedding", thresholdNum = 99, thresholdDen = 100)
    val found = pairs.filter($"id_b" >= 40000 && $"id_a" === $"id_b" - 40000)
    assert(found.count() == 5)
    assert(pairs.count() == 5, "exact threshold admitted a non-twin pair")
  }

  test("embedding near-dup: degenerate single-bucket config == all-pairs verifier") {
    val blocked = Dedup.embeddingNearDupPairs(embs, $"vec_id", $"embedding",
      thresholdNum = 2, thresholdDen = 5, bands = 1, rowsPerBand = 0)
    val all = Dedup.embeddingNearDupPairsAllPairs(embs, $"vec_id",
      $"embedding", thresholdNum = 2, thresholdDen = 5)
    assert(blocked.exceptAll(all).isEmpty && all.exceptAll(blocked).isEmpty)
  }

  test("embedding near-dup: banded output is an exact subset of all-pairs") {
    val blocked = Dedup.embeddingNearDupPairs(embs, $"vec_id", $"embedding",
      thresholdNum = 2, thresholdDen = 5)
    val all = Dedup.embeddingNearDupPairsAllPairs(embs, $"vec_id",
      $"embedding", thresholdNum = 2, thresholdDen = 5)
    assert(blocked.exceptAll(all).isEmpty,
      "blocked operator emitted a pair the exact verifier rejects")
    assert(blocked.count() > 0, "blocking degenerated to empty output")
  }

  test("embed hi-recall mode: subset of exact, recall >= default blocking") {
    val hi = Dedup.embeddingNearDupPairs(embs, $"vec_id", $"embedding",
      thresholdNum = 2, thresholdDen = 5,
      bandCoords = Some(Dedup.signBandCoords(32, 8, 64, 7L)))
    val all = Dedup.embeddingNearDupPairsAllPairs(embs, $"vec_id",
      $"embedding", thresholdNum = 2, thresholdDen = 5)
    val default = Dedup.embeddingNearDupPairs(embs, $"vec_id", $"embedding",
      thresholdNum = 2, thresholdDen = 5)
    assert(hi.exceptAll(all).isEmpty,
      "hi-recall blocking emitted a pair the exact verifier rejects")
    assert(hi.count() >= default.count(),
      "32 seeded bands must find at least as many pairs as 8 default bands")
  }

  test("brute-force top-k: self is rank 1 with cosine ~1; k rows per query") {
    val queries = embs.filter($"vec_id" < 3)
    val topk = Similarity.bruteForceTopK(
      embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5)
    assert(topk.groupBy("query_id").count()
      .filter($"count" =!= 5).isEmpty)
    val self = topk.filter($"rank" === 1)
    assert(self.filter($"query_id" =!= $"corpus_id").isEmpty)
    assert(self.filter($"cosine_micro" < 999999).isEmpty)
  }

  test("PQ ADC score == dot against the reconstructed vector (independent form)") {
    val dim = 64; val m = 8; val dsub = dim / m
    val books = Similarity.pqTrain(embs, $"vec_id", $"embedding", dim, m,
      ksub = 16, iters = 2)
    assert(books.size == m && books.forall(_.forall(_.size == dsub)))
    val enc = Similarity.pqEncode(embs, $"vec_id", $"embedding", books, dim)
      .filter($"corpus_id" < 20)
    val qs = embs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .withColumn("lut", Similarity.pqLut($"qv", books, dim))
    val sparkSide = enc.crossJoin(qs)
      .select($"corpus_id", $"query_id", $"codes", $"qv",
        Similarity.adcDot($"codes", $"lut").as("adc"))
      .collect()
    assert(sparkSide.nonEmpty)
    sparkSide.foreach { r =>
      val codes = r.getSeq[Int](2)
      val qv = r.getSeq[Float](3)
      // independent formulation: reconstruct the full vector from the
      // codebooks, dot in coordinate order
      val recon = codes.zipWithIndex.flatMap { case (code, s) =>
        books(s)(code)
      }
      val expected = qv.zip(recon)
        .map { case (a, b) => a.toDouble * b.toDouble }.sum
      val adc = r.getDouble(4)
      assert(math.abs(adc - expected) <= 1e-9 * math.max(1.0,
        math.abs(expected)),
        s"ADC $adc != reconstructed dot $expected for corpus ${r.getLong(0)}")
    }
  }

  test("PQ top-k with full rerank == brute force; pure ADC is deterministic") {
    val queries = embs.filter($"vec_id" < 5)
    val exact = Similarity.pqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = 64, m = 8, ksub = 16,
      rerank = 1 << 30)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5)
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty)
    // pure compressed-domain ranking: k rows per query, deterministic
    val adc1 = Similarity.pqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = 64, m = 8, ksub = 16)
    assert(adc1.groupBy("query_id").count().filter($"count" =!= 5).isEmpty)
    val adc2 = Similarity.pqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = 64, m = 8, ksub = 16)
    assert(adc1.exceptAll(adc2).isEmpty && adc2.exceptAll(adc1).isEmpty)
  }

  test("hash-sample training (trainFraction < 1): deterministic, and the exactness gates still hold") {
    val queries = embs.filter($"vec_id" < 5)
    // sampled-trained codebooks differ from full-trained ones (the knob
    // does something) yet are reproducible run-to-run
    val full = Similarity.pqTrain(embs, $"vec_id", $"embedding", 64, 8,
      ksub = 16, iters = 2)
    val s1 = Similarity.pqTrain(embs, $"vec_id", $"embedding", 64, 8,
      ksub = 16, iters = 2, trainFraction = 0.25)
    val s2 = Similarity.pqTrain(embs, $"vec_id", $"embedding", 64, 8,
      ksub = 16, iters = 2, trainFraction = 0.25)
    assert(s1 == s2, "hash-sample training must be deterministic")
    assert(s1 != full, "a 25% sample should move the codebooks")
    // full-rerank exactness is INDEPENDENT of codebook quality: the
    // sampled-trained index still reproduces brute force exactly
    val exact = Similarity.pqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = 64, m = 8, ksub = 16,
      rerank = 1 << 30, trainFraction = 0.25)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5)
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty)
    // same for the composed IVF-PQ layout under exhaustive probing
    val path = "/tmp/graft_test/ivfpq_sampled"
    val (cents, books) = Similarity.ivfPqWrite(embs, $"vec_id", $"embedding",
      path, dim = 64, nlist = 8, m = 8, ksub = 16, trainFraction = 0.25)
    val ivfExact = Similarity.ivfPqTopKFromTable(spark, path, cents, books,
      queries, $"vec_id", $"embedding", k = 5, dim = 64, nprobe = 8,
      rerank = 1 << 30)
    assert(ivfExact.exceptAll(brute).isEmpty &&
      brute.exceptAll(ivfExact).isEmpty)
  }

  test("OPQ: learned rotation is orthogonal; exactness gates hold unchanged") {
    val dim = 64
    val (rot, books) = Similarity.opqTrain(embs, $"vec_id", $"embedding",
      dim, m = 8, ksub = 16, iters = 1, opqIters = 2)
    assert(books.size == 8)
    // R·Rᵀ ≈ I — the Procrustes update must return an ORTHOGONAL matrix
    // (anything else would distort the dot products ADC approximates)
    for (i <- 0 until dim; j <- 0 until dim) {
      val v = (0 until dim).map(t => rot(i)(t) * rot(j)(t)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(v - expect) < 1e-9,
        s"R·Rᵀ[$i][$j] = $v, expected $expect")
    }
    // deterministic end to end
    val (rot2, books2) = Similarity.opqTrain(embs, $"vec_id", $"embedding",
      dim, m = 8, ksub = 16, iters = 1, opqIters = 2)
    assert(rot == rot2 && books == books2)
    // rotation preserves the dot, so full rerank is STILL exactly brute
    val queries = embs.filter($"vec_id" < 5)
    val exact = Similarity.opqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = dim, m = 8, ksub = 16,
      iters = 1, opqIters = 2, rerank = 1 << 30)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5)
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty)
    // pure ADC stays k rows per query
    val adc = Similarity.opqTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5, dim = dim, m = 8, ksub = 16,
      iters = 1, opqIters = 1)
    assert(adc.groupBy("query_id").count().filter($"count" =!= 5).isEmpty)
  }

  test("IVF-OPQ composition: exhaustive probe + full rerank == brute " +
      "force; rotated ingest stays exact over the union (r11)") {
    val path = "/tmp/graft_test/ivfopq_table"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val bulk = embs.filter($"vec_id" % 3 =!= 0)
    val batch = embs.filter($"vec_id" % 3 === 0)
    val (rot, cents, books) = Similarity.ivfOpqWrite(bulk, $"vec_id",
      $"embedding", path, dim = 64, nlist = 8, iters = 1, opqIters = 1)
    val queries = embs.filter($"vec_id" < 5)
    def top(k: Int) = Similarity.ivfPqTopKFromTable(spark, path, cents,
      books, queries, $"vec_id", $"embedding", k = k, dim = 64,
      nprobe = 8, rerank = 1 << 30, rotation = Some(rot))
    val bruteBulk = Similarity.bruteForceTopK(bulk, $"vec_id",
      $"embedding", queries, $"vec_id", $"embedding", k = 5)
    assert(top(5).exceptAll(bruteBulk).isEmpty &&
      bruteBulk.exceptAll(top(5)).isEmpty)
    // FAISS-add ingest with the SAME rotation: exact over the union
    Similarity.ivfPqIngest(batch, $"vec_id", $"embedding", path, cents,
      books, dim = 64, rotation = Some(rot))
    val bruteAll = Similarity.bruteForceTopK(embs, $"vec_id",
      $"embedding", queries, $"vec_id", $"embedding", k = 5)
    assert(top(5).exceptAll(bruteAll).isEmpty &&
      bruteAll.exceptAll(top(5)).isEmpty)
  }

  test("IVF-PQ table path: exhaustive probe + full rerank == brute force; " +
      "ADC scan never reads vectors") {
    val path = "/tmp/graft_test/ivfpq_table"
    val (cents, books) = Similarity.ivfPqWrite(embs, $"vec_id", $"embedding",
      path, dim = 64, nlist = 8, m = 8, ksub = 16)
    val queries = embs.filter($"vec_id" < 5)
    val exact = Similarity.ivfPqTopKFromTable(spark, path, cents, books,
      queries, $"vec_id", $"embedding", k = 5, dim = 64, nprobe = 8,
      rerank = 1 << 30)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 5)
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty)
    // the compressed-domain phase reads (codes, vnorm), never cv: the plan
    // must contain a parquet scan over codes WITHOUT cv in its ReadSchema
    val plan = exact.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("codes") && !l.contains("cv")),
      s"no vector-free ADC scan found in:\n$plan")
    // low-nprobe probes read ONLY their cells' files
    val low = Similarity.ivfPqTopKFromTable(spark, path, cents, books,
      embs.filter($"vec_id" === 3), $"vec_id", $"embedding", k = 3,
      dim = 64, nprobe = 1, rerank = 10)
    // RAW-vector mode (residual=false) must be exact under the exhaustive
    // setting too — both quantization modes share the rerank gate
    val rawPath = "/tmp/graft_test/ivfpq_table_raw"
    val (rc, rb) = Similarity.ivfPqWrite(embs, $"vec_id", $"embedding",
      rawPath, dim = 64, nlist = 8, m = 8, ksub = 16, residual = false)
    val rawExact = Similarity.ivfPqTopKFromTable(spark, rawPath, rc, rb,
      queries, $"vec_id", $"embedding", k = 5, dim = 64, nprobe = 8,
      rerank = 1 << 30, residual = false)
    assert(rawExact.exceptAll(brute).isEmpty &&
      brute.exceptAll(rawExact).isEmpty)
    assert(low.count() == 3)
    val indexFiles = low.inputFiles.filter(_.contains("ivfpq_table"))
    assert(indexFiles.nonEmpty &&
      indexFiles.forall(_.contains("__cluster=")),
      "IVF-PQ probe read a non-cell index file")
    assert(indexFiles.map(f =>
      f.split("__cluster=")(1).split("/")(0)).distinct.size <= 1,
      "nprobe=1 single-query probe touched more than its cell")
  }

  test("IVF top-k: corpus queries retrieve themselves at rank 1") {
    val queries = embs.filter($"vec_id" < 5)
    val topk = Similarity.ivfTopK(
      embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding",
      k = 3, nlist = 8, nprobe = 8) // nprobe = nlist → exhaustive = exact
    val self = topk.filter($"rank" === 1)
    assert(self.count() == 5)
    assert(self.filter($"query_id" =!= $"corpus_id").isEmpty)
    // with nprobe == nlist the result must equal brute force
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 3)
    assert(topk.exceptAll(brute).isEmpty && brute.exceptAll(topk).isEmpty)
  }

  test("IVF table path: partition-pruned probes == in-memory IVF top-k") {
    val path = "/tmp/graft_test/ivf_table"
    val centroids = Similarity.ivfWrite(embs, $"vec_id", $"embedding",
      path, nlist = 8)
    val queries = embs.filter($"vec_id" < 2)
    val fromTable = Similarity.ivfTopKFromTable(spark, path, centroids,
      queries, $"vec_id", $"embedding", k = 3, nprobe = 2)
    val inMemory = Similarity.ivfTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 3, nlist = 8, nprobe = 2)
    assert(fromTable.exceptAll(inMemory).isEmpty &&
      inMemory.exceptAll(fromTable).isEmpty)
    // directory-level pruning: only the probed cells' files enter the plan
    val probed = fromTable.inputFiles.toSeq
    assert(probed.nonEmpty)
    val cells = probed.flatMap(
      _.split("/").find(_.startsWith("__cluster="))).distinct
    assert(cells.size <= 2 * 2,
      s"scan read more cells than the query batch probes: $cells")
  }

  test("ivfIngest: incrementally grown index == brute force over the " +
    "union at nprobe = nlist; preexisting cell files are untouched") {
    val path = freshDir("ivf_ingest_table")
    val first = embs.filter($"vec_id" < 300)
    val centroids = Similarity.ivfWrite(first, $"vec_id", $"embedding",
      path, nlist = 8)
    val filesBefore = spark.read.parquet(path).inputFiles.toSet
    Similarity.ivfIngest(embs.filter($"vec_id" >= 300 && $"vec_id" < 450),
      $"vec_id", $"embedding", path, centroids)
    Similarity.ivfIngest(embs.filter($"vec_id" >= 450),
      $"vec_id", $"embedding", path, centroids)
    // append-only growth: every bulk-load file survives verbatim
    assert(filesBefore.subsetOf(spark.read.parquet(path).inputFiles.toSet))
    val queries = embs.filter($"vec_id" < 5)
    val grown = Similarity.ivfTopKFromTable(spark, path, centroids,
      queries, $"vec_id", $"embedding", k = 4, nprobe = 8)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 4)
    assert(grown.exceptAll(brute).isEmpty && brute.exceptAll(grown).isEmpty)
  }

  test("native centroid kernel == declarative expression form (nlist 8 and 1024)") {
    // Independent reference formulation: the pre-r5 greatest/array_sort
    // expression plans. Equality at small AND production-shaped nlist pins
    // the kernel's score arithmetic and (score desc, id asc) tiebreak.
    def mkCentroids(nlist: Int): Seq[(Int, Seq[Float])] = {
      val rnd = new scala.util.Random(7)
      (0 until nlist).map(i =>
        i -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    }
    val c = embs.limit(200)
      .select($"vec_id".cast("long").as("id"), $"embedding".as("v"))
    for (nlist <- Seq(8, 1024)) {
      val cents = mkCentroids(nlist)
      val kern = Similarity.assignToCentroid(c, cents)
        .select($"id", $"__cluster")
      val expr = Similarity.assignViaExprForm(c, cents)
        .select($"id", $"__cluster")
      assert(kern.exceptAll(expr).isEmpty && expr.exceptAll(kern).isEmpty,
        s"assignment diverged from expression form at nlist=$nlist")
      val kp = c.select($"id",
        Similarity.probeClusters(cents, 3)($"v").as("p"))
      val ep = c.select($"id",
        Similarity.probeViaExprForm(cents, 3)($"v").as("p"))
      assert(kp.exceptAll(ep).isEmpty && ep.exceptAll(kp).isEmpty,
        s"probe diverged from expression form at nlist=$nlist")
    }
    // The scale property itself: plan width is CONSTANT in nlist — the
    // centroid matrix rides on one expression node, not nlist columns.
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .map(_.collect { case x => x }.size).sum
    assert(
      exprNodes(Similarity.assignToCentroid(c, mkCentroids(8))) ==
        exprNodes(Similarity.assignToCentroid(c, mkCentroids(1024))),
      "assignment plan width must not grow with nlist")
    assert(
      exprNodes(c.select(Similarity.probeClusters(mkCentroids(8), 3)($"v"))) ==
        exprNodes(c.select(
          Similarity.probeClusters(mkCentroids(1024), 3)($"v"))),
      "probe plan width must not grow with nlist")
  }

  test("native residual/query-dot kernels == declarative expression " +
    "forms (nlist 8 and 1024); plan width constant in nlist") {
    // r17: the encode paths' residual (v − centroid(cell), float) and the
    // ADC qc term (⟨q, centroid(cell)⟩, double) moved off the
    // O(nlist·dim) typedLit array literal onto single-node kernels —
    // equality against the HOF reference forms pins the arithmetic
    // bit-for-bit at small AND production-shaped nlist.
    def mkCentroids(nlist: Int): Seq[(Int, Seq[Float])] = {
      val rnd = new scala.util.Random(11)
      (0 until nlist).map(i =>
        i -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    }
    val c = embs.limit(200)
      .select($"vec_id".cast("long").as("id"), $"embedding".as("v"))
    for (nlist <- Seq(8, 1024)) {
      val cents = mkCentroids(nlist)
      val centsF = cents.sortBy(_._1).map(_._2)
      val centsD = centsF.map(_.map(_.toDouble))
      val assigned = Similarity.assignToCentroid(c, cents)
      val kr = assigned.select($"id",
        graft.functions.CentroidOps.residual($"v", $"__cluster", centsF)
          .as("r"))
      val er = assigned.select($"id",
        Similarity.residualViaExprForm($"v", $"__cluster", cents).as("r"))
      assert(kr.exceptAll(er).isEmpty && er.exceptAll(kr).isEmpty,
        s"residual kernel diverged from expression form at nlist=$nlist")
      val kq = assigned.select($"id",
        graft.functions.CentroidOps.queryDot($"v", $"__cluster", centsD)
          .as("qc"))
      val eq = assigned.select($"id",
        Similarity.queryDotViaExprForm($"v", $"__cluster", centsD)
          .as("qc"))
      assert(kq.exceptAll(eq).isEmpty && eq.exceptAll(kq).isEmpty,
        s"query-dot kernel diverged from expression form at nlist=$nlist")
    }
    // the scale property: ONE reference object, not nlist·dim literals
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .map(_.collect { case x => x }.size).sum
    val a8 = Similarity.assignToCentroid(c, mkCentroids(8))
    val a1024 = Similarity.assignToCentroid(c, mkCentroids(1024))
    assert(
      exprNodes(a8.select(graft.functions.CentroidOps.residual(
        $"v", $"__cluster", mkCentroids(8).map(_._2)))) ==
      exprNodes(a1024.select(graft.functions.CentroidOps.residual(
        $"v", $"__cluster", mkCentroids(1024).map(_._2)))),
      "residual plan width must not grow with nlist")
  }

  test("native mat-vec kernel == declarative HOF rotation form " +
    "(float and double inputs); plan width constant in dim") {
    // r17 optimization round: rotateCol (OPQ rotation, PCA projection)
    // moved off the transform(typedLit(R), row => aggregate(zip_with))
    // HOF form — dim² analyzed literal, interpreted per row — onto the
    // MatVec kernel. Equality pins the arithmetic bit-for-bit on float
    // inputs (the encode paths) and double inputs (pcaProject's
    // centered vectors).
    val rnd = new scala.util.Random(13)
    def mkRot(dim: Int): Seq[Seq[Double]] =
      Seq.fill(dim)(Seq.fill(dim)(rnd.nextGaussian()))
    val rot = mkRot(64)
    val c = embs.limit(200)
      .select($"vec_id".cast("long").as("id"), $"embedding".as("v"))
    val kF = c.select($"id",
      graft.functions.CentroidOps.matVec($"v", rot).as("r"))
    val eF = c.select($"id",
      Similarity.rotateColViaHof($"v", rot).as("r"))
    assert(kF.exceptAll(eF).isEmpty && eF.exceptAll(kF).isEmpty,
      "mat-vec kernel diverged from HOF form on float input")
    val cd = c.select($"id",
      org.apache.spark.sql.functions.transform($"v",
        x => x.cast("double") * 1.5).as("v"))
    val kD = cd.select($"id",
      graft.functions.CentroidOps.matVec($"v", rot).as("r"))
    val eD = cd.select($"id",
      Similarity.rotateColViaHof($"v", rot).as("r"))
    assert(kD.exceptAll(eD).isEmpty && eD.exceptAll(kD).isEmpty,
      "mat-vec kernel diverged from HOF form on double input")
    // scale property: the rotation is one reference object, not dim²
    // analyzed literals
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .map(_.collect { case x => x }.size).sum
    assert(
      exprNodes(c.select(graft.functions.CentroidOps.matVec($"v", mkRot(8)))) ==
        exprNodes(c.select(graft.functions.CentroidOps.matVec($"v", mkRot(128)))),
      "mat-vec plan width must not grow with dim")
  }

  test("MinKVecAgg seeded-init pick == rank-window reference " +
    "(key ties, short groups)") {
    // r17 optimization round: pqTrainOn's cold-start codebook pick moved
    // from `row_number() OVER (PARTITION BY s ORDER BY __h, id) <= ksub`
    // (m rank partitions — the whole exploded sample funnels through m
    // reducers plus a sort) onto the map-side-combined MinKVecAgg. Same
    // (key ASC, id ASC) total order: forced key ties exercise the id
    // tiebreak, a one-row group exercises the short-group path.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      (i % 5, i.toLong, (i * 2654435761L) % 7, Seq.fill(4)(rnd.nextFloat()))
    } :+ ((5, 999L, 0L, Seq.fill(4)(rnd.nextFloat())))
    val df = rows.toDF("s", "id", "h", "sv")
    val k = 8
    val agg = df.groupBy($"s")
      .agg(graft.functions.MinKVecAgg.minKVecs($"h", $"id", $"sv", k)
        .as("pk"))
      .select($"s", posexplode($"pk"))
      .toDF("s", "r0", "v")
    val w = Window.partitionBy("s").orderBy($"h", $"id")
    val ref = df.withColumn("__r", row_number().over(w))
      .filter($"__r" <= k)
      .select($"s", ($"__r" - 1).as("r0"), $"sv".as("v"))
    assert(agg.exceptAll(ref).isEmpty && ref.exceptAll(agg).isEmpty,
      "MinKVecAgg pick diverged from the rank-window reference")
  }

  test("native pq-lut / adc-dot kernels == declarative expression forms " +
    "(r17); lut plan width constant in ksub") {
    val books = Similarity.pqTrain(embs, $"vec_id", $"embedding",
      dim = 64, m = 8, ksub = 16, iters = 1)
    val q = embs.limit(40)
      .select($"vec_id".cast("long").as("id"), $"embedding".as("qv"))
    val lk = q.select($"id", Similarity.pqLut($"qv", books, 64).as("l"))
    val le = q.select($"id",
      Similarity.pqLutViaExprForm($"qv", books, 64).as("l"))
    assert(lk.exceptAll(le).isEmpty && le.exceptAll(lk).isEmpty,
      "pq-lut kernel diverged from the expression form")
    // adc gather over real encoded rows x real query LUTs
    val enc = Similarity.pqEncode(embs.limit(60), $"vec_id", $"embedding",
      books, dim = 64).select($"corpus_id", $"codes")
    val pairs = enc.crossJoin(
      broadcast(q.limit(5).select($"id",
        Similarity.pqLut($"qv", books, 64).as("lut"))))
    val gk = pairs.select($"corpus_id", $"id",
      Similarity.adcDot($"codes", $"lut").as("adc"))
    val ge = pairs.select($"corpus_id", $"id",
      Similarity.adcDotViaExprForm($"codes", $"lut").as("adc"))
    assert(gk.exceptAll(ge).isEmpty && ge.exceptAll(gk).isEmpty,
      "adc-dot kernel diverged from the expression form")
    // scale property: the codebook table rides on ONE node — plan width
    // does not grow with ksub
    def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions
        .map(_.collect { case x => x }.size).sum
    val books64 = Similarity.pqTrain(embs, $"vec_id", $"embedding",
      dim = 64, m = 8, ksub = 64, iters = 1)
    assert(
      exprNodes(q.select(Similarity.pqLut($"qv", books, 64))) ==
        exprNodes(q.select(Similarity.pqLut($"qv", books64, 64))),
      "pq-lut plan width must not grow with ksub")
  }

  test("IVF training is deterministic and returns nlist centroids") {
    val c1 = Similarity.ivfTrain(embs, $"vec_id", $"embedding", nlist = 4)
    val c2 = Similarity.ivfTrain(embs, $"vec_id", $"embedding", nlist = 4)
    assert(c1 == c2)
    assert(c1.size == 4 && c1.forall(_._2.size == 64))
  }

  test("clusters with reliable checkpointDir == localCheckpoint labels") {
    import org.apache.spark.sql.functions.col
    // chain + cycle + singleton-loop graph exercising multiple rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L),
      (20L, 20L), (5L, 4L), (6L, 5L)).toDF("id_a", "id_b")
    val ckptDir = freshDir("clusters_ckpt")
    val local = Dedup.clusters(edges, col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toMap
    val reliable = Dedup.clusters(edges, col("id_a"), col("id_b"),
        checkpointDir = Some(ckptDir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // the reliable path actually wrote RDD checkpoints to the given dir
    val ckptFiles = new java.io.File(ckptDir).listFiles()
    assert(ckptFiles != null && ckptFiles.nonEmpty,
      "checkpointDir mode wrote no checkpoint data")
  }

  test("keepBestPerCluster: quality-ranked winner beats smallest id; " +
    "ties break by id; unclustered docs survive") {
    import org.apache.spark.sql.functions.col
    // cluster {1,2,3}: best quality is 2; cluster {10,11}: tie -> 10;
    // 20 is unpaired and must survive with any score
    val docs = Seq((1L, 50L), (2L, 90L), (3L, 70L), (10L, 40L), (11L, 40L),
      (20L, 1L)).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, col("id"), pairs,
        col("id_a"), col("id_b"), col("q"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 20L))
  }

  test("native float_cosine == HOF reference form, bit-identical incl. edges") {
    import org.apache.spark.sql.functions.col
    // real embeddings against themselves and against a rolled copy
    val pairs = embs.select($"vec_id", $"embedding".as("a"))
      .join(embs.select(($"vec_id" + 1).as("vec_id"),
        $"embedding".as("b")), "vec_id")
    val both = pairs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineViaHof(col("a"), col("b")).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
      s"cosine diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // edge cases: zero vector → 0.0; null element → null; length
    // mismatch → null (or 0.0 when the denominator is zero) — identical
    // to the declarative form's semantics, case by case
    val edges = Seq(
      (Array(0f, 0f), Array(1f, 2f)),       // zero norm → 0.0
      (Array(1f, 2f), Array(1f, 2f, 3f)),   // length mismatch → null
      (Array(0f, 0f), Array(0f)),           // mismatch AND zero norm → 0.0
      (Array(1f, 2f), Array(3f, 4f)))       // plain
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineViaHof(col("a"), col("b")).as("hof"))
      .collect()
    edges.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null semantics diverged: $r")
      if (!r.isNullAt(0)) assert(
        java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
    val withNull = Seq((Seq[java.lang.Float](1f, null), Seq[java.lang.Float](1f, 2f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("native"),
        Similarity.cosineViaHof(col("a"), col("b")).as("hof"))
      .head()
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))

    // the INTERPRETED path (nullSafeEval) must agree with codegen —
    // re-run the corpus comparison with whole-stage codegen disabled
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      both.collect().foreach(r => assert(
        java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"interpreted cosine diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("float_cosine rejects non-float arrays at ANALYSIS time; stays nullable") {
    import org.apache.spark.sql.functions.col
    // array<double> input would read 4 of each element's 8 bytes off the
    // unsafe buffer — silently wrong scores; must fail analysis loudly
    val doubles = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>"))
    // NON-nullable float children (array literals) still work: the
    // expression declares itself nullable (it returns null for non-null
    // inputs on length mismatch), so codegen must declare isNull
    val floats = spark.range(1).select(
      org.apache.spark.sql.functions.lit(Array(1f, 2f)).as("a"),
      org.apache.spark.sql.functions.lit(Array(3f, 4f, 5f)).as("b"))
    assert(!floats.schema("a").nullable)
    val mismatch = floats
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(mismatch.schema("c").nullable,
      "float_cosine must declare nullable: it can return null for " +
        "non-null inputs")
    assert(mismatch.head().isNullAt(0))
  }

  test("Lloyd-step native vector_mean agg == posexplode/avg reference form") {
    // same assigned frame through both formulations; the native agg's
    // double summation order differs from avg's partial-agg order, so the
    // pin is 1e-9 relative per component (both are float-input/double-sum)
    val cents = Similarity.ivfTrain(embs, $"vec_id", $"embedding", nlist = 4,
      iters = 0)
    val assigned = Similarity.assignToCentroid(
      embs.select($"vec_id".cast("long").as("id"), $"embedding".as("v")),
      cents)
    val native = Similarity.clusterMeans(assigned, dim = 64)
    val reference = Similarity.meansViaExplodeForm(assigned, dim = 64)
    assert(native.keySet == reference.keySet && native.nonEmpty)
    native.foreach { case (cl, m) =>
      val r = reference(cl)
      assert(m.size == 64 && r.size == 64)
      m.zip(r).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"cluster $cl mean diverged: $a vs $b")
      }
    }
    // the driver payload is primitive: nlist rows of array<double>[dim]
    val rows = assigned.groupBy("__cluster")
      .agg(graft.functions.VectorMeanAgg.vectorMean($"v", 64).as("m"))
      .collect()
    assert(rows.length == native.size &&
      rows.forall(_.getSeq[Double](1).size == 64))
  }

  test("outer_sum aggregate == declarative flatten/transform outer product") {
    // the OPQ Procrustes aggregate (r10): Σ x·x̂ᵀ accumulated in a
    // primitive buffer must equal the per-row-materialized declarative
    // form to float-summation tolerance, on an asymmetric (dimX != dimY)
    // shape to pin the row-major layout
    val dimX = 5
    val dimY = 3
    val rows = embs.limit(200)
      .select($"vec_id".cast("long").as("id"),
        expr("slice(embedding, 1, 5)").as("x"),
        expr("transform(slice(embedding, 7, 3), v -> cast(v as double) + 0.5)")
          .as("y"))
    val native = rows.agg(graft.functions.OuterSumAgg
        .outerSum($"x", $"y", dimX, dimY).as("s"))
      .collect()(0).getSeq[Double](0)
    val declRow = rows
      .withColumn("outer", flatten(transform($"x", xi =>
        transform($"y", yj => xi * yj))))
      .agg(graft.functions.VectorMeanAgg.vectorMean($"outer", dimX * dimY)
        .as("m"), count(lit(1)).as("n")).collect()(0)
    val decl = declRow.getSeq[Double](0).map(_ * declRow.getLong(1))
    assert(native.size == dimX * dimY)
    native.zip(decl).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"outer_sum diverged: $a vs $b")
    }
    // null vectors skip the row (standard aggregate semantics)
    val withNulls = rows.withColumn("x",
      when($"id" % 2 === 0, $"x"))
    val evens = rows.filter($"id" % 2 === 0)
    val a1 = withNulls.agg(graft.functions.OuterSumAgg
      .outerSum($"x", $"y", dimX, dimY)).collect()(0).getSeq[Double](0)
    val a2 = evens.agg(graft.functions.OuterSumAgg
      .outerSum($"x", $"y", dimX, dimY)).collect()(0).getSeq[Double](0)
    a1.zip(a2).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)))
    }
  }

  test("substrDedup: a planted cross-doc 8-token span is cut from both " +
      "docs, unique context survives") {
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"epsilon $span zeta"),
      (3L, "nothing shared here at all today friends ok")).toDF("id", "txt")
    val out = Dedup.substrDedup(df, $"id", $"txt", w = 8)
      .orderBy($"doc_id").collect()
    assert(out(0).getString(1) == "alpha beta gamma delta")
    assert(out(0).getInt(3) == 8)
    assert(out(1).getString(1) == "epsilon zeta")
    assert(out(2).getString(1) ==
      "nothing shared here at all today friends ok")
    assert(out(2).getInt(3) == 0)
  }

  test("substrDedup: a WITHIN-doc repeat counts as duplicated; short docs " +
      "and minDupCount=3 survivors are kept whole") {
    val span = (1 to 8).map(i => s"rep$i").mkString(" ")
    val df = Seq(
      (1L, s"$span filler_a filler_b $span"),   // repeats inside one doc
      (2L, "tiny doc"),                          // shorter than w
      (3L, "independent third document with no repeats anywhere at all")).
      toDF("id", "txt")
    val cut = Dedup.substrDedup(df, $"id", $"txt", w = 8)
      .orderBy($"doc_id").collect()
    assert(cut(0).getString(1) == "filler_a filler_b")
    assert(cut(1).getString(1) == "tiny doc" && cut(1).getInt(3) == 0)
    // with minDupCount=3, doc 1's double repeat is under threshold too
    val lax = Dedup.substrDedup(df, $"id", $"txt", w = 8, minDupCount = 3)
      .orderBy($"doc_id").collect()
    assert(lax.forall(_.getInt(3) == 0), "nothing reaches 3 occurrences")
  }

  test("substrDedup: kept tokens are a subsequence of the original; a " +
      "window wider than every doc removes nothing") {
    val out = Dedup.substrDedup(docs, $"doc_id", $"text", w = 8)
    val joined = docs.select($"doc_id",
        TextAnalysis.tokens($"text").as("orig"))
      .join(out, "doc_id")
    // every kept token multiset is contained in the original's
    val bad = joined.filter(
      size(array_except(split($"kept_text", " "), $"orig")) > 0 &&
        $"kept_text" =!= "")
    assert(bad.isEmpty)
    assert(joined.filter($"n_tokens" =!= size($"orig")).isEmpty)
    val wide = Dedup.substrDedup(docs, $"doc_id", $"text", w = 100000)
    assert(wide.filter($"removed_tokens" =!= 0).isEmpty)
  }

  test("substrSpans: adjacent duplicated windows merge into one span; " +
      "gapped ones stay separate; spans account for every removed token") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val df = Seq(
      (1L, s"$a $a"),              // adjacent repeats -> ONE [0,16) span
      (2L, s"$a gap1 gap2 $a"),    // wait: both occurrences duplicated
      (3L, "totally unique text with nothing repeated at all")).
      toDF("id", "txt")
    val spans = Dedup.substrSpans(df, $"id", $"txt", w = 8)
      .orderBy($"doc_id", $"span_start")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.count(_._1 == 1L) == 1 && spans.find(_._1 == 1L).get ==
      ((1L, 0, 16)), s"doc1 spans: ${spans.toSeq}")
    assert(spans.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0, 8), (2L, 10, 18)), s"doc2 spans: ${spans.toSeq}")
    assert(!spans.exists(_._1 == 3L))
    // on real docs the manifest accounts exactly for substrDedup's cuts
    val cut = Dedup.substrDedup(docs, $"doc_id", $"text", w = 8)
      .select($"doc_id", $"removed_tokens")
    val acc = Dedup.substrSpans(docs, $"doc_id", $"text", w = 8)
      .groupBy($"doc_id").agg(sum($"span_tokens").as("span_sum"))
    assert(cut.join(acc, Seq("doc_id"), "left")
      .filter(coalesce($"span_sum", lit(0L)) =!= $"removed_tokens")
      .isEmpty)
  }

  test("annIngestBatch: a streaming micro-batch lands once through the " +
      "ledger, a replayed batch id skips, and the grown index serves " +
      "exactly (r16)") {
    val dir = freshDir("ann_stream_idx")
    Similarity.annIndexBuild(embs.filter($"vec_id" % 3 =!= 2),
      $"vec_id", $"embedding", dir, dim = 64, nlist = 4,
      variant = "pca", rank = 16): Unit
    val batch = embs.filter($"vec_id" % 3 === 2)
    val n1 = Similarity.annIngestBatch(spark, dir, batch,
      $"vec_id", $"embedding", "stream-7")
    assert(n1.contains(batch.count()))
    // engine replay of the committed micro-batch: ledger detects, skips
    assert(Similarity.annIngestBatch(spark, dir, batch,
      $"vec_id", $"embedding", "stream-7").isEmpty)
    // exhaustive probe + full rerank over the grown index ≡ brute force
    // over the union — the replay added nothing twice
    val got = Similarity.annTopK(spark, dir,
        embs.filter($"vec_id" < 5), $"vec_id", $"embedding",
        k = 3, nprobe = 4, rerank = 1 << 30)
      .select("query_id", "corpus_id", "rank")
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
        embs.filter($"vec_id" < 5), $"vec_id", $"embedding", k = 3)
      .select("query_id", "corpus_id", "rank")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("annDelete: tombstoned rows vanish from serving at exhaustive " +
      "settings; rebuild physically excludes them; replayed delete id " +
      "refuses; undeleted results unchanged (r17)") {
    val dir = freshDir("ann_delete_idx")
    Similarity.annIndexBuild(embs.filter($"vec_id" % 3 =!= 2),
      $"vec_id", $"embedding", dir, dim = 64, nlist = 4,
      variant = "pca", rank = 16): Unit
    Similarity.annIngest(spark, dir, embs.filter($"vec_id" % 3 === 2),
      $"vec_id", $"embedding", "grow-1"): Unit
    val deleted = embs.filter($"vec_id" % 7 === 0)
    val live = embs.filter($"vec_id" % 7 =!= 0)
    val nDel = Similarity.annDelete(spark, dir,
      deleted, $"vec_id", "takedown-1")
    assert(nDel == deleted.count())
    def topNow(): org.apache.spark.sql.DataFrame =
      Similarity.annTopK(spark, dir, embs.filter($"vec_id" < 5),
          $"vec_id", $"embedding", k = 3, nprobe = 4, rerank = 1 << 30)
        .select("query_id", "corpus_id", "rank")
    // exhaustive + full rerank over the tombstoned index ≡ brute force
    // over corpus-minus-deleted (queries themselves may be deleted docs —
    // a deleted doc may still QUERY, it just can't be RETRIEVED)
    val brute = Similarity.bruteForceTopK(live, $"vec_id", $"embedding",
        embs.filter($"vec_id" < 5), $"vec_id", $"embedding", k = 3)
      .select("query_id", "corpus_id", "rank")
    val got = topNow()
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    // a replayed delete id refuses loudly (takedown replay is detectable)
    val e = intercept[IllegalArgumentException](Similarity.annDelete(
      spark, dir, deleted, $"vec_id", "takedown-1"))
    assert(e.getMessage.contains("already committed"))
    // rebuild: PHYSICAL removal — no tombstoned id in any stored row of
    // the new generation; serving is unchanged for the undeleted
    val gen = Similarity.annRebuild(spark, dir, iters = 1)
    val storedIds = Similarity.annDataRootsOf(spark, gen)
      .map(r => spark.read.parquet(r).select("corpus_id"))
      .reduce(_ unionByName _)
    assert(storedIds.join(deleted.select($"vec_id".as("corpus_id")),
      Seq("corpus_id")).isEmpty, "rebuild re-included tombstoned rows")
    assert(storedIds.count() == live.count())
    val after = topNow()
    assert(after.exceptAll(brute).isEmpty && brute.exceptAll(after).isEmpty)
    // the folded tombledger record still refuses the delete id
    val e2 = intercept[IllegalArgumentException](Similarity.annDelete(
      spark, dir, deleted, $"vec_id", "takedown-1"))
    assert(e2.getMessage.contains("already committed"))
    // retention clean (default keepGenerations = 2): the top-level build
    // survives as the previous generation — a reader that resolved its
    // roots JUST before the rebuild still completes
    val oldRoots = Similarity.annDataRootsOf(spark, dir)
    assert(Similarity.annClean(spark, dir).isEmpty)
    assert(oldRoots.map(r => spark.read.parquet(r).count()).sum ==
      embs.count(), "retained previous generation must stay readable")
    // eager clean reclaims it; serving still exact
    val cleaned = Similarity.annClean(spark, dir, keepGenerations = 1)
    assert(cleaned.exists(_.endsWith("/data")) &&
      cleaned.exists(_.endsWith("/tombstones")), cleaned.toString)
    val afterClean = topNow()
    assert(afterClean.exceptAll(brute).isEmpty &&
      brute.exceptAll(afterClean).isEmpty)
  }

  test("writer/rebuild fence: an ingest committing mid-rebuild aborts " +
      "the rebuild (nothing lost); a rebuild committing mid-ingest " +
      "folds the entry forward (served) (r17)") {
    // side A: ingest lands while a rebuild is between corpus read and
    // marker — the rebuild must abort (its generation is missing the
    // batch) and the old root must keep serving the batch
    val dirA = freshDir("ann_fence_a")
    Similarity.annIndexBuild(embs.filter($"vec_id" % 3 =!= 2),
      $"vec_id", $"embedding", dirA, dim = 64, nlist = 4,
      variant = "pq"): Unit
    val late = embs.filter($"vec_id" % 3 === 2)
    try {
      Similarity.annRebuildBeforeCommitHook = _ =>
        Similarity.annIngest(spark, dirA, late,
          $"vec_id", $"embedding", "racer"): Unit
      val e = intercept[IllegalStateException](
        Similarity.annRebuild(spark, dirA, iters = 1))
      assert(e.getMessage.contains("concurrent ingest/delete commit"),
        e.getMessage)
    } finally Similarity.annRebuildBeforeCommitHook = _ => ()
    // nothing committed: the top level still serves, INCLUDING the racer
    assert(Similarity.annRoot(spark, dirA) == dirA)
    val got = Similarity.annTopK(spark, dirA, embs.filter($"vec_id" < 5),
        $"vec_id", $"embedding", k = 3, nprobe = 4, rerank = 1 << 30)
      .select("query_id", "corpus_id", "rank")
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
        embs.filter($"vec_id" < 5), $"vec_id", $"embedding", k = 3)
      .select("query_id", "corpus_id", "rank")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    // a re-run rebuild (no concurrency) folds the racer and commits
    val gen = Similarity.annRebuild(spark, dirA, iters = 1)
    assert(Similarity.annRoot(spark, dirA)
      .endsWith(gen.stripPrefix("file:")))

    // side B: a rebuild that snapshotted an in-flight ingest's entry
    // folds it forward — the ingest returns success, served by the new
    // generation, and a replay still refuses
    val dirB = freshDir("ann_fence_b")
    Similarity.annIndexBuild(embs.filter($"vec_id" % 3 =!= 2),
      $"vec_id", $"embedding", dirB, dim = 64, nlist = 4,
      variant = "pq"): Unit
    try {
      Similarity.annIngestBeforeFenceHook = () =>
        Similarity.annRebuild(spark, dirB, iters = 1): Unit
      val n = Similarity.annIngest(spark, dirB, late,
        $"vec_id", $"embedding", "folded-b")
      assert(n == late.count())
    } finally Similarity.annIngestBeforeFenceHook = () => ()
    assert(Similarity.annRoot(spark, dirB) != dirB,
      "the hooked rebuild must have committed")
    val gotB = Similarity.annTopK(spark, dirB, embs.filter($"vec_id" < 5),
        $"vec_id", $"embedding", k = 3, nprobe = 4, rerank = 1 << 30)
      .select("query_id", "corpus_id", "rank")
    assert(gotB.exceptAll(brute).isEmpty && brute.exceptAll(gotB).isEmpty,
      "the folded-forward batch must be served by the new generation")
    val e2 = intercept[IllegalArgumentException](Similarity.annIngest(
      spark, dirB, late, $"vec_id", $"embedding", "folded-b"))
    assert(e2.getMessage.contains("already committed"))
  }

  test("knnJoin: nprobe=nlist == independent brute force; cellSplits " +
      "skew belt is result-identical") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.knnJoin(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4)
      .select("query_id", "corpus_id", "rank")
    val pairs = embs.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .crossJoin(embs.select($"vec_id".as("corpus_id"), $"embedding".as("cv")))
      .filter($"query_id" =!= $"corpus_id")
      .withColumn("cos", Similarity.cosine($"cv", $"qv"))
    val w = Window.partitionBy("query_id")
      .orderBy($"cos".desc, $"corpus_id".asc)
    val brute = pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3).select("query_id", "corpus_id", "rank")
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
    val split = Similarity.knnJoin(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, cellSplits = 3)
      .select("query_id", "corpus_id", "rank")
    assert(split.exceptAll(got).isEmpty && got.exceptAll(split).isEmpty)
    // r16 auto mode: a tiny targetCellRows forces occupancy-derived
    // per-cell splits (every cell over the target) — result-identical
    val auto = Similarity.knnJoin(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, targetCellRows = 10)
      .select("query_id", "corpus_id", "rank")
    assert(auto.exceptAll(got).isEmpty && got.exceptAll(auto).isEmpty)
  }

  test("knnJoinPq: exhaustive probe + full rerank == knnJoin exact; " +
      "cellSplits result-identical; realistic mode emits k per query") {
    val exact = Similarity.knnJoin(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4)
      .select("query_id", "corpus_id", "rank")
    val pq = Similarity.knnJoinPq(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, dim = 64, rerank = 1 << 30)
      .select("query_id", "corpus_id", "rank")
    assert(pq.exceptAll(exact).isEmpty && exact.exceptAll(pq).isEmpty)
    val split = Similarity.knnJoinPq(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, dim = 64, rerank = 1 << 30,
        cellSplits = 3)
      .select("query_id", "corpus_id", "rank")
    assert(split.exceptAll(pq).isEmpty && pq.exceptAll(split).isEmpty)
    // r16 auto mode: occupancy-derived per-cell splits, result-identical
    val auto = Similarity.knnJoinPq(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, dim = 64, rerank = 1 << 30,
        targetCellRows = 10)
      .select("query_id", "corpus_id", "rank")
    assert(auto.exceptAll(pq).isEmpty && pq.exceptAll(auto).isEmpty)
    // OPQ-composed: rotation preserves inner products, so at exhaustive
    // settings rotated ≡ plain ≡ exact regardless of code quality
    val opq = Similarity.knnJoinPq(embs, $"vec_id", $"embedding",
        k = 3, nlist = 4, nprobe = 4, dim = 64, rerank = 1 << 30,
        opqIters = 2)
      .select("query_id", "corpus_id", "rank")
    assert(opq.exceptAll(pq).isEmpty && pq.exceptAll(opq).isEmpty)
    // realistic mode: approximate by design, but shape-contract holds —
    // k rows per query, ranks 1..k, no self pairs
    val approx = Similarity.knnJoinPq(embs, $"vec_id", $"embedding",
      k = 3, nlist = 4, nprobe = 2, dim = 64, rerank = 8)
    val n = embs.count()
    assert(approx.count() == n * 3)
    assert(approx.filter($"query_id" === $"corpus_id").isEmpty)
    assert(approx.groupBy("query_id").agg(max($"rank").as("mr"))
      .filter($"mr" =!= 3).isEmpty)
  }

  test("mutualKnnEdges keeps only reciprocated pairs, once, id_a < id_b") {
    val knn = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 3L))
      .toDF("query_id", "corpus_id")
    val edges = Similarity.mutualKnnEdges(knn)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges == Seq((1L, 2L), (3L, 4L)))
  }

  test("gopher repetition filters: top-gram fraction exceeds 1000 on " +
      "self-overlap, dup coverage counts overlapping positions once, " +
      "short docs present with zeros") {
    val docs = Seq(
      (1L, "a a a a"),      // degenerate repeat
      (2L, "a b a b c"),    // one repeated bigram, clean otherwise
      (3L, "x"),            // shorter than every order
      (4L, "p q r s t"))    // no repetition at all
      .toDF("doc_id", "text")
    val top = TextAnalysis.topNgramFraction(docs, $"doc_id", $"text",
        orders = Seq(2, 3))
      .orderBy($"doc_id", $"n")
      .select($"doc_id", $"n", $"top_cnt", $"permille")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(top == Seq(
      // "a a" occurs 3× in 4 tokens: 3·2·1000/4 = 1500 — uncapped
      (1L, 2, 3L, 1500L), (1L, 3, 2L, 1500L),
      // "a b" occurs 2× in 5 tokens: 2·2·1000/5 = 800; top trigram 1×
      (2L, 2, 2L, 800L), (2L, 3, 1L, 600L),
      (3L, 2, 0L, 0L), (3L, 3, 0L, 0L),
      (4L, 2, 1L, 400L), (4L, 3, 1L, 600L)))
    val cov = TextAnalysis.dupNgramCoverage(docs, $"doc_id", $"text",
        n = 2)
      .orderBy($"doc_id")
      .select($"doc_id", $"covered_tokens", $"permille")
      .as[(Long, Long, Long)].collect().toSeq
    assert(cov == Seq(
      // "a a" at pos 0,1,2: union [0,4) = 4 tokens, NOT 6 (overlap once)
      (1L, 4L, 1000L),
      // "a b" at pos 0,2: [0,2) ∪ [2,4) = 4 of 5
      (2L, 4L, 800L),
      (3L, 0L, 0L),
      (4L, 0L, 0L)))
  }

  test("gopherKeep: the dup-coverage family discriminates on its own — " +
      "a self-concatenated doc passes every top-gram threshold and is " +
      "dropped by dup coverage (r16)") {
    // 30 distinct tokens: top-n fraction n·1000/30 ≤ 133 passes all top
    // thresholds; self-concatenation doubles counts AND tokens (fraction
    // unchanged) while duplicating every n-gram → dup coverage ~1000‰
    val clean = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$clean $clean"), (2L, clean))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.gopherKeep(docs, $"doc_id", $"text")
      .as[Long].collect().toSet
    assert(kept == Set(2L), s"kept $kept")
    // the top-gram family ALONE (dup thresholds unreachable) keeps both:
    // the drop above is the dup family's — strictly fewer docs kept
    val topOnly = TextAnalysis.gopherKeep(docs, $"doc_id", $"text",
        dupThresholds = Seq(5 -> 1000))
      .as[Long].collect().toSet
    assert(topOnly == Set(1L, 2L), s"topOnly $topOnly")
  }

  test("ngram repetition native kernels == HOF reference forms " +
      "bit-identically (r18 pins: NgramMaxRun / NgramDupCovered)") {
    // Random docs over a small vocab (dense repetition), plus the
    // degenerate shapes: empty text (one empty token), single token,
    // self-concatenated doc, null text (both forms must score 0).
    val rnd = new scala.util.Random(18)
    val vocab = Vector("a", "b", "c", "dd", "eee", "w1", "w2", "zz")
    val rep = "p q r p q r p q r"
    val docs = (1L to 200L).map { i =>
      val len = rnd.nextInt(40)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((201L, ""), (202L, "x"), (203L, rep),
      (204L, null.asInstanceOf[String]))
    val raw = docs.toDF("doc_id", "text")
    val df = raw.select($"doc_id", $"text",
      TextAnalysis.tokens($"text").as("t"))
    for (n <- Seq(1, 2, 3, 5, 10)) {
      val cmp = df.select(
        graft.functions.NgramRepetition.maxRun($"t", n).as("nat_run"),
        TextAnalysis.maxRunCountHof(
          sort_array(TextAnalysis.ngramsOf($"t", n))).as("hof_run"),
        graft.functions.NgramRepetition.dupCovered($"t", n).as("nat_cov"),
        TextAnalysis.dupCoveredCountHof($"t", n).as("hof_cov"),
        TextAnalysis.dupNgramPermille($"text", n).as("nat_dup"),
        TextAnalysis.dupNgramPermilleHof($"text", n).as("hof_dup"))
      assert(cmp.filter($"nat_run" =!= $"hof_run" ||
        $"nat_cov" =!= $"hof_cov" ||
        $"nat_dup" =!= $"hof_dup" ||
        $"hof_run".isNull || $"hof_cov".isNull ||
        $"nat_dup".isNull =!= $"hof_dup".isNull).isEmpty,
        s"kernel diverged from HOF reference at n=$n")
    }
  }

  test("dupNgramPermille: a doc of ~2.2M repeated tokens scores the " +
      "exact integer per-mille (no int overflow past 2^31 / 1000)") {
    val tokensN = 2200000
    val doc = Seq.fill(tokensN)("ab").mkString(" ")
    val df = Seq((1L, doc)).toDF("id", "text")
    for (n <- Seq(1, 3)) {
      val w = (tokensN - n + 1).toLong // windows; all but one repeats
      val expected = (w - 1L) * 1000L / w
      assert((w - 1L) * 1000L > Int.MaxValue)
      val got = df.select(TextAnalysis.dupNgramPermille($"text", n))
        .head().getLong(0)
      assert(got == expected, s"n=$n")
    }
  }

  test("bigramCoverage: full / zero / single-token docs score " +
      "1000 / 0 / 0 permille") {
    val ref = Seq((100L, "a b c")).toDF("id", "txt")
    val docsDf = Seq((1L, "a b c"), (2L, "x y z"), (3L, "a"))
      .toDF("id", "txt")
    val lm = TextAnalysis.bigramLm(ref, $"txt", minCount = 1)
    val out = TextAnalysis.bigramCoverage(docsDf, $"id", $"txt", lm)
      .orderBy($"doc_id").collect()
    assert(out(0).getLong(3) == 1000L && out(0).getLong(2) == 2L)
    assert(out(1).getLong(3) == 0L && out(1).getLong(2) == 0L)
    assert(out(2).getInt(1) == 0 && out(2).getLong(3) == 0L)
  }

  test("stupidBackoffScores: seen bigram scores exactly, unseen backs " +
      "off to alpha x add-one unigram; tracks coverage on real docs") {
    val ref = Seq((100L, "a b a b")).toDF("id", "txt")
    // c("a b")=2, c("b a")=1; c(a)=2, c(b)=2, N=4, V=2
    val d = Seq((1L, "a b"), (2L, "b b")).toDF("id", "txt")
    val out = TextAnalysis.stupidBackoffScores(d, $"id", $"txt",
        ref, $"txt").orderBy($"doc_id").collect()
    assert(math.abs(out(0).getDouble(2) - 0.0) < 1e-12)       // log(2/2)
    assert(math.abs(out(1).getDouble(2) -
      (-math.log(0.4 * 3.0 / 6.0))) < 1e-12)
    // real docs: high-coverage docs must average more reference-like
    // (lower neg-logprob) than zero-coverage docs
    val refSlice = docs.filter($"source" === "src0")
    val cov = TextAnalysis.bigramCoverage(docs, $"doc_id", $"text",
      TextAnalysis.bigramLm(refSlice, $"text", minCount = 2))
    val ppl = TextAnalysis.stupidBackoffScores(docs, $"doc_id", $"text",
      refSlice, $"text")
    val j = cov.join(ppl, "doc_id")
    val hi = j.filter($"lm_coverage_permille" >= 800)
      .agg(avg($"avg_neg_logprob")).collect()(0)
    val lo = j.filter($"lm_coverage_permille" <= 200)
      .agg(avg($"avg_neg_logprob")).collect()(0)
    if (!hi.isNullAt(0) && !lo.isNullAt(0))
      assert(hi.getDouble(0) < lo.getDouble(0),
        s"coverage and backoff disagree: hi=${hi.getDouble(0)} " +
          s"lo=${lo.getDouble(0)}")
  }

  test("stupidBackoffScoresN: order 2 == the bigram scorer; trigram " +
      "chain matches an in-memory stupid-backoff model") {
    val refSlice = docs.filter($"source" === "src0").limit(50)
    val a = TextAnalysis.stupidBackoffScores(docs.limit(100), $"doc_id",
        $"text", refSlice, $"text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val b = TextAnalysis.stupidBackoffScoresN(docs.limit(100), $"doc_id",
        $"text", refSlice, $"text", order = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    for ((k, (n, v)) <- a) {
      assert(b(k)._1 == n, s"doc $k n_scored")
      assert(math.abs(b(k)._2 - v) < 1e-9, s"doc $k: $v vs ${b(k)._2}")
    }
    // trigram chain vs an independent in-memory model over a tiny corpus
    val refRows = Seq("a b c a b c d", "b c a")
    val docRows = Seq((1L, "a b c"), (2L, "x b c"), (3L, "x y z"),
      (4L, "b c a b"), (5L, "ab"))
    def grams(toks: Seq[String], n: Int): Seq[Seq[String]] =
      if (toks.size < n) Seq.empty else toks.sliding(n).toSeq
    val refToks = refRows.map(_.split("\\s+").toSeq)
    val cnt: Map[Int, Map[Seq[String], Long]] = (1 to 3).map(o =>
      o -> refToks.flatMap(grams(_, o)).groupBy(identity)
        .map { case (g, gs) => g -> gs.size.toLong }).toMap
    val nRef = cnt(1).values.sum.toDouble
    val vocab = cnt(1).size.toDouble
    val alpha = 0.4
    def score(g: Seq[String]): Double = {
      def at(o: Int): Option[Double] = {
        val key = g.takeRight(o)
        val ctx = key.dropRight(1)
        val c = cnt(o).get(key)
        val p = if (o == 2) cnt(1).get(Seq(ctx.head)) else cnt(o - 1).get(ctx)
        (c, p) match {
          case (Some(cv), Some(pv)) =>
            Some(math.log(math.pow(alpha, 3 - o) * cv.toDouble / pv))
          case _ => None
        }
      }
      at(3).orElse(at(2)).getOrElse(
        math.log(math.pow(alpha, 2) *
          (cnt(1).getOrElse(Seq(g.last), 0L) + 1).toDouble / (nRef + vocab)))
    }
    val want = docRows.flatMap { case (id, t) =>
      val gs = grams(t.split("\\s+").toSeq, 3)
      if (gs.isEmpty) None
      else Some(id -> (gs.size.toLong, -gs.map(score).sum / gs.size))
    }.toMap
    val got = TextAnalysis.stupidBackoffScoresN(
        docRows.toDF("id", "txt"), $"id", $"txt",
        refRows.map(Tuple1(_)).toDF("txt"), $"txt", order = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == want.keySet)
    for ((k, (n, v)) <- want) {
      assert(got(k)._1 == n, s"doc $k n_scored: want $n got ${got(k)._1}")
      assert(math.abs(got(k)._2 - v) < 1e-9,
        s"doc $k: want $v got ${got(k)._2}")
    }
  }

  test("ngramCoverage at order 2 == bigramCoverage") {
    val refSlice = docs.filter($"source" === "src0")
    val a = TextAnalysis.bigramCoverage(docs, $"doc_id", $"text",
        TextAnalysis.bigramLm(refSlice, $"text", minCount = 2))
      .withColumnRenamed("n_bigrams", "n_ngrams")
      .withColumnRenamed("known_bigrams", "known_ngrams")
    val b = TextAnalysis.ngramCoverage(docs, $"doc_id", $"text",
      TextAnalysis.ngramLm(refSlice, $"text", n = 2, minCount = 2), n = 2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("LSH top-k: self bucket always contains the query itself") {
    val queries = embs.filter($"vec_id" < 5)
    val topk = Similarity.lshTopK(
      embs, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 3, dim = 64, planes = 6)
    val self = topk.filter($"rank" === 1)
    assert(self.filter($"query_id" =!= $"corpus_id").isEmpty)
  }

  test("quality metrics are integer-exact and bounded") {
    val q = TextAnalysis.withQuality(docs, $"text")
    assert(q.filter($"punct_permille" < 0 || $"punct_permille" > 1000).isEmpty)
    assert(q.filter($"stopword_permille" < 0 || $"stopword_permille" > 1000).isEmpty)
    assert(q.filter($"quality_score" % 100 =!= 0).isEmpty)
    assert(q.filter($"n_chars" =!= length($"text")).isEmpty)
  }

  test("lang id is deterministic and covers all docs") {
    val l = TextAnalysis.withLangId(docs, $"text")
    assert(l.filter($"lang_pred".isNull).isEmpty)
    assert(l.count() == docs.count())
    val l2 = TextAnalysis.withLangId(docs, $"text")
    assert(l.select("doc_id", "lang_pred")
      .exceptAll(l2.select("doc_id", "lang_pred")).isEmpty)
  }

  test("winnowing: shared substrings guarantee shared fingerprints; short docs empty") {
    val data = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "PREFIX the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely unrelated text with different characters entirely"),
      (4L, "tiny")).toDF("doc_id", "text")
    val fps = data.select($"doc_id",
      TextAnalysis.winnowFingerprints($"text").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: shared substring of length >= k+w-1 (12) shares
    // at least one fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert(fps(4L).isEmpty, "docs shorter than k+w-1 chars have no windows")
    assert(fps(1L).nonEmpty && fps(3L).nonEmpty)
  }

  test("image codec: PNG encode→decode round trip matches closed form") {
    val rows = Multimodal.imageDimsRoundtrip(
      docs.limit(40).select($"doc_id"), $"doc_id").collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = 16 + (id % 17); val h = 16 + (id % 13)
      assert(r.getLong(1) == w && r.getLong(2) == h)
      val pxRow = (0L until w).map(x => (x + id) % 256).sum
      assert(r.getLong(3) == h * pxRow,
        s"raster checksum mismatch for id=$id")
    }
  }

  test("image codec: undecodable payloads are dropped, real ones decoded") {
    val mixed = Seq(
      (1L, Multimodal.encodePng(7, 5, (x, y) => x * y)),
      (2L, Array[Byte](1, 2, 3)),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "content")
    val out = Multimodal.decodeImageDims(mixed, $"media_id", $"content")
      .collect()
    assert(out.map(_.media_id).toSeq == Seq(1L))
    assert(out.head.width == 7 && out.head.height == 5)
  }

  test("audio codec: WAV encode→decode round trip matches closed form") {
    val rows = Multimodal.audioFactsRoundtrip(
      docs.limit(40).select($"doc_id"), $"doc_id").collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val id = r.getLong(0)
      val n = 256 + (id % 64) * 4
      val k = 1 + id % 31
      assert(r.getLong(1) == 8000L && r.getLong(2) == n)
      val ampSum = (0L until n).map(i => (i * k) % 4096 - 2048).sum
      assert(r.getLong(3) == ampSum, s"waveform checksum mismatch for id=$id")
    }
    // undecodable payloads dropped
    val junk = Seq((9L, Array[Byte](9, 9, 9))).toDF("media_id", "content")
    assert(Multimodal.decodeAudioFacts(junk, $"media_id", $"content").isEmpty)
  }

  test("image features: decoded-intensity histogram is exact on a known image") {
    // 16×16 image, pixel = x*16+y covers every intensity 0..255 exactly once
    val png = Multimodal.encodePng(16, 16, (x, y) => x * 16 + y)
    val media = Seq((7L, png), (8L, Array[Byte](0, 1))).toDF("media_id", "content")
    val feats = Multimodal.imageHistogramFeatures(
      media, $"media_id", $"content", bins = 16).collect()
    assert(feats.map(_.media_id).toSeq == Seq(7L), "junk payload dropped")
    val f = feats.head.features
    assert(f.length == 16)
    // uniform coverage → every bin holds exactly 16/256 of the mass
    assert(f.forall(v => math.abs(v - 1.0f / 16) < 1e-6))
  }

  test("image resize: real decode→rescale→re-encode round trip") {
    val media = Seq(
      (1L, Multimodal.encodePng(30, 20, (x, y) => x * 7 + y)),
      (2L, Array[Byte](1, 2, 3))).toDF("media_id", "content")
      .select(col("media_id"), lit("image").as("kind"),
        lit(30).as("width"), lit(20).as("height"),
        lit(0L).as("duration_ms"), col("content"))
    val resized = Multimodal.resizeImages(
      Multimodal.fromBinary(media), 15, 10)
    val dims = Multimodal.decodeImageDims(
      resized.toDF().select(col("media_id"), col("content")),
      col("media_id"), col("content")).collect()
    // the real image decodes back at the NEW dimensions; junk passed through
    assert(dims.map(d => d.media_id -> (d.width, d.height)).toMap ==
      Map(1L -> ((15L, 10L))))
    assert(resized.filter(_.media_id == 2L).head().content.length == 3)
  }

  test("dedup lazy mode: no checkpoint, filter pushes into the plan, same rows") {
    import org.apache.spark.sql.execution.LogicalRDD
    def pairs(materialize: Boolean) = Dedup.winnowPairs(docs, $"doc_id",
      $"text", blocking = lit(1), ratioPermille = Some(300),
      materialize = materialize)
    val eager = pairs(materialize = true)
    val lzy = pairs(materialize = false)
    // default mode materializes via localCheckpoint (LogicalRDD leaf);
    // lazy mode stays a declarative plan end-to-end — nothing was written
    assert(eager.queryExecution.analyzed
      .collect { case l: LogicalRDD => l }.nonEmpty)
    assert(lzy.queryExecution.analyzed
      .collect { case l: LogicalRDD => l }.isEmpty)
    // a downstream id filter prunes BEFORE anything materializes: it reaches
    // the parquet scan as a pushed doc_id predicate (impossible after an
    // eager checkpoint, whose input already materialized the full output)
    val filtered = lzy.filter($"id_a" === 123L)
    val scans = filtered.queryExecution.executedPlan.toString
    assert(scans.contains("EqualTo(doc_id,123)"),
      s"doc_id equality not pushed to the parquet scan:\n$scans")
    assert(lzy.as[(Long, Long, Long)].collect().toSet ==
      eager.as[(Long, Long, Long)].collect().toSet)
  }

  test("video codec: multi-frame GIF round trip is exact per frame") {
    // 3 ids with different frame counts/dims; pixel = (x + 7f + id) mod 256
    val ids = Seq(3L, 10L, 17L).toDF("doc_id")
    val rows = Multimodal.videoFramesRoundtrip(ids, $"doc_id")
      .orderBy($"media_id", $"frame_idx").collect()
    val expect = for {
      id <- Seq(3L, 10L, 17L)
      w = 8 + (id % 9).toInt; h = 8 + (id % 7).toInt; n = 2 + (id % 4).toInt
      f <- 0 until n
    } yield (id, f.toLong, w.toLong, h.toLong,
      h.toLong * (0 until w).map(x => (x + 7L * f + id) % 256).sum)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == expect)
  }

  test("video: real frame sampling by container delay metadata") {
    // 5 frames at 100 ms each (delay 10 cs); sampling every 200 ms keeps
    // frames 0, 2, 4 at playback timestamps 0, 200, 400.
    val gif = Multimodal.encodeGif(12, 8, frames = 5, delayCs = 10,
      (f, x, _) => (x * 10 + f) % 256)
    val media = Seq((1L, "video", 12, 8, 500L, gif),
        (2L, "video", 1, 1, 0L, Array[Byte](9, 9)), // undecodable: dropped
        (3L, "image", 1, 1, 0L, gif)) // non-video: filtered
      .toDF("media_id", "kind", "width", "height", "duration_ms", "content")
    val frames = Multimodal.sampleFrames(Multimodal.fromBinary(media),
      everyMs = 200).collect().sortBy(_.frameIdx)
    assert(frames.map(f => (f.media_id, f.frameIdx, f.tsMs)).toSeq ==
      Seq((1L, 0, 0L), (1L, 2, 200L), (1L, 4, 400L)))
    // each sampled frame re-encoded as a REAL PNG of the frame's pixels
    val dims = Multimodal.decodeImageDims(
      frames.toSeq.toDF("media_id", "frameIdx", "tsMs", "content")
        .select($"frameIdx".as("media_id"), $"content"),
      col("media_id"), col("content")).collect()
    assert(dims.map(d => (d.width, d.height)).distinct.toSeq == Seq((12L, 8L)))
    // frame f pixel = (10x + f) mod 256, constant per column → closed sum
    assert(dims.sortBy(_.media_id).map(_.px_sum).toSeq ==
      Seq(0, 2, 4).map(f => 8L * (0 until 12).map(x => (x * 10 + f) % 256).sum))
  }

  test("video resize: per-frame rescale preserves frame count and delays") {
    val gif = Multimodal.encodeGif(20, 14, frames = 4, delayCs = 7,
      (f, x, y) => (x + y + f) % 256)
    val media = Seq((1L, "video", 20, 14, 280L, gif),
        (2L, "video", 1, 1, 0L, Array[Byte](1))) // undecodable: pass-through
      .toDF("media_id", "kind", "width", "height", "duration_ms", "content")
    val resized = Multimodal.resizeVideos(Multimodal.fromBinary(media), 10, 7)
      .collect().sortBy(_.media_id)
    assert(resized(1).content.length == 1, "undecodable passes through")
    val out = Multimodal.decodeVideoFrames(
      Seq((1L, resized(0).content)).toDF("media_id", "content"),
      col("media_id"), col("content")).collect()
    assert(out.length == 4)
    assert(out.forall(f => f.width == 10 && f.height == 7))
    // delays survive the re-encode: sampling every 140 ms (= 2 frames at
    // 70 ms) keeps frames 0 and 2
    val frames = Multimodal.sampleFrames(Multimodal.fromBinary(
        Seq((1L, "video", 10, 7, 280L, resized(0).content))
          .toDF("media_id", "kind", "width", "height", "duration_ms", "content")),
      everyMs = 140).collect()
    assert(frames.map(_.frameIdx).sorted.toSeq == Seq(0, 2))
  }

  test("video resize: a ONE-frame video keeps its GIF container and delay") {
    val oneFrame = Multimodal.encodeGif(6, 4, frames = 1, delayCs = 9,
      (f, x, y) => (x * 4 + y) % 256)
    val media = Seq((1L, "video", 6, 4, 90L, oneFrame))
      .toDF("media_id", "kind", "width", "height", "duration_ms", "content")
    val resized = Multimodal.resizeVideos(Multimodal.fromBinary(media), 12, 8)
      .collect().head
    assert(new String(resized.content.take(3), "US-ASCII") == "GIF",
      "single-frame video must not silently become a PNG on resize")
    // and it still decodes as a (one-frame) sequence at the new dims
    val out = Multimodal.decodeVideoFrames(
      Seq((1L, resized.content)).toDF("media_id", "content"),
      col("media_id"), col("content")).collect()
    assert(out.length == 1 && out.head.width == 12 && out.head.height == 8)
  }

  test("multimodal: real feature extraction across modalities") {
    // image: 16×16 PNG covering every intensity once → uniform histogram
    val png = Multimodal.encodePng(16, 16, (x, y) => x * 16 + y)
    // video: 2-frame GIF, all pixels 0 → all mass in bin 0
    val gif = Multimodal.encodeGif(8, 8, frames = 2, delayCs = 4,
      (_, _, _) => 0)
    // audio: WAV with samples −32768 (bin 0) and 32767 (bin 7), half each
    val wav = Multimodal.encodeWav(8000,
      Array.tabulate(64)(i => if (i % 2 == 0) Short.MinValue else Short.MaxValue))
    val media = Seq(
        (1L, "image", 16, 16, 0L, png), (2L, "video", 8, 8, 80L, gif),
        (3L, "audio", 0, 0, 8L, wav), (4L, "junk", 0, 0, 0L, Array[Byte](5)))
      .toDF("media_id", "kind", "width", "height", "duration_ms", "content")
    val feats = Multimodal.extractFeatures(Multimodal.fromBinary(media), dim = 8)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L, 3L), "junk dropped")
    assert(feats.forall(_.features.length == 8))
    assert(feats(0).features.forall(v => math.abs(v - 0.125f) < 1e-6))
    assert(feats(1).features.head == 1.0f &&
      feats(1).features.tail.forall(_ == 0.0f))
    assert(math.abs(feats(2).features.head - 0.5f) < 1e-6 &&
      math.abs(feats(2).features.last - 0.5f) < 1e-6)
    val stats = Multimodal.stats(media)
    assert(stats.count() == 4)
  }

  test("segmentDedup drops non-first duplicated segments, keeps tails") {
    val df = Seq(
      (1L, "a b c d e f g"),       // seg "a b c d e" first occ, tail "f g"
      (2L, "a b c d e x y z w v"), // seg1 duplicated (dropped), seg2 unique
      (3L, "p q r"),               // zero segments: tail passes through
      (4L, "a b c d e")            // duplicated seg, no tail → empty text
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, $"doc_id", $"text", width = 5)
      .orderBy($"doc_id").collect()
    assert(out(0).getString(1) == "a b c d e f g")
    assert(out(0).getLong(2) == 1L && out(0).getLong(3) == 0L)
    assert(out(1).getString(1) == "x y z w v")
    assert(out(1).getLong(2) == 2L && out(1).getLong(3) == 1L)
    assert(out(2).getString(1) == "p q r" && out(2).getLong(2) == 0L)
    assert(out(3).getString(1) == "" && out(3).getLong(3) == 1L)
  }

  test("segmentDedup keepFirst=false removes every duplicated occurrence") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, $"doc_id", $"text", width = 5,
        keepFirst = false)
      .orderBy($"doc_id").collect()
    assert(out.forall(_.getString(1) == ""))
    assert(out.forall(_.getLong(3) == 1L))
  }

  test("segmentDedup delim mode: EXACT lines (case preserved, empties " +
      "participate), kept lines re-joined verbatim, no tail") {
    val df = Seq(
      (1L, "Hello World\nfoo bar\nunique one"),  // both dup lines: first
      (2L, "foo bar\nHello World\nother line"),  // drops both dup lines
      (3L, "solo\n\nsolo2"),                     // blank line = a segment
      (4L, "solo\n\nsolo2")                      // exact dup: all drop
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, $"doc_id", $"text",
        minDupCount = 2, delim = Some("\n"))
      .orderBy($"doc_id").collect()
    assert(out(0).getString(1) == "Hello World\nfoo bar\nunique one")
    assert(out(0).getLong(2) == 3L && out(0).getLong(3) == 0L)
    assert(out(1).getString(1) == "other line")
    assert(out(1).getLong(3) == 2L)
    assert(out(2).getString(1) == "solo\n\nsolo2")
    assert(out(3).getString(1) == "" && out(3).getLong(3) == 3L)
  }

  test("hot-key armor (engaged via hotMinCount = 1) is verdict-identical " +
      "to the plain keep/mark joins") {
    val df = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e x y z w v"),
      (3L, "a b c d e"),
      (4L, "p q r s t")
    ).toDF("doc_id", "text")
    val plain = Dedup.segmentDedup(df, $"doc_id", $"text", width = 5,
      hotN = 0).orderBy($"doc_id").collect().toSeq
    val armored = Dedup.segmentDedup(df, $"doc_id", $"text", width = 5,
      hotN = 8, hotMinCount = 1L).orderBy($"doc_id").collect().toSeq
    assert(armored == plain)
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val sdf = Seq((1L, s"aa bb $span cc"), (2L, s"xx $span yy"),
      (3L, "unique tokens only here nothing repeats at all ok"))
      .toDF("doc_id", "text")
    val p2 = Dedup.substrDedup(sdf, $"doc_id", $"text", w = 8,
      hotN = 0).orderBy($"doc_id").collect().toSeq
    val a2 = Dedup.substrDedup(sdf, $"doc_id", $"text", w = 8,
      hotN = 8, hotMinCount = 1L).orderBy($"doc_id").collect().toSeq
    assert(a2 == p2)
  }

  test("segmentDedup matches an in-memory model on the real corpus") {
    val W = 5
    val rows = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
    val occs = rows.flatMap { case (id, t) =>
      (0 until t.length / W).map(i =>
        (id, i, t.slice(i * W, i * W + W).mkString(" ")))
    }
    val byIdPos = occs.groupBy(_._3).map { case (s, os) =>
      s -> (os.length, os.map(o => (o._1, o._2)).min)
    }
    val expected = rows.map { case (id, t) =>
      val n = t.length / W
      val kept = (0 until n)
        .map(i => (i, t.slice(i * W, i * W + W).mkString(" ")))
        .filter { case (i, s) =>
          val (c, first) = byIdPos(s); c < 2 || first == (id, i) }
      val tail = t.drop(n * W).mkString(" ")
      val text = Seq(kept.map(_._2).mkString(" "), tail)
        .filter(_.nonEmpty).mkString(" ")
      (id, text, n.toLong, (n - kept.length).toLong)
    }.sortBy(_._1)
    val got = Dedup.segmentDedup(docs, $"doc_id", $"text", width = W)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected.toSeq)
    assert(expected.map(_._4).sum > 0,
      "corpus carries no duplicated segments — the gate would be vacuous")
  }

  test("pcaTrain components are orthonormal with descending variances") {
    val m = Similarity.pcaTrain(embs, $"vec_id", $"embedding",
      dim = 64, rank = 64)
    for (i <- 0 until 64; j <- i until 64) {
      val d = (0 until 64).map(c => m.components(i)(c) * m.components(j)(c)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-8, s"component dot ($i,$j) = $d")
    }
    assert(m.variances == m.variances.sortBy(-_), "variances descending")
    assert(m.variances.forall(_ > -1e-9), "covariance eigenvalues nonneg")
  }

  test("full-rank uncentered PCA projection preserves pairwise dots") {
    val m = Similarity.pcaTrain(embs, $"vec_id", $"embedding",
      dim = 64, rank = 64, center = false)
    val sample = embs.filter($"vec_id" < 8)
      .select($"vec_id", $"embedding",
        Similarity.pcaProject($"embedding", m).as("pv"))
      .collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble),
        r.getSeq[Float](2).map(_.toDouble)))
    for (a <- sample; b <- sample) {
      val d0 = a._1.zip(b._1).map { case (x, y) => x * y }.sum
      val d1 = a._2.zip(b._2).map { case (x, y) => x * y }.sum
      assert(math.abs(d0 - d1) < 1e-3 * math.max(1.0, math.abs(d0)),
        s"dot drift $d0 vs $d1")
    }
  }

  test("pcaTopK at full rerank equals brute-force top-k") {
    val queries = embs.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 5)
      .select($"query_id", $"corpus_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pca = Similarity.pcaTopK(embs, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 5, dim = 64, rank = 12,
        center = false, rerank = 1 << 30)
      .select($"query_id", $"corpus_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pca == brute)
  }

  test("PCA-composed IVF-PQ: exhaustive probe + full rerank equals " +
      "brute force; rotation is rank x dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpca")
      .toString
    val (rot, cents, books) = Similarity.ivfPcaWrite(embs, $"vec_id",
      $"embedding", s"$dir/data", dim = 64, rank = 16, nlist = 4,
      m = 8, ksub = 16, iters = 1)
    assert(rot.size == 16 && rot.head.size == 64)
    val queries = embs.filter($"vec_id" < 10)
    val got = Similarity.ivfPqTopKFromTable(spark, s"$dir/data", cents,
        books, queries, $"vec_id", $"embedding", k = 5, dim = 16,
        nprobe = cents.size, rerank = 1 << 30, rotation = Some(rot))
      .select($"query_id", $"corpus_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(embs, $"vec_id", $"embedding",
        queries, $"vec_id", $"embedding", k = 5)
      .select($"query_id", $"corpus_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
  }

  test("ridgeFit recovers an exact linear relationship") {
    val df = Seq.tabulate(50) { i =>
      val x1 = (i % 7).toDouble; val x2 = (i % 11).toDouble
      (i.toLong, x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2)
    }.toDF("id", "x1", "x2", "y")
    val m = Models.ridgeFit(df, Seq($"x1", $"x2"), $"y", lambda = 1e-12)
    val want = Seq(2.0, 3.0, -0.5)
    m.weights.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"weights ${m.weights} != $want") }
  }

  test("ridgeFit matches an in-memory normal-equations solve; shrinkage " +
      "is monotone in lambda") {
    val feats = Seq($"n_chars".cast("double"),
      size(split(trim(lower($"text")), "\\s+")).cast("double"))
    val label = ($"lang" === "en").cast("double")
    val rows = docs.select(feats :+ (label.as("y")): _*).collect()
      .map(r => (Array(1.0, r.getDouble(0), r.getDouble(1)), r.getDouble(2)))
    def local(lambda: Double): Seq[Double] = {
      val p = 3
      val a = breeze.linalg.DenseMatrix.zeros[Double](p, p)
      val b = breeze.linalg.DenseVector.zeros[Double](p)
      rows.foreach { case (z, y) =>
        for (i <- 0 until p; j <- 0 until p) a(i, j) += z(i) * z(j)
        for (i <- 0 until p) b(i) += z(i) * y
      }
      for (i <- 1 until p) a(i, i) += lambda * rows.length
      (a \ b).toArray.toSeq
    }
    val m = Models.ridgeFit(docs, Seq($"n_chars",
      size(split(trim(lower($"text")), "\\s+"))), label, lambda = 1e-3)
    m.weights.zip(local(1e-3)).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6 * math.max(1.0, math.abs(w)),
        s"distributed ${m.weights} != local ${local(1e-3)}") }
    def l2(ws: Seq[Double]): Double =
      math.sqrt(ws.tail.map(w => w * w).sum)
    val norms = Seq(1e-3, 1.0, 1000.0).map(l =>
      l2(Models.ridgeFit(docs, Seq($"n_chars",
        size(split(trim(lower($"text")), "\\s+"))), label, lambda = l)
        .weights))
    assert(norms == norms.sortBy(-_),
      s"shrinkage not monotone in lambda: $norms")
  }

  test("logisticFit separates a separable set and matches in-memory IRLS") {
    val df = Seq.tabulate(80) { i =>
      val x = (i % 16).toDouble
      (i.toLong, x, if (x >= 8.0) 1.0 else 0.0)
    }.toDF("id", "x", "y")
    val m = Models.logisticFit(df, Seq($"x"), $"y", lambda = 1e-4,
      iters = 10)
    // every point classified correctly (score sign vs 0.5 boundary: the
    // logit is positive iff mu > 0.5)
    val preds = df.select($"y",
        Models.score(m, Seq($"x")).as("eta")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(preds.forall { case (y, eta) => (eta > 0) == (y == 1.0) })
    // distributed IRLS ≡ an independent in-memory IRLS on the same data
    val rows = df.select($"x", $"y").collect()
      .map(r => (Array(1.0, r.getDouble(0)), r.getDouble(1)))
    var w = Array(0.0, 0.0)
    for (_ <- 0 until 10) {
      val a = breeze.linalg.DenseMatrix.zeros[Double](2, 2)
      val b = breeze.linalg.DenseVector.zeros[Double](2)
      rows.foreach { case (z, y) =>
        val eta = z(0) * w(0) + z(1) * w(1)
        val mu = 1.0 / (1.0 + math.exp(-eta))
        val s = math.max(mu * (1.0 - mu), 1e-6)
        for (i <- 0 until 2; j <- 0 until 2) a(i, j) += s * z(i) * z(j)
        for (i <- 0 until 2) b(i) += z(i) * (s * eta + y - mu)
      }
      a(1, 1) += 1e-4 * rows.length
      w = (a \ b).toArray
    }
    m.weights.zip(w).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6 * math.max(1.0, math.abs(e)),
        s"distributed ${m.weights} != local ${w.toSeq}") }
  }

  test("scoreQ is the exact integer dot product of the quantized weights") {
    val m = Models.LinearModel(Seq(0.5, 2.0, -1.0), 1000000L,
      Seq(500000L, 2000000L, -1000000L))
    val df = Seq((1L, 3L, 7L), (2L, 0L, -4L)).toDF("id", "f1", "f2")
    val got = df.select($"id", Models.scoreQ(m, Seq($"f1", $"f2")).as("s"))
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      (1L, 500000L + 3L * 2000000L + 7L * -1000000L),
      (2L, 500000L + 0L + -4L * -1000000L)))
  }

  test("centered PCA reconstruction error is monotone in rank") {
    val xs = embs.select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    def err(rank: Int): Double = {
      val m = Similarity.pcaTrain(embs, $"vec_id", $"embedding",
        dim = 64, rank = rank)
      xs.map { x =>
        val c = x.zip(m.mean).map { case (v, mu) => v - mu }
        val proj = m.components.map(row =>
          row.zip(c).map { case (a, b) => a * b }.sum)
        val rec = (0 until 64).map(j =>
          m.components.indices.map(i => m.components(i)(j) * proj(i)).sum)
        c.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum / xs.length
    }
    val (e4, e16, e64) = (err(4), err(16), err(64))
    assert(e4 >= e16 - 1e-9 && e16 >= e64 - 1e-9,
      s"reconstruction error not monotone: $e4, $e16, $e64")
    assert(e64 < 1e-6, s"full-rank reconstruction should be exact, got $e64")
  }
}
