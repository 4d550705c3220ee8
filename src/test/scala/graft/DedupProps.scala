package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Property-based check: ngramJaccardPairs over random word-soup docs must
  * equal the in-memory string-shingle model (xxhash64 shingle collisions
  * are negligible at these sizes). */
object DedupProps extends Properties("Dedup.ngramJaccard") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(1, 12)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  private def shingles(text: String, n: Int): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    val windows = math.max(toks.size - n, 0) + 1
    (0 until windows).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  property("equals the in-memory shingle-set model") =
    Prop.forAll(Gen.listOfN(8, genDoc), Gen.choose(1, 3)) { (docs, n) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val threshold = 300
      val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"),
          blocking = lit(1), n = n, thresholdPermille = threshold)
        .select("id_a", "id_b", "jaccard_permille")
        .as[(Long, Long, Long)].collect().toSet

      val want = (for {
        a <- docs.indices
        b <- docs.indices if a < b
        sa = shingles(docs(a), n)
        sb = shingles(docs(b), n)
        inter = (sa & sb).size
        j = math.floorDiv(inter * 1000L, math.max((sa | sb).size, 1))
        if j >= threshold && inter > 0
      } yield (a.toLong, b.toLong, j)).toSet

      got == want
    }

  /** The PPJoin-style prefix filter must be lossless: the shipped operator
    * and the full-inverted-index formulation agree on every random corpus
    * and threshold. */
  property("prefix filter == full inverted index") =
    Prop.forAll(Gen.listOfN(10, genDoc), Gen.choose(1, 3),
        Gen.oneOf(100, 300, 500, 700, 900)) { (docs, n, threshold) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pref = Dedup.ngramJaccardPairs(df, col("doc_id"), col("text"),
          blocking = lit(1), n = n, thresholdPermille = threshold)
        .as[(Long, Long, Long)].collect().toSet
      val full = Dedup.ngramJaccardPairsFullIndex(df, col("doc_id"),
          col("text"), blocking = lit(1), n = n,
          thresholdPermille = threshold)
        .as[(Long, Long, Long)].collect().toSet
      pref == full
    }

  /** winnowPairs' prefix filter must be lossless in BOTH threshold modes:
    * the shipped prefix-index operator equals the independent all-pairs
    * formulation on every random corpus. Docs repeat fragments so shared
    * fingerprints actually occur. */
  property("winnow prefix == all-pairs (absolute and ratio modes)") =
    Prop.forAll(Gen.listOfN(8, genWinnowDoc), Gen.choose(1, 6),
        Gen.oneOf(100, 300, 500, 800)) { (docs, minShared, permille) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def collectPairs(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Long)].collect().toSet
      val absPref = collectPairs(Dedup.winnowPairs(df, col("doc_id"),
        col("text"), blocking = lit(1), minShared = minShared))
      val absFull = collectPairs(Dedup.winnowPairsAllPairs(df, col("doc_id"),
        col("text"), blocking = lit(1), minShared = minShared))
      val ratPref = collectPairs(Dedup.winnowPairs(df, col("doc_id"),
        col("text"), blocking = lit(1), ratioPermille = Some(permille)))
      val ratFull = collectPairs(Dedup.winnowPairsAllPairs(df, col("doc_id"),
        col("text"), blocking = lit(1), ratioPermille = Some(permille)))
      (absPref == absFull) :| s"absolute: $absPref vs $absFull" &&
        (ratPref == ratFull) :| s"ratio: $ratPref vs $ratFull"
    }

  /** Docs long enough for winnowing (k=5, w=8 needs ≥12 chars), built from
    * a small fragment pool so cross-doc shared substrings are common. */
  private val genWinnowDoc: Gen[String] = for {
    n <- Gen.choose(2, 6)
    frags <- Gen.listOfN(n,
      Gen.oneOf("the quick brown fox", "lorem ipsum dolor sit",
        "pack my box with", "jumps over the lazy dog",
        "sphinx of black quartz"))
  } yield frags.mkString(" ")

  /** The absolute-mode dfCap contract: capped output is a SUBSET of the
    * lossless output (verification stays exact, so the cap can only lose
    * recall, never precision), and a cap at least as large as the corpus
    * is inactive (capped == uncapped, since no posting can exceed it). */
  property("winnow dfCap: subset of lossless; inactive cap == lossless") =
    Prop.forAll(Gen.listOfN(8, genWinnowDoc), Gen.choose(1, 6),
        Gen.choose(2, 4)) { (docs, minShared, cap) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def run(dfCap: Option[Int]) =
        Dedup.winnowPairs(df, col("doc_id"), col("text"),
            blocking = lit(1), minShared = minShared, dfCap = dfCap)
          .as[(Long, Long, Long)].collect().toSet
      val lossless = run(None)
      val capped = run(Some(cap))
      val inactive = run(Some(docs.size))
      (capped.subsetOf(lossless) :|
        s"capped $capped must be a subset of lossless $lossless") &&
        ((inactive == lossless) :|
          s"cap >= corpus size must be lossless: $inactive vs $lossless")
    }

  /** REFERENCE form of [[Dedup.winnowPrefix]]'s dfCap stage (the r17
    * rank window) — kept for the bit-identity pin below. */
  private def winnowPrefixCapViaWindow(prefix0: DataFrame,
      cap: Int): DataFrame = {
    val wCap = Window.partitionBy("block", "fp").orderBy(col("id").asc)
    prefix0.withColumn("__pn", row_number().over(wCap))
      .filter(col("__pn") <= cap).drop("__pn")
  }

  /** r18: the dfCap posting truncation moved from a rank window to the
    * bounded MinKAgg heap aggregate — the kept (id, block, fp, sz) rows
    * must be IDENTICAL to the window form (ids unique per posting, so
    * the smallest-cap set is deterministic in both). */
  property("winnow dfCap: MinKAgg posting cap == rank-window form") =
    Prop.forAll(Gen.listOfN(8, genWinnowDoc), Gen.choose(1, 6),
        Gen.choose(2, 4)) { (docs, minShared, cap) =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val base = Dedup.winnowBase(df, col("doc_id"), col("text"),
          blocking = lit(1), k = 5, w = 8)
        .filter(size(col("fps")) >= minShared)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select(col("id"), col("block").cast("long"), col("fp"), col("sz"))
          .as[(Long, Long, Long, Long)].collect().toSet
      val agg = rows(Dedup.winnowPrefix(base, minShared, None, Some(cap)))
      val win = rows(winnowPrefixCapViaWindow(
        Dedup.winnowPrefix(base, minShared, None, None), cap))
      (agg == win) :| s"aggregate cap $agg != window cap $win"
    }

  /** Transitive clusters must equal an in-memory union-find over the same
    * random edge set — chains, cycles, self-loops, duplicate edges and
    * multi-component graphs all land on smallest-reachable-id labels. */
  property("clusters == in-memory union-find") =
    Prop.forAll(
        Gen.choose(1, 30).flatMap(nv => Gen.listOf(
          Gen.zip(Gen.choose(0L, nv.toLong), Gen.choose(0L, nv.toLong))))) {
      edges =>
        import spark.implicits._
        val df = (if (edges.isEmpty) Seq((0L, 0L)) else edges)
          .toDF("id_a", "id_b")
        val got = Dedup.clusters(df, col("id_a"), col("id_b"))
          .as[(Long, Long)].collect().toMap

        // union-find model
        val verts = (if (edges.isEmpty) Seq((0L, 0L)) else edges)
          .flatMap { case (a, b) => Seq(a, b) }.distinct
        val parent = scala.collection.mutable.Map(
          verts.map(v => v -> v): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x
          else { val r = find(parent(x)); parent(x) = r; r }
        (if (edges.isEmpty) Seq((0L, 0L)) else edges).foreach {
          case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = verts.map(v => v -> find(v)).toMap
        (got == want) :| s"got $got, want $want"
    }

  /** r16 form of the bucket cap, the reference for
    * [[Dedup.cappedIds]]: keep the `maxBucket` smallest ids per
    * (band, bucket) — `row_number() OVER (PARTITION BY band, bucket
    * ORDER BY id) <= maxBucket`. */
  private def capBucketsViaWindow(bucketed: DataFrame,
      maxBucket: Int): DataFrame = {
    val w = Window.partitionBy("band", "bucket").orderBy(col("id").asc)
    bucketed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket).drop("__rn")
  }

  /** r16 pair generators over a capped bucket stream, the references for
    * [[Dedup.candidatePairs]] / [[Dedup.candidatePairsHomeProbe]]. */
  private def candidatePairsViaSelfJoin(bucketed: DataFrame,
      maxBucket: Int): DataFrame =
    capBucketsViaWindow(bucketed, maxBucket).as("x")
      .join(capBucketsViaWindow(bucketed, maxBucket).as("y"),
        Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  private def candidatePairsHomeProbeViaSelfJoin(
      bucketed: DataFrame, maxBucket: Int): DataFrame =
    capBucketsViaWindow(bucketed, maxBucket).as("x")
      .join(capBucketsViaWindow(bucketed, maxBucket).as("y"),
        Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id") &&
        (col("x.p") === 0 || col("y.p") === 0))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** r17: the MinKAgg bucket-cap + in-row pair explosion must reproduce
    * the r16 rank-window + self-join pair set exactly, in both the plain
    * and the home/probe variant (random co-bucket streams, small caps so
    * the cap actually bites; ids unique per bucket by construction —
    * the callers' invariant). */
  property("candidatePairs (MinKAgg form) == window+self-join reference") =
    Prop.forAll(
        Gen.choose(1, 4), // bands
        Gen.choose(1, 3), // distinct buckets per band
        Gen.choose(1, 5), // maxBucket cap
        Gen.choose(1, 12) // ids
      ) { (bands, buckets, cap, nIds) =>
      import spark.implicits._
      val rows = (for {
        b <- 0 until bands
        k <- 0 until buckets
        id <- 0 until nIds
        if (id * 31 + b * 7 + k * 13) % 3 != 0 // deterministic holes
      } yield (id.toLong, b, k.toLong, (id + b + k) % 2)) ++
        // DUPLICATE id in one bucket (the ingestDedup re-ingest shape:
        // batch copy + seen-index copy co-bucket) — the pair generator
        // must never emit the degenerate (id, id) pair
        Seq((0L, 0, 0L, 0), (0L, 0, 0L, 0))
      val df = (if (rows.isEmpty) Seq((0L, 0, 0L, 0)) else rows)
        .toDF("id", "band", "bucket", "p")
      val gotPlain = Dedup.candidatePairs(df, cap)
        .as[(Long, Long)].collect().toSet
      val refPlain = candidatePairsViaSelfJoin(df, cap)
        .as[(Long, Long)].collect().toSet
      val gotHp = Dedup.candidatePairsHomeProbe(df, cap)
        .as[(Long, Long)].collect().toSet
      val refHp = candidatePairsHomeProbeViaSelfJoin(df, cap)
        .as[(Long, Long)].collect().toSet
      ((gotPlain == refPlain) :| s"plain: got $gotPlain want $refPlain") &&
        ((gotHp == refHp) :| s"homeProbe: got $gotHp want $refHp")
    }

  /** The r10 winnow-verify shave: the sorted-merge intersect count must
    * equal `size(array_intersect(...))` on sorted DISTINCT inputs, in
    * BOTH codegen (DataFrame eval) and interpreted (direct eval) modes. */
  property("sortedIntersectCount == array_intersect size (codegen & interpreted)") =
    Prop.forAll(
        Gen.zip(Gen.listOf(Gen.choose(-50L, 50L)),
          Gen.listOf(Gen.choose(-50L, 50L)))) { case (la, lb) =>
      import spark.implicits._
      val a = la.distinct.sorted
      val b = lb.distinct.sorted
      val want = a.toSet.intersect(b.toSet).size.toLong
      // repartition defeats local-relation constant folding, so the
      // select genuinely runs through whole-stage codegen
      val df = Seq((a, b)).toDF("a", "b").repartition(1)
      val codegen = df.select(
        graft.functions.SortedLongIntersectCount
          .sortedIntersectCount(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("m"))
        .as[(Long, Long)].head()
      val interpreted = graft.functions.SortedLongIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))).eval(null)
        .asInstanceOf[Long]
      (codegen == ((want, want)) && interpreted == want) :|
        s"a=$a b=$b codegen=$codegen interpreted=$interpreted want=$want"
    }
}
