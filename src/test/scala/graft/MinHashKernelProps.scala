package graft

import graft.functions.{MinHashAgg, MinHashSignature}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Property pins for [[graft.functions.MinHashSignature]]: the in-row
  * signature of a shingle-hash array must be BIT-IDENTICAL to the
  * [[graft.functions.MinHashAgg]] aggregate over `explode_outer` of the
  * same array, grouped by row — including empty and null arrays (all
  * Long.MaxValue), one-element arrays, Long.MinValue/Long.MaxValue
  * elements, and numHashes 1 and 32. */
object MinHashKernelProps extends Properties("MinHashKernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  private val genHash: Gen[Long] = Gen.frequency(
    6 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
    2 -> Gen.chooseNum(-5L, 5L), // repeated values inside one array
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))
  private val genArray: Gen[Seq[Long]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[Long]),
    2 -> genHash.map(Seq(_)),
    6 -> Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, genHash)))

  /** (row id → signature) by the in-row kernel and by the aggregate. */
  private def bothForms(df: DataFrame, numHashes: Int)
      : (Map[Long, Seq[Long]], Map[Long, Seq[Long]]) = {
    def collect(f: DataFrame) = f.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val inRow = collect(df.select(col("rid"),
      MinHashSignature.of(col("arr"), numHashes)))
    val agg = collect(df
      .select(col("rid"), explode_outer(col("arr")).as("sh"))
      .groupBy("rid").agg(MinHashAgg.minhashSig(col("sh"), numHashes)))
    (inRow, agg)
  }

  property("in-row signature == MinHashAgg over explode_outer") =
    Prop.forAll(Gen.listOfN(12, genArray),
        Gen.oneOf(1, 2, 5, 16, 32)) { (arrays, numHashes) =>
      import spark.implicits._
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("rid", "arr").repartition(3)
      val (inRow, agg) = bothForms(df, numHashes)
      (inRow == agg && inRow.size == arrays.size &&
        inRow.values.forall(_.size == numHashes)) :|
        s"numHashes=$numHashes inRow=$inRow agg=$agg"
    }

  property("edge arrays: empty and null give Long.MaxValue; extremes " +
      "fold like any hash (numHashes 1 and 32)") = {
    import spark.implicits._
    val arrays: Seq[Option[Seq[Long]]] = Seq(
      Some(Seq.empty), None, Some(Seq(7L)), Some(Seq(Long.MinValue)),
      Some(Seq(Long.MaxValue)), Some(Seq(Long.MinValue, Long.MaxValue)),
      Some(Seq(Long.MaxValue, Long.MaxValue, 0L)))
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("rid", "arr")
    Prop.all(Seq(1, 32).map { numHashes =>
      val (inRow, agg) = bothForms(df, numHashes)
      val sentinel = Seq.fill(numHashes)(Long.MaxValue)
      (inRow == agg && inRow(0L) == sentinel && inRow(1L) == sentinel &&
        inRow(2L) != sentinel) :| s"numHashes=$numHashes inRow=$inRow agg=$agg"
    }: _*)
  }
}
