package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The former [[Dedup.ingestDedup]] body, kept as the PARITY REFERENCE for
  * the one-pass form: signatures come from the [[graft.functions.MinHashAgg]]
  * aggregate over `explode_outer` of the shingles, grouped by id and joined
  * back onto the lazily persisted shingle rows, so every consumer of the
  * batch re-plans that aggregate and join. Banding, the bucket cap,
  * verification, the verdicts and the written index rows are the same as
  * the engine's; only the way the batch's (id, sig, shingles) frame is
  * built and shared differs. */
object IngestDedupReference {

  def ingest(spark: SparkSession, indexDir: String,
      batch: DataFrame, id: Column, text: Column,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      thresholdPermille: Int = 500, maxBucket: Int = 1000,
      numBuckets: Int = 8, ts: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val base = graft.util.ParallelScan.widen(
        batch.select(id.cast("long").as("id"), text.as("__text"))
          .filter(col("__text").isNotNull))
      .select(col("id"), Dedup.shingleSet(col("__text"), n).as("shingles"))
    base.persist()
    try {
      val exploded = base.select(col("id"),
        explode_outer(col("shingles")).as("sh"))
      val sigs = exploded.groupBy("id").agg(
        graft.functions.MinHashAgg.minhashSig(col("sh"), numHashes).as("sig"))
      val batchRows = sigs.join(base, "id") // (id, sig, shingles)
      val tl = graft.format.Timeline(
        spark.sessionState.newHadoopConf(), indexDir)
      val seen =
        if (tl.completedInstants().nonEmpty)
          graft.util.CatalogMount.table(spark, indexDir)
            .select(col("doc_id").as("id"), col("sig"), col("shingles"))
        else batchRows.select("id", "sig", "shingles").limit(0)
      val union = batchRows.select("id", "sig", "shingles").unionByName(seen)
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b)).as("bucket"))
      }
      val bucketed = union
        .select(col("id"), explode(array(bandCols: _*)).as("bc"))
        .select(col("id"), col("bc.band").as("band"),
          col("bc.bucket").as("bucket"))
      val cand = Dedup.candidatePairs(bucketed, maxBucket)
        .join(batchRows.select(col("id").as("id_b")), Seq("id_b"), "leftsemi")
      val drops = Dedup.verifyJaccardArrays(cand,
          union.select(col("id"), col("shingles")), thresholdPermille)
        .select(col("id_b").as("__drop")).distinct()
      val out = batchRows
        .join(drops, col("id") === col("__drop"), "left")
        .select(col("id").as("doc_id"), col("sig"), col("shingles"),
          col("__drop").isNull.as("kept"))
        .withColumn("pt", lit("all"))
      val writer = out.write.format("graft")
        .option("key", "doc_id").option("partition", "pt")
        .option("type", "mor")
        .option("deltaCounters", "off")
        .option("buckets", numBuckets.toString)
        .mode(org.apache.spark.sql.SaveMode.Append)
      ts.fold(writer)(t => writer.option("ts", t)).save(indexDir)
    } finally base.unpersist(blocking = true)
    graft.read.SnapshotReader.read(spark, indexDir)
  }
}
