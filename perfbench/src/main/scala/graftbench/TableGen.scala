package graftbench

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Seeded rows for the table workloads, plus the ledger that knows the
  * table's live state. Row `id` lives in partition `p<id % parts>` and
  * carries a version; every payload column is a pure function of
  * (id, version, seed), so the harness can compute any expected count or
  * checksum without reading the table. A different seed changes the record
  * keys (and so the bucket of every row) and the payload bytes, never the
  * row counts. */
final class TableGen(val seed: Long, val rows: Int, val parts: Int = 8) {
  private val salt = Math.floorMod(seed, 1000003L)
  private val versions = ArrayBuffer.fill(rows)(0)
  private val live = Array.fill(parts)(new LiveSet)
  (0 until rows).foreach(i => live(i % parts).add(i.toLong))
  private val firstNew = ((rows + parts - 1) / parts).toLong * parts
  private val nextNew = Array.tabulate(parts)(p => firstNew + p)

  def keyCol: Column = col("k")
  def partCol: Column = col("part")

  def v1(id: Long, ver: Int): Long =
    Math.floorMod(id * 7919L + ver * 104729L + salt, 1000003L)

  def version(id: Long): Int = versions(id.toInt)

  def liveCount: Long = live.map(_.size.toLong).sum
  def liveCount(part: Int): Long = live(part).size.toLong
  def sumV1(part: Int): Long = live(part).ids.map(id => v1(id, version(id))).sum
  def sumV1: Long = (0 until parts).map(sumV1).sum

  /** Payload rows for (id, version) pairs. */
  def frame(spark: SparkSession, idVer: Seq[(Long, Int)]): DataFrame =
    withPayload(spark.createDataset(idVer)(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)).toDF("id", "ver"))

  /** The whole initial table (every id at version 0). */
  def base(spark: SparkSession): DataFrame =
    withPayload(spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
      .withColumn("ver", lit(0)))

  private def withPayload(df: DataFrame): DataFrame = {
    val k = concat(lpad(hex(xxhash64(col("id"), lit(salt))), 16, "0"),
      lit("-"), col("id").cast("string"))
    df.select(col("id"), k.as("k"),
      concat(lit("p"), pmod(col("id"), lit(parts.toLong))).as("part"),
      col("ver"),
      pmod(col("id") * 7919L + col("ver") * 104729L + lit(salt),
        lit(1000003L)).as("v1"),
      sha2(concat(k, lit(":"), col("ver").cast("string")), 256).as("s1"))
  }

  /** Remove `n` live ids of partition `part`; returns them with the
    * version they had (the rows a delete view must return). */
  def delete(part: Int, n: Int, rnd: java.util.Random): Seq[(Long, Int)] =
    (0 until n).map { _ =>
      val id = live(part).removeRandom(rnd)
      (id, version(id))
    }

  /** `n` updates of live ids plus `fresh` new ids, all in `part`; returns
    * the written (id, version) pairs, updates first. */
  def upsert(part: Int, n: Int, fresh: Int, rnd: java.util.Random)
      : Seq[(Long, Int)] = {
    val updated = live(part).sample(n, rnd).map { id =>
      versions(id.toInt) += 1
      (id, versions(id.toInt))
    }
    val inserted = (0 until fresh).map { _ =>
      val id = nextNew(part)
      nextNew(part) += parts
      while (versions.size <= id) versions += 0
      live(part).add(id)
      (id, 0)
    }
    updated ++ inserted
  }
}

/** Live ids with O(1) removal of a random one (swap with the last). */
private final class LiveSet {
  private val buf = ArrayBuffer[Long]()
  def size: Int = buf.size
  def ids: Iterator[Long] = buf.iterator
  def add(id: Long): Unit = buf += id
  def removeRandom(rnd: java.util.Random): Long = {
    val i = rnd.nextInt(buf.size)
    val id = buf(i)
    val last = buf.remove(buf.size - 1)
    if (i < buf.size) buf(i) = last
    id
  }
  /** `n` distinct live ids, left live. */
  def sample(n: Int, rnd: java.util.Random): Seq[Long] = {
    val picked = scala.collection.mutable.LinkedHashSet[Long]()
    while (picked.size < n) picked += buf(rnd.nextInt(buf.size))
    picked.toSeq
  }
}
