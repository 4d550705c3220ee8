package graftbench

import scala.collection.mutable.ArrayBuffer

/** One arrival-order batch with the verdicts the generator planted: which
  * docs `ingestDedup` must keep, as a count and an id checksum. */
final case class DocBatch(docs: Seq[(Long, String)], lo: Long, hi: Long,
    uniques: Long, kept: Long, keptChecksum: Long)

/** Seeded 40-word documents. A loop batch is 80 % unique docs, 10 % exact
  * re-posts of earlier unique docs, 8 % near-duplicates (two adjacent words
  * replaced: word-3-shingle Jaccard ≈ 0.81) and 2 % copies of three
  * boilerplate templates, half of them of template 0. The set-up batch
  * (the history every loop batch is deduplicated against) holds unique
  * docs, the template originals and `hotCopies` copies of template 0, so
  * its cluster passes `maxBucket` early in the run; from then on
  * `ingestDedup` keeps every later copy (the capped bucket no longer holds
  * them), which the generator expects and the recall figure shows. */
final class DocGen(seed: Long, batchDocs: Int, hotCopies: Int,
    maxBucket: Int) {
  import DocGen._
  private val rnd = new java.util.Random(seed * 7919L + 3)
  private val Words = 40
  private val Vocab = 50000
  private val vocab = Array.tabulate(Vocab) { i =>
    java.lang.Long.toString((mix(seed * 1000003L + i) >>> 1) %
      2176782336L, 36)
  }
  private def randomDoc(): Array[Int] = Array.fill(Words)(rnd.nextInt(Vocab))
  private val templates = Array.fill(3)(randomDoc())
  /** Members each template's cluster has had so far (original included). */
  private val clusterSize = Array.fill(3)(0)
  private val uniques = ArrayBuffer[Array[Int]]()
  var nextId = 0L

  def setupBatch(): DocBatch = {
    val rest = math.max(0, batchDocs - 3 - hotCopies)
    build(Seq(Template(0), Template(1), Template(2)) ++
      shuffle(Seq.fill(hotCopies)(Template(0)) ++ Seq.fill(rest)(Unique)))
  }

  def nextBatch(): DocBatch = {
    val reposts = batchDocs / 10
    val near = batchDocs * 8 / 100
    val boiler = batchDocs * 2 / 100
    val t0 = boiler / 2
    val t1 = (boiler - t0) / 2
    build(shuffle(
      Seq.fill(batchDocs - reposts - near - boiler)(Unique) ++
        Seq.fill(reposts)(Repost) ++ Seq.fill(near)(NearDup) ++
        Seq.fill(t0)(Template(0)) ++ Seq.fill(t1)(Template(1)) ++
        Seq.fill(boiler - t0 - t1)(Template(2))))
  }

  private def shuffle[T](xs: Seq[T]): Seq[T] =
    scala.util.Random.javaRandomToRandom(rnd).shuffle(xs)

  private def build(kinds: Seq[Kind]): DocBatch = {
    val lo = nextId
    var kept = 0L
    var checksum = 0L
    var uniq = 0L
    val docs = kinds.map { k =>
      val id = nextId
      nextId += 1
      val (words, keep) = k match {
        case Unique =>
          val d = randomDoc()
          uniques += d
          uniq += 1
          (d, true)
        case Repost => (uniques(rnd.nextInt(uniques.size)), false)
        case NearDup =>
          val d = uniques(rnd.nextInt(uniques.size)).clone()
          val at = rnd.nextInt(Words - 1)
          for (j <- at to at + 1) {
            var w = rnd.nextInt(Vocab)
            while (w == d(j)) w = rnd.nextInt(Vocab)
            d(j) = w
          }
          (d, false)
        case Template(t) =>
          val rank = clusterSize(t)
          clusterSize(t) += 1
          if (rank == 0) uniq += 1
          // the original, and every copy past the bucket cap, is kept
          (templates(t), rank == 0 || rank >= maxBucket)
      }
      if (keep) {
        kept += 1
        checksum += Math.floorMod(id * Mix, Mod)
      }
      (id, words.map(vocab(_)).mkString(" "))
    }
    DocBatch(docs, lo, nextId, uniq, kept, checksum)
  }
}

object DocGen {
  val Mix = 2654435761L
  val Mod = 1000000007L

  private sealed trait Kind
  private case object Unique extends Kind
  private case object Repost extends Kind
  private case object NearDup extends Kind
  private final case class Template(t: Int) extends Kind

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
