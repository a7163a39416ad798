package graftbench

import java.util.Random

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def next(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One generated row. Every workload uses this schema; each one weights
  * the columns differently (vectors for ann_serve, text for text_dedup). */
final case class Row(id: Long, cat: Int, v: Double, text: String, emb: Array[Float]) {
  /** Bytes the user hands the program for this row: the raw column values. */
  def userBytes: Long = 8 + 4 + 8 + text.getBytes("UTF-8").length + 4L * emb.length
}

/** Seeded input generator. The program only ever sees the rows and queries
  * made here; the ground truth is computed from the same values. */
final class Gen(seed: Long, dim: Int, clusters: Int, vocab: Int, words: Int) {
  val rnd = new Random(seed)
  // Cluster centres do not depend on the seed: the seed draws the rows and
  // queries around them. IVF training starts from the rows of the same ids,
  // so it lands on about the same partition layout for every seed, and a
  // query's cost, which follows the size of the partitions it probes,
  // changes little from seed to seed.
  private val centers = {
    val r = new Random(Gen.CentreSeed)
    Array.fill(clusters, dim)(r.nextFloat() * 2 - 1)
  }
  private val clusterZipf = new Zipf(clusters, 1.1)
  val wordZipf = new Zipf(vocab, 0.9)
  private val queryZipf = new Zipf(math.min(vocab, 24), 1.1)

  def vec(r: Random, c: Int, spread: Double = 0.25): Array[Float] =
    Array.tabulate(dim)(i => (centers(c)(i) + r.nextGaussian() * spread).toFloat)

  /** A query near a Zipf-chosen cluster: hot clusters are asked about most. */
  def query(r: Random): Array[Float] = vec(r, clusterZipf.next(r), 0.3)

  /** 1-2 words, Zipf-chosen among the 24 most frequent: a keyword query. */
  def terms(r: Random): Seq[String] = Seq.fill(1 + r.nextInt(2))(Gen.word(queryZipf.next(r)))

  def doc(): Array[String] = Array.fill(words)(Gen.word(wordZipf.next(rnd)))

  /** Near-duplicate of `src`: `edits` positions get a fresh random word. */
  def mutate(src: Array[String], edits: Int): Array[String] = {
    val out = src.clone()
    (0 until edits).foreach(_ => out(rnd.nextInt(out.length)) = Gen.word(rnd.nextInt(vocab)))
    out
  }

  /** Rows cycle through the clusters, so clusters have equal sizes. */
  def row(id: Long, text: Array[String]): Row =
    Row(id, rnd.nextInt(Gen.Cats), rnd.nextInt(1000000) / 100.0, text.mkString(" "),
      if (dim > 0) vec(rnd, (id % clusters).toInt) else Array.emptyFloatArray)

  /** Rows with planted near-duplicate families: a `dupFrac` share of the
    * rows copies an earlier original with 0-3 word edits. Returns the rows
    * and each copy's source id. */
  def corpus(firstId: Long, n: Int, dupFrac: Double): (Seq[Row], Map[Long, Long]) = {
    val texts = new Array[Array[String]](n)
    val srcOf = Map.newBuilder[Long, Long]
    var originals = Vector.empty[Int]
    (0 until n).foreach { i =>
      if (originals.nonEmpty && rnd.nextDouble() < dupFrac) {
        val s = originals(rnd.nextInt(originals.length))
        texts(i) = mutate(texts(s), rnd.nextInt(4))
        srcOf += (firstId + i) -> (firstId + s)
      } else {
        texts(i) = doc()
        originals :+= i
      }
    }
    (texts.indices.map(i => row(firstId + i, texts(i))), srcOf.result())
  }
}

object Gen {
  val Cats = 100
  val CentreSeed = 0x5eedL
  private val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Distinct pronounceable token for rank i ("x" marks one-syllable words,
    * so they cannot collide with a longer word's syllables). */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(syl(x % syl.length)); x /= syl.length } while (x > 0)
    if (sb.length < 4) sb.append("x")
    sb.toString
  }

  /** Distinct word 3-gram set, as the program's `TextAnalysis.shingleSet`
    * defines it (whitespace tokens). */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = b(i).toDouble - a(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Exact top-k ids by l2 over `rows` (ties by id). */
  def exactTopK(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    rows.iterator.map { case (id, v) => (l2(q, v), id) }.toSeq.sorted.take(k).map(_._2)
}
