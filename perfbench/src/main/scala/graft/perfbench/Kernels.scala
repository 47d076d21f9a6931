package graft.perfbench

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashingKernels, SimilarityKernels}

/** ns per call of the scalar kernels behind Blocking and Scoring, on
  * prefixes and token hashes generated from the run's seed: near-duplicate
  * pairs (the pairs Scoring keeps) mixed with unrelated ones, with the
  * pipeline's default parameters (256-char prefixes, 96 hashes in 24
  * bands, winnowing window 8, block members up to the cap of 16).
  */
object Kernels {
  private val Inputs = 512

  def run(seed: Long, secondsEach: Double): Map[String, Double] = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.tabulate(400)(i => s"w${i}t${rnd.nextInt(100000)}")
    def doc(): Array[Int] = Array.fill(40 + rnd.nextInt(30))(rnd.nextInt(vocab.length))
    def perturb(d: Array[Int]): Array[Int] =
      d.map(t => if (rnd.nextInt(100) < 8) rnd.nextInt(vocab.length) else t)
    val docs = Array.fill(Inputs)(doc())
    val others = docs.zipWithIndex.map { case (d, i) =>
      if (i % 2 == 0) perturb(d) else docs((i + 1) % Inputs) }
    def prefix(d: Array[Int]) =
      UTF8String.fromString(d.map(vocab(_)).mkString(" ").take(256))
    def hashes(d: Array[Int]) =
      new GenericArrayData(d.map(t => vocab(t).hashCode.toLong * 0x9E3779B97F4A7C15L))
    val pa = docs.map(prefix); val pb = others.map(prefix)
    val ha = docs.map(hashes); val hb = others.map(hashes)
    val members = Array.fill(Inputs)(
      new GenericArrayData(Array.fill(2 + rnd.nextInt(15))(rnd.nextLong())))

    // results feed a captured accumulator so the JIT cannot drop the calls
    var sink = 0L
    Map(
      "functions.jaro_winkler" -> time(secondsEach) { i =>
        sink += (SimilarityKernels.jaroWinkler(pa(i), pb(i)) * 1e6).toLong },
      "functions.levenshtein_banded" -> time(secondsEach) { i =>
        sink += SimilarityKernels.levenshteinBanded(pa(i), pb(i), 128) },
      "functions.jaccard_long_sets" -> time(secondsEach) { i =>
        sink += (SimilarityKernels.jaccardLongSets(ha(i), hb(i)) * 1e6).toLong },
      "functions.minhash_band_keys" -> time(secondsEach) { i =>
        sink += HashingKernels.minhashBandKeysFromHashes(ha(i), 2, 96, 24).numElements() },
      "functions.winnowed_shingle_hashes" -> time(secondsEach) { i =>
        sink += HashingKernels.winnowedShingleHashesFromHashes(ha(i), 3, 8, 42L).numElements() },
      "functions.pair_combos_long" -> time(secondsEach) { i =>
        sink += HashingKernels.pairCombosLong(members(i)).numElements() }
    )
  }

  /** Median ns per call over five batches, each about `seconds` / 5. */
  private def time(seconds: Double)(call: Int => Unit): Double = {
    var i = 0
    val warm = System.nanoTime() + (seconds * 2e8).toLong
    while (System.nanoTime() < warm) { call(i % Inputs); i += 1 }
    Tracer.median((1 to 5).map { _ =>
      val end = System.nanoTime() + (seconds * 2e8).toLong
      val t0 = System.nanoTime()
      var n = 0
      while (System.nanoTime() < end || n < Inputs) { call(n % Inputs); n += 1 }
      (System.nanoTime() - t0).toDouble / n
    })
  }
}
