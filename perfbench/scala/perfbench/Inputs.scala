package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same corpus; another
  * seed draws a different corpus from the same distribution.
  */
object Inputs {

  /** Gaussian mixture: `clusters` centres ~ N(0, spread²) per coordinate,
    * each point = a uniformly chosen centre + N(0, 1) noise. Queries are
    * held-out draws from the same mixture.
    */
  final case class VecParams(n: Int, dim: Int, clusters: Int, spread: Double, queries: Int) {
    def describe: String = s"n=$n dim=$dim clusters=$clusters spread=$spread queries=$queries"
  }

  final case class Vectors(base: Array[Array[Double]], queries: Array[Array[Double]])

  def vectors(p: VecParams, seed: Long): Vectors = {
    val rnd = new SplittableRandom(seed * 1000003L + 17L)
    val centres = Array.fill(p.clusters, p.dim)(rnd.nextGaussian() * p.spread)
    def draw(): Array[Double] = {
      val c = centres(rnd.nextInt(p.clusters))
      Array.tabulate(p.dim)(j => c(j) + rnd.nextGaussian())
    }
    val base = Array.fill(p.n)(draw())
    Vectors(base, Array.fill(p.queries)(draw()))
  }

  /** Zipf(`zipfS`) documents over a `vocab`-word vocabulary, lengths
    * uniform in [minLen, maxLen]. A `dupShare` of the docs are planted
    * near-duplicates: a copy of a random original with each token replaced
    * by a fresh Zipf draw with probability `editShare`. Ids are a seeded
    * permutation, so duplicates do not sit next to their originals.
    */
  final case class DocParams(
      n: Int,
      vocab: Int,
      zipfS: Double,
      minLen: Int,
      maxLen: Int,
      dupShare: Double,
      editShare: Double
  ) {
    def describe: String =
      s"n=$n vocab=$vocab zipf_s=$zipfS len=$minLen..$maxLen " +
        s"dup_share=$dupShare edit_share=$editShare"
  }

  /** `text(id)` is doc `id`; `planted` holds (original, copy) id pairs
    * with the smaller id first.
    */
  final case class Docs(text: Array[String], planted: Array[(Long, Long)])

  def docs(p: DocParams, seed: Long): Docs = {
    val rnd = new SplittableRandom(seed * 1000003L + 29L)
    val cdf = {
      val w = Array.tabulate(p.vocab)(r => 1.0 / math.pow(r + 1, p.zipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, p.vocab - 1)
    }
    val nDup = math.round(p.n * p.dupShare).toInt
    val nOrig = p.n - nDup
    val toks = new Array[Array[Int]](p.n)
    for (i <- 0 until nOrig)
      toks(i) = Array.fill(p.minLen + rnd.nextInt(p.maxLen - p.minLen + 1))(word())
    val origOf = new Array[Int](nDup)
    for (j <- 0 until nDup) {
      val o = rnd.nextInt(nOrig)
      origOf(j) = o
      toks(nOrig + j) = toks(o).map(t => if (rnd.nextDouble() < p.editShare) word() else t)
    }
    // seeded Fisher-Yates permutation: slot i gets id perm(i)
    val perm = Array.tabulate(p.n)(identity)
    for (i <- p.n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val text = new Array[String](p.n)
    for (i <- 0 until p.n) text(perm(i)) = toks(i).map(t => s"w$t").mkString(" ")
    val planted = Array.tabulate(nDup) { j =>
      val (a, b) = (perm(origOf(j)).toLong, perm(nOrig + j).toLong)
      (math.min(a, b), math.max(a, b))
    }
    Docs(text, planted)
  }
}
