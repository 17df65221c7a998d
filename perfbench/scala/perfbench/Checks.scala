package perfbench

import scala.collection.mutable

/** Driver-side output checks. Each returns None when the output holds, or
  * Some(reason) when it does not.
  */
object Checks {

  /** One ranked neighbor: query (or source node), neighbor id, distance, rank. */
  final case class Nbr(q: Long, id: Long, dist: Double, rnk: Int)

  def l2Sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  private def near(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  /** Exact top-k by (dist, id) over `base`, for each query — the reference
    * the engine's exact kNN must match.
    */
  def bruteForce(queries: Array[Array[Double]], base: Array[Array[Double]], k: Int): Array[Array[Nbr]] =
    queries.indices.toArray.map { qi =>
      val d = base.indices.map(i => (l2Sq(queries(qi), base(i)), i.toLong)).sorted.take(k)
      d.zipWithIndex.map { case ((dist, id), r) => Nbr(qi, id, dist, r + 1) }.toArray
    }

  /** Every listed query has exactly k rows ranked 1..k with distinct ids
    * ordered by (dist, id), and each distance equals `dist(q, id)`.
    */
  def ranked(rows: Seq[Nbr], queries: Iterable[Long], k: Int, dist: (Long, Long) => Double): Option[String] = {
    val byQ = rows.groupBy(_.q)
    val extra = byQ.keySet -- queries
    if (extra.nonEmpty) return Some(s"rows for unknown query ${extra.head}")
    queries.iterator.map { q =>
      val r = byQ.getOrElse(q, Nil).sortBy(_.rnk)
      if (r.size != k) Some(s"query $q has ${r.size} rows, want $k")
      else if (r.map(_.rnk) != (1 to k)) Some(s"query $q ranks ${r.map(_.rnk)}")
      else if (r.map(_.id).distinct.size != k) Some(s"query $q has a duplicate neighbor id")
      else if (r.sliding(2).exists { case Seq(a, b) => a.dist > b.dist || (a.dist == b.dist && a.id > b.id); case _ => false })
        Some(s"query $q is not ordered by (dist, id)")
      else r.find(n => !near(n.dist, dist(q, n.id), 1e-9))
        .map(n => s"query $q neighbor ${n.id}: dist ${n.dist} != ${dist(q, n.id)}")
    }.collectFirst { case Some(e) => e }
  }

  /** Same neighbor ids, in rank order, and matching distances. */
  def sameAs(rows: Seq[Nbr], truth: Array[Array[Nbr]]): Option[String] = {
    val byQ = rows.groupBy(_.q).map { case (q, r) => q -> r.sortBy(_.rnk) }
    truth.iterator.map { t =>
      val q = t.head.q
      val got = byQ.getOrElse(q, Nil)
      if (got.map(_.id) != t.toSeq.map(_.id)) Some(s"query $q ids ${got.map(_.id)} != ${t.map(_.id).toSeq}")
      else got.zip(t).find { case (g, e) => !near(g.dist, e.dist, 1e-9) }
        .map { case (g, e) => s"query $q neighbor ${g.id}: dist ${g.dist} != ${e.dist}" }
    }.collectFirst { case Some(e) => e }
  }

  /** Pruned graph: at most `maxDegree` distinct non-self out-edges per
    * node, each with dist = L2²(src, dst).
    */
  def pruned(rows: Seq[(Long, Long, Double)], vecs: Array[Array[Double]], maxDegree: Int): Option[String] =
    rows.groupBy(_._1).iterator.map { case (s, r) =>
      if (r.size > maxDegree) Some(s"node $s keeps ${r.size} > $maxDegree edges")
      else if (r.map(_._2).distinct.size != r.size || r.exists(_._2 == s)) Some(s"node $s: duplicate or self edge")
      else r.find(e => !near(e._3, l2Sq(vecs(s.toInt), vecs(e._2.toInt)), 1e-9))
        .map(e => s"edge $e: dist != ${l2Sq(vecs(s.toInt), vecs(e._2.toInt))}")
    }.collectFirst { case Some(e) => e }

  /** Mean Recall@k of ranked rows against truth, over the truth queries. */
  def recall(rows: Seq[Nbr], truth: Array[Array[Nbr]], k: Int): Double = {
    val got = rows.filter(_.rnk <= k).groupBy(_.q).map { case (q, r) => q -> r.map(_.id).toSet }
    truth.map { t =>
      val g = got.getOrElse(t.head.q, Set.empty[Long])
      t.take(k).count(n => g.contains(n.id)).toDouble / k
    }.sum / truth.length
  }

  /** Order-independent fingerprint of an output. */
  def fingerprint(rows: Seq[Product]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows)

  def shingles(text: String, n: Int): Seq[String] = {
    val t = text.split(" ")
    if (t.length < n) Nil else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" "))
  }

  /** Exact n-gram Jaccard of two docs. */
  def jaccard(a: String, b: String, n: Int): Double = {
    val (sa, sb) = (shingles(a, n).toSet, shingles(b, n).toSet)
    val c = (sa intersect sb).size
    c.toDouble / (sa.size + sb.size - c)
  }

  /** tf·idf cosine of each pair, recomputed from the raw corpus under the
    * engine's document-frequency window: df >= 2 and
    * df <= min(floor(n·maxDfFraction), maxDfAbs), w = tf·ln((1+n)/(1+df)).
    */
  def tfidfCos(
      text: Array[String],
      pairs: Seq[(Long, Long)],
      n: Int,
      maxDfFraction: Double,
      maxDfAbs: Int
  ): Map[(Long, Long), Double] = {
    val docs = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val tf = docs.map(d => d -> shingles(text(d.toInt), n).groupBy(identity).map { case (s, v) => s -> v.size }).toMap
    val wanted = tf.values.flatMap(_.keys).toSet
    val df = mutable.HashMap.empty[String, Int]
    text.foreach(t => shingles(t, n).distinct.foreach(s => if (wanted(s)) df(s) = df.getOrElse(s, 0) + 1))
    val hi = math.min(math.floor(text.length * maxDfFraction), maxDfAbs.toDouble)
    def weights(d: Long): Map[String, Double] = tf(d).collect {
      case (s, c) if df(s) >= 2 && df(s) <= hi => s -> c * math.log((1.0 + text.length) / (1.0 + df(s)))
    }
    pairs.map { case (a, b) =>
      val (wa, wb) = (weights(a), weights(b))
      val dot = wa.iterator.map { case (s, w) => w * wb.getOrElse(s, 0.0) }.sum
      def norm(w: Map[String, Double]) = math.sqrt(w.values.map(x => x * x).sum)
      (a, b) -> dot / (norm(wa) * norm(wb))
    }.toMap
  }

  /** Re-verify a sample of reported pairs: each recomputed score is at
    * least `tau` and equals the reported one within `tol`.
    */
  def pairsHold(
      reported: Seq[(Long, Long, Double)],
      recompute: Seq[(Long, Long)] => Map[(Long, Long), Double],
      tau: Double,
      tol: Double,
      sample: Int
  ): Option[String] = {
    if (reported.exists { case (a, b, _) => a >= b }) return Some("pair with doc_a >= doc_b")
    if (reported.map(p => (p._1, p._2)).distinct.size != reported.size) return Some("duplicate pair")
    val step = math.max(1, reported.size / sample)
    val picked = reported.sortBy(p => (p._1, p._2)).zipWithIndex.collect { case (p, i) if i % step == 0 => p }
    val exact = recompute(picked.map(p => (p._1, p._2)))
    picked.collectFirst {
      case (a, b, s) if exact((a, b)) < tau - tol || math.abs(exact((a, b)) - s) > tol =>
        s"pair ($a, $b): reported $s, recomputed ${exact((a, b))}, tau $tau"
    }
  }

  /** Every pair's endpoints share one component, and every doc of a pair
    * has a component row.
    */
  def components(pairs: Seq[(Long, Long)], comp: Seq[(Long, Long)]): Option[String] = {
    val rep = comp.toMap
    if (rep.size != comp.size) return Some("doc with two component rows")
    pairs.collectFirst {
      case (a, b) if !rep.contains(a) || !rep.contains(b) => s"pair ($a, $b) has a doc without a component"
      case (a, b) if rep(a) != rep(b) => s"pair ($a, $b) spans components ${rep(a)} and ${rep(b)}"
    }
  }
}
