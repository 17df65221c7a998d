package graft.operators

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded k-means / k-means++ with the reference's observable semantics
  * (ref: py/pq.py:80-199): k-means++ init by squared-distance-weighted
  * sampling, argmin E-step (first-lowest-index wins ties), mean M-step,
  * empty clusters keep their previous centroid (py/pq.py:181-183),
  * convergence when every centroid moves at most `tol` in squared L2
  * (py/pq.py:194-199), iteration cap 100 (py/pq.py:140).
  *
  * Two execution paths:
  *   - [[KMeansLocal]]: exact sequential algorithm on a driver-side sample.
  *     Codebook/model training at 100 TB is a *sampled* problem (the
  *     reference's own guidance is 10K-100K training rows,
  *     py/PRODUCT_QUANTIZATION.md:271-274), so the local path is the
  *     production default for model fit.
  *   - [[KMeans.fit]]: distributed Lloyd iterations — centroids broadcast,
  *     E-step evaluated executor-side, M-step a partial+final hash
  *     aggregation over (cluster, dim) — for when the training set itself
  *     is too large to sample down. Per-iteration shuffle volume is
  *     O(partitions · k · d), not O(rows).
  */
object KMeansLocal {

  final case class Result(
      centroids: Array[Array[Double]],
      inertia: Double,
      iterations: Int
  )

  def l2Sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** L2 norm as an ascending fold + `math.sqrt` — the fold the SQL
    * replays use, so a driver-side norm is bit-identical to theirs.
    */
  def l2Norm(c: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** k-means++ seeding (ref: py/pq.py:80-138): first centroid uniform,
    * each next sampled with probability proportional to min squared
    * distance to the already-chosen set.
    */
  def kMeansPlusPlus(
      data: Array[Array[Double]],
      k: Int,
      rng: Random
  ): Array[Array[Double]] = {
    require(data.nonEmpty && k >= 1)
    val centroids = new Array[Array[Double]](k)
    centroids(0) = data(rng.nextInt(data.length))
    val minD2 = data.map(l2Sq(_, centroids(0)))
    var c = 1
    while (c < k) {
      val total = minD2.sum
      if (total <= 0.0) {
        // all mass at chosen points: fall back to uniform
        centroids(c) = data(rng.nextInt(data.length))
      } else {
        val r = rng.nextDouble() * total
        var acc = 0.0
        var pick = data.length - 1
        var i = 0
        var found = false
        while (i < data.length && !found) {
          acc += minD2(i)
          if (acc >= r) { pick = i; found = true }
          i += 1
        }
        centroids(c) = data(pick)
      }
      var i = 0
      while (i < data.length) {
        val d = l2Sq(data(i), centroids(c))
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
      c += 1
    }
    centroids
  }

  /** Lloyd iterations with the reference's stopping/empty-cluster rules. */
  def fit(
      data: Array[Array[Double]],
      k: Int,
      seed: Long,
      maxIter: Int = 100,
      tol: Double = 1e-6
  ): Result = {
    require(data.nonEmpty, "k-means on empty data")
    val rng = new Random(seed)
    var centroids = kMeansPlusPlus(data, k, rng).map(_.clone())
    val d = data(0).length
    val assign = new Array[Int](data.length)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // E-step: nearest centroid, first index wins ties
      var i = 0
      while (i < data.length) {
        var best = 0
        var bestD = l2Sq(data(i), centroids(0))
        var c = 1
        while (c < k) {
          val dc = l2Sq(data(i), centroids(c))
          if (dc < bestD) { bestD = dc; best = c }
          c += 1
        }
        assign(i) = best
        i += 1
      }
      // M-step: per-cluster mean; empty cluster keeps previous centroid
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      i = 0
      while (i < data.length) {
        val c = assign(i)
        counts(c) += 1
        val v = data(i)
        var j = 0
        while (j < d) { sums(c)(j) += v(j); j += 1 }
        i += 1
      }
      val next = Array.tabulate(k) { c =>
        if (counts(c) == 0L) centroids(c)
        else {
          val m = new Array[Double](d)
          var j = 0
          while (j < d) { m(j) = sums(c)(j) / counts(c); j += 1 }
          m
        }
      }
      // on convergence keep the PREVIOUS centroids (ref: py/pq.py:201-204
      // breaks before installing the new means)
      converged = (0 until k).forall(c => l2Sq(centroids(c), next(c)) <= tol)
      if (!converged) centroids = next
      iter += 1
    }
    var inertia = 0.0
    var i = 0
    while (i < data.length) {
      var bestD = l2Sq(data(i), centroids(0))
      var c = 1
      while (c < k) {
        val dc = l2Sq(data(i), centroids(c))
        if (dc < bestD) bestD = dc
        c += 1
      }
      inertia += bestD
      i += 1
    }
    Result(centroids, inertia, iter)
  }
}

object KMeans {

  /** Deterministic shuffle-free sample of up to `n` rows: a seeded
    * Bernoulli sample (a narrow operation — every partition filters
    * locally) followed by a local limit. The previous
    * `sort(rand(seed)).limit(n)` spelling was a GLOBAL sort of the entire
    * input to keep n rows — a total shuffle of the corpus at scale. The
    * 10% oversample makes an undershoot of the limit vanishingly unlikely
    * at any input size; if the input has at most `n` rows it is returned
    * whole.
    */
  def seededSample(df: DataFrame, n: Int, seed: Long): DataFrame = {
    val total = df.count()
    if (total <= n) df
    else
      df.sample(withReplacement = false, math.min(1.0, 1.1 * n / total), seed)
        .limit(n)
  }

  private def flatten(centroids: Array[Array[Double]]): Array[Double] = {
    val k = centroids.length
    val d = centroids(0).length
    val out = new Array[Double](k * d)
    var c = 0
    while (c < k) {
      require(centroids(c).length == d, "ragged centroid widths")
      System.arraycopy(centroids(c), 0, out, c * d, d)
      c += 1
    }
    out
  }

  /** Column: index of the nearest centroid (E-step argmin; first-lowest
    * index wins ties, ref: py/pq.py:161-171). Native codegen kernel with
    * the k×d matrix embedded in the plan
    * ([[graft.functions.ArgminCentroidExpr]]) — no per-row boxing.
    */
  def assignCol(
      spark: SparkSession,
      centroids: Array[Array[Double]],
      vec: org.apache.spark.sql.Column
  ): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ArgminCentroidExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(vec),
        flatten(centroids), centroids.length, centroids(0).length
      )
    )

  final case class Result(
      centroids: Array[Array[Double]],
      iterations: Int
  )

  /** Distributed Lloyd iterations. Init = k-means++ on a seeded driver
    * sample (capped at `initSample` rows); per iteration the k×d centroid
    * matrix is broadcast, assignment is computed executor-side, and the new
    * means come back through a (cluster, dim) hash aggregation whose
    * map-side partials keep the shuffle at O(partitions · k · d).
    */
  def fit(
      df: DataFrame,
      vecCol: String,
      k: Int,
      seed: Long,
      maxIter: Int = 100,
      tol: Double = 1e-6,
      initSample: Int = 10000,
      initCentroids: Option[Array[Array[Double]]] = None
  ): Result = {
    val spark = df.sparkSession
    val vecs = df.select(col(vecCol).cast("array<double>").as("v"))
    var centroids = initCentroids.getOrElse {
      val sample = seededSample(vecs, initSample, seed)
        .collect()
        .map(_.getSeq[Double](0).toArray)
      KMeansLocal.kMeansPlusPlus(sample, k, new Random(seed))
    }
    require(centroids.length == k, s"init size ${centroids.length} != k=$k")
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // E-step via the plan-embedded native argmin; M-step: explode to
      // (cluster, dim, x) and hash-aggregate the means.
      val means = vecs
        .withColumn("c", assignCol(spark, centroids, col("v")))
        .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      // same convergence semantics as KMeansLocal: previous centroids win
      converged =
        (0 until k).forall(c => KMeansLocal.l2Sq(centroids(c), next(c)) <= tol)
      if (!converged) centroids = next
      iter += 1
    }
    Result(centroids, iter)
  }

  /** Scalable k-means|| initialization (Bahmani et al. 2012) — the
    * DISTRIBUTED replacement for k-means++'s inherently sequential D²
    * sampling. Each of `rounds` passes samples every point independently
    * with probability min(1, l·d²(x,C)/φ) (l = oversampleFactor·k, φ =
    * current total cost), so one aggregation + one filter per round grows
    * the candidate set by ~l regardless of data size; candidates are then
    * weighted by the points they attract and reduced to k by a local
    * weighted k-means++ over the ~rounds·l candidates. The per-point
    * coin is an md5-uniform over (id, round, seed) — deterministic and
    * partition-independent, so the init is bit-reproducible across runs
    * and cluster layouts (same property as pipeline_sample_weighted's
    * RNG-free sampling).
    *
    * Unlike [[fit]]'s `initSample` driver sample (capped — at 100 TB a
    * 10k-row sample of a skewed corpus can miss small clusters), every
    * point in the corpus gets a sampling coin each round.
    */
  def parallelInit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      seed: Long,
      rounds: Int = 5,
      oversampleFactor: Int = 2
  ): Array[Array[Double]] = {
    import graft.functions.VectorExpressions.l2SqFast
    val spark = df.sparkSession
    val l = math.max(oversampleFactor * k, k)
    val vecs = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v")
    )
    val firstRows = vecs.orderBy(col("id")).limit(1).collect()
    require(firstRows.nonEmpty, "parallelInit: input DataFrame is empty")
    val first = firstRows(0).getSeq[Double](1).toArray
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](first)
    var r = 0
    var saturated = false
    while (r < rounds && !saturated) {
      val cLit = typedLit(centers.toSeq.map(_.toSeq))
      val withD = vecs
        .withColumn("c", assignCol(spark, centers.toArray, col("v")))
        .withColumn("d2", l2SqFast(col("v"), element_at(cLit, col("c") + 1)))
      val phi = withD.agg(sum(col("d2"))).head.getDouble(0)
      if (phi <= 0) saturated = true // every point IS a center already
      else {
        val u = (conv(
          substring(md5(concat(col("id"), lit(s":kmll:$r:$seed"))), 1, 14),
          16, 10
        ).cast("long") % 1000000L + 1L).cast("double") / lit(1000001.0)
        // sort sampled candidates by id: collect() order follows partition
        // layout, and the downstream weighted k-means++ draws are
        // index-sensitive — sorting makes the init layout-independent,
        // honoring the bit-reproducibility claim above
        centers ++= withD
          .filter(u < lit(l.toDouble) * col("d2") / lit(phi))
          .select(col("id"), col("v"))
          .collect()
          .map(row => (row.getLong(0), row.getSeq[Double](1).toArray))
          .sortBy(_._1)
          .map(_._2)
        r += 1
      }
    }
    val cArr0 = centers.toArray
    val cArr =
      if (cArr0.length >= k) cArr0
      else {
        // tiny or early-saturated inputs can leave fewer than k candidates;
        // top up deterministically with the lowest-id points whose vectors
        // aren't already candidates so fit()'s `length == k` precondition
        // always holds. If the corpus has fewer than k distinct vectors,
        // repeat the first one — empty-cluster carry absorbs the degenerate
        // cells downstream.
        val seen = scala.collection.mutable.HashSet[Seq[Double]](
          cArr0.map(_.toSeq).toIndexedSeq: _*)
        val extra = vecs.orderBy(col("id")).limit(k + cArr0.length)
          .collect().iterator
          .map(_.getSeq[Double](1))
          .filterNot(seen.contains)
          .take(k - cArr0.length)
          .map(_.toArray)
          .toArray
        val topped = cArr0 ++ extra
        if (topped.length >= k) topped
        else topped ++ Array.fill(k - topped.length)(topped.head)
      }
    if (cArr.length <= k) cArr
    else {
      // weight candidates by the points they attract (+1 so an
      // empty-cell candidate stays selectable), then local weighted
      // k-means++ over the candidate set only
      val wMap = vecs
        .withColumn("c", assignCol(spark, cArr, col("v")))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(row => row.getInt(0) -> row.getLong(1))
        .toMap
      val weights = cArr.indices.map(i => wMap.getOrElse(i, 0L) + 1L).toArray
      weightedKMeansPlusPlus(cArr, weights, k, new Random(seed))
    }
  }

  /** Weighted k-means++ over a driver-resident candidate set: D²·w
    * sampling (chosen points have D² = 0, so re-picks cannot happen while
    * any unchosen candidate remains).
    */
  private def weightedKMeansPlusPlus(
      data: Array[Array[Double]],
      weights: Array[Long],
      k: Int,
      rng: Random
  ): Array[Array[Double]] = {
    def draw(ws: Array[Double]): Int = {
      val total = ws.sum
      val t = rng.nextDouble() * total
      var acc = 0.0
      var i = 0
      while (i < ws.length) {
        acc += ws(i)
        if (acc >= t) return i
        i += 1
      }
      ws.length - 1
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    chosen += data(draw(weights.map(_.toDouble)))
    while (chosen.length < k) {
      val ws = Array.tabulate(data.length) { i =>
        val d2 = chosen.iterator.map(c => KMeansLocal.l2Sq(data(i), c)).min
        d2 * weights(i)
      }
      chosen += data(if (ws.sum <= 0) rng.nextInt(data.length) else draw(ws))
    }
    chosen.toArray
  }

  /** DETERMINISTIC k-means++ seeding — the paper's D²-weighted sampling
    * with the engine's md5 coin instead of a JVM RNG, making the init
    * (and therefore a whole fixed-round fit) engine-portable and
    * hash-checkable:
    *
    *  - pick 0 (the paper's uniform draw): argmin (u, id) over
    *    u = md5-uniform(id:kmpp:0) — every point equally likely, ties
    *    by id;
    *  - pick j ≥ 1 (the D²-weighted draw): the Efraimidis–Spirakis
    *    single-pick — key = ln(u_j)/D²(x), argmax (key, −id); P(pick)
    *    is exactly D²/ΣD² (A-ES with one sample), coins fresh per round
    *    (salt `:kmpp:j`). Points already chosen have D² = 0 — excluded,
    *    matching kmeans++'s zero probability mass. If EVERY remaining
    *    point sits on a chosen centroid (all D² = 0 — fewer distinct
    *    vectors than k), falls back to the uniform md5 draw over all
    *    points (the local path's fallback, py/pq.py:91-95 analog).
    *
    * Spark shape per pick: one map updating the running min-D² against
    * the ONE new plan-literal centroid + one TakeOrdered(1) — k linear
    * passes, the coreset discipline (never a pairwise table).
    *
    * @return (rnd 0..k−1, id, vec)
    */
  def ppInitDet(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    def u(j: Int) =
      (Dedup.md5Long(concat(col("id").cast("string"), lit(s":kmpp:$j")))
        % 1000000 + 1).cast("double") / lit(1000001.0)
    val first = v.withColumn("u", u(0))
      .orderBy(col("u"), col("id")).limit(1)
      .select(col("id"), col("vec")).head()
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Seq[Double])](
      (0L, first.getLong(0), first.getSeq[Double](1)))
    var state = v
      .withColumn("md", l2SqFast(col("vec"), typedLit(first.getSeq[Double](1))))
      .localCheckpoint()
    var j = 1
    while (j < k) {
      val cand = state
        .filter(col("md") > 0)
        .withColumn("key", log(u(j)) / col("md"))
        .orderBy(col("key").desc, col("id"))
        .limit(1)
        .select(col("id"), col("vec"))
        .collect()
      val pick =
        if (cand.nonEmpty) cand(0)
        else // degenerate: < k distinct vectors — uniform md5 fallback
          v.withColumn("u", u(j)).orderBy(col("u"), col("id")).limit(1)
            .select(col("id"), col("vec")).head()
      val pvec = pick.getSeq[Double](1)
      picks += ((j.toLong, pick.getLong(0), pvec))
      state = state
        .withColumn("md", least(col("md"), l2SqFast(col("vec"), typedLit(pvec))))
        .localCheckpoint()
      j += 1
    }
    picks.toSeq.toDF("rnd", "id", "vec")
  }

  /** Fully deterministic distributed k-means: [[ppInitDet]] seeding +
    * a FIXED number of Lloyd rounds (no convergence cut — a fixed
    * schedule is what lets the whole trajectory replay as unrolled SQL
    * rounds). E-step is the plan-embedded native argmin (first-lowest
    * index on ties); M-step per-(cluster, dim) means route through
    * DECIMAL(38,30) (exact, order-free) before the double division, so
    * the next round's centroid literals are bit-identical on any
    * engine/partitioning; empty clusters keep their previous centroid.
    *
    * @return final centroids as (cluster, pos 1-based, mval)
    */
  def fitDeterministic(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int
  ): DataFrame = {
    val init = ppInitDet(df, idCol, vecCol, k)
      .orderBy(col("rnd"))
      .collect()
      .map(_.getSeq[Double](2).toArray)
    fitDeterministicFrom(df, vecCol, init, rounds)
  }

  /** The fixed-Lloyd-rounds half of [[fitDeterministic]], reusable with
    * any deterministic init (ppInitDet, parallelInitDet, a saved model).
    */
  def fitDeterministicFrom(
      df: DataFrame,
      vecCol: String,
      init: Array[Array[Double]],
      rounds: Int
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    var centroids = init
    val vecs = df.select(col(vecCol).cast("array<double>").as("v"))
    var r = 0
    while (r < rounds) {
      val means = vecs
        .withColumn("c", assignCol(spark, centroids, col("v")))
        .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(38, 30))).cast("double")
          / count(lit(1))).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { row =>
        next(row.getInt(0))(row.getInt(1)) = row.getDouble(2)
      }
      centroids = next
      r += 1
    }
    centroids.zipWithIndex
      .flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (x, pos) =>
          (ci.toLong, pos + 1L, x)
        }
      }
      .toSeq
      .toDF("cluster", "pos", "mval")
  }

  /** Driver-side md5 uniform coin, bit-identical to [[Dedup.md5Long]]'s
    * column spelling (and DuckDB's `md5(s)` replay): first 14 hex chars
    * of md5(s) as a base-16 long, mod 10^6 + 1, over 10^6 + 1.
    */
  private[graft] def md5Coin(s: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => "%02x".format(b & 0xff)).mkString.substring(0, 14)
    (java.lang.Long.parseLong(hex, 16) % 1000000L + 1L).toDouble / 1000001.0
  }

  /** Deterministic k-means|| init (Bahmani et al., VLDB 2012) — the
    * md5-coin spelling of [[parallelInit]] with NO JVM RNG anywhere, so
    * the whole init (sampling rounds AND the local weighted reduction)
    * replays as unrolled SQL and the full parallel fit can be
    * hash-checked:
    *  - the per-round potential φ is a DECIMAL(38,30)-exact sum (the
    *    double sum in [[parallelInit]] is partition-order-dependent — a
    *    last-ulp difference could flip a sampling coin);
    *  - every corpus point draws its round-r coin from
    *    md5(id ":kmllD:" r); sampling keeps points with
    *    u < l·d²/φ (the paper's expected-l oversampling);
    *  - candidates keep (round, id) append order; assignment argmin
    *    ties break to the lowest candidate position;
    *  - the driver-side weighted k-means++ reduction replaces RNG draws
    *    with Efraimidis–Spirakis md5 keys: pick 0 maximizes
    *    ln(u)/w (P ∝ w), pick j maximizes ln(u)/(D²·w) over unchosen
    *    candidates (P ∝ D²·w), ties to the lowest id; if every
    *    remaining candidate has D²·w = 0 the lowest unchosen id is
    *    taken.
    * Fixed `rounds` (no data-dependent early exit — a round with φ = 0
    * simply samples nothing). Requires the sampled candidate set to
    * reach k (true for any non-degenerate corpus at l ≥ k).
    *
    * @return (rnd 0-based pick order, id, vec) of the k reduced centers
    */
  def parallelInitDet(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 2,
      oversampleFactor: Int = 2
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val l = math.max(oversampleFactor * k, k)
    val vecs = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val first = vecs.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).head()
    // candidates in (round, id) append order; positions = array index
    val cand = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])](
      (first.getLong(0), first.getSeq[Double](1).toArray))
    var r = 0
    while (r < rounds) {
      val cArr = cand.map(_._2).toArray
      val withD = vecs
        .withColumn("c", assignCol(spark, cArr, col("v")))
        .withColumn("d2", l2SqFast(col("v"),
          element_at(typedLit(cArr.toSeq.map(_.toSeq)), col("c") + 1)))
      val phi = withD
        .agg(sum(col("d2").cast(DecimalType(38, 30))).cast("double"))
        .head.getDouble(0)
      if (phi > 0) {
        val u = (Dedup.md5Long(concat(col("id").cast("string"),
          lit(s":kmllD:$r"))) % 1000000 + 1).cast("double") / lit(1000001.0)
        cand ++= withD
          .filter(u < lit(l.toDouble) * col("d2") / lit(phi))
          .select(col("id"), col("v"))
          .collect()
          .map(row => (row.getLong(0), row.getSeq[Double](1).toArray))
          .sortBy(_._1)
      }
      r += 1
    }
    require(cand.length >= k,
      s"parallelInitDet: only ${cand.length} candidates for k=$k — " +
        "raise rounds/oversampleFactor (degenerate corpus)")
    // attraction weights over the FINAL candidate set (+1 keeps empty
    // cells selectable)
    val cArr = cand.map(_._2).toArray
    val wMap = vecs
      .withColumn("c", assignCol(spark, cArr, col("v")))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(row => row.getInt(0) -> row.getLong(1))
      .toMap
    val weights = cArr.indices.map(i => wMap.getOrElse(i, 0L) + 1L).toArray
    // Efraimidis–Spirakis weighted k-means++ over the candidate set
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    val minD2 = Array.fill(cand.length)(Double.PositiveInfinity)
    var j = 0
    while (j < k) {
      var best = -1
      var bestKey = Double.NegativeInfinity
      var i = 0
      while (i < cand.length) {
        if (!chosen.contains(i)) {
          val w = if (j == 0) weights(i).toDouble else minD2(i) * weights(i)
          if (w > 0) {
            val key = math.log(md5Coin(s"${cand(i)._1}:kmllw:$j")) / w
            if (key > bestKey ||
              (key == bestKey && best >= 0 && cand(i)._1 < cand(best)._1)) {
              bestKey = key
              best = i
            }
          }
        }
        i += 1
      }
      if (best < 0) { // all remaining D²·w = 0: lowest unchosen id
        best = cand.indices.filterNot(chosen.contains)
          .minBy(i => cand(i)._1)
      }
      chosen += best
      var i2 = 0
      while (i2 < cand.length) {
        val d2 = KMeansLocal.l2Sq(cArr(i2), cArr(best))
        if (d2 < minD2(i2)) minD2(i2) = d2
        i2 += 1
      }
      j += 1
    }
    chosen.zipWithIndex
      .map { case (ci, rnd) =>
        (rnd.toLong, cand(ci)._1, cand(ci)._2.toSeq)
      }
      .toSeq
      .toDF("rnd", "id", "vec")
  }
}
