package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions

/** Facility-location greedy selection — submodular coverage maximization:
  * pick k representatives S maximizing F(S) = Σ_x max_{s∈S} sim(x, s),
  * the "every corpus point is well-represented by someone chosen" objective
  * (Krause & Golovin, "Submodular Function Maximization", 2014; the
  * standard exemplar-selection objective in training-data curation).
  * Greedy is (1 − 1/e)-optimal for monotone submodular F.
  *
  * Complements the engine's other selectors: k-center minimizes the WORST
  * point's distance (outlier-sensitive cover), facility location maximizes
  * AVERAGE representation (density-seeking cover); PageRank/HITS rank by
  * graph centrality without choosing a cover at all.
  *
  * Spark shape, built for the 100 TB case:
  *  - candidates come from a bounded deterministic pool (id % mod == 0 —
  *    in production a cluster-representative table), collected and
  *    broadcast: m·d doubles, the same bounded-collect contract as the
  *    centroid fits;
  *  - similarities to the pool are computed ONCE into a width-m array
  *    column (zero shuffle, one scan), then each greedy round is ONE
  *    whole-corpus aggregate with m decimal-exact marginal-gain sums —
  *    no per-round shuffle, no N×m pair table, k linear passes total;
  *  - the running best-similarity column (`cur`) is updated map-only per
  *    round with localCheckpoint lineage truncation (the coreset pattern).
  *
  * Determinism: sim = (1 + cosine)/2 via ascending-left-fold dots (the
  * [[VectorFunctions]] portability contract), marginal gains are
  * DECIMAL(38,30) sums (order-free), argmax ties break to the lowest
  * candidate id, picked candidates are excluded from later rounds — every
  * float replays in DuckDB, so the full greedy trajectory hash-checks.
  */
object FacilityLocation {

  /** Greedy-select `k` exemplars from the pool `idCol % poolMod == 0 AND
    * idCol < poolCap` — the cap keeps the pool size CONSTANT as the
    * corpus grows (m bounded by design, not by luck; at 100 TB the pool
    * comes from a cluster-representative table, same contract).
    * Returns one row per round: (rnd, center_id, gain) where gain is the
    * decimal-exact marginal objective increase of that pick.
    */
  def greedy(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolMod: Long,
      poolCap: Long = Long.MaxValue
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dec = DecimalType(38, 30)

    val corpus = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))

    // bounded candidate pool, broadcast via literals (m·d doubles)
    val pool: Array[(Long, Seq[Double])] = corpus
      .filter(col("id") % poolMod === 0 && col("id") < poolCap)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(pool.nonEmpty, "empty candidate pool")
    require(k <= pool.length, s"k=$k > pool size ${pool.length}")

    // native codegen'd dot kernel (DotExpr == the aggregate/zip_with
    // fold, same ascending accumulation — the RewriteVectorKernels
    // contract), so the m-wide sims build never routes through
    // interpreted higher-order functions
    import graft.functions.VectorExpressions.dotFast
    // candidate norms on the driver with the same ascending fold +
    // math.sqrt the SQL replay uses (bit-identical), so the per-row work
    // is m dots + ONE corpus-vector norm — not m norm recomputations
    def unitSim(c: Seq[Double]): Column =
      (lit(1.0) + dotFast(col("v"), typedLit(c)) /
        (col("nrm") * lit(KMeansLocal.l2Norm(c)))) / 2.0

    // one scan: width-m similarity array + cur = 0; checkpoint once
    var state = corpus
      .withColumn("nrm", sqrt(dotFast(col("v"), col("v"))))
      .select(
        col("id"),
        array(pool.map { case (_, c) => unitSim(c) }: _*).as("sims"),
        lit(0.0).as("cur"))
      .localCheckpoint()

    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val taken = scala.collection.mutable.HashSet[Int]()
    // the gain aggregate keeps an IDENTICAL plan shape every round (all m
    // candidates, fixed literal indexes — taken ones are masked on the
    // driver, their gain is 0 anyway): one whole-stage codegen compile
    // serves all k rounds instead of one Janino compile per round
    val gainCols = pool.indices.map(i =>
      sum((greatest(col("sims")(i), col("cur")) - col("cur")).cast(dec)))
    var rnd = 1
    while (rnd <= k) {
      val gains = state.agg(gainCols.head, gainCols.tail: _*).head()
      // argmax over unpicked candidates by (gain DESC, candidate id ASC)
      // — double compare, same as the oracle's ORDER BY
      var bi = -1
      var bestGain = Double.NegativeInfinity
      var p = 0
      while (p < pool.length) {
        if (!taken(p)) {
          val g = gains.getDecimal(p).doubleValue()
          if (g > bestGain) { bestGain = g; bi = p }
        }
        p += 1
      }
      taken += bi
      picked += ((rnd.toLong, pool(bi)._1, bestGain))
      if (rnd < k) {
        // lazy checkpoint: materialized by the next round's aggregate —
        // lineage still truncated, one job per round instead of two
        state = state
          .withColumn("cur", greatest(col("sims")(bi), col("cur")))
          .localCheckpoint(false)
      }
      rnd += 1
    }
    picked.toSeq.toDF("rnd", "center_id", "gain")
  }

  /** Coverage audit of a selected exemplar set: every corpus point is
    * attributed to its best pick (max sim, ties to the lowest pick id),
    * then per pick: attracted count, decimal-exact mean similarity, and
    * the weakest covered point's similarity — the report that makes
    * selection quality measurable (is any exemplar carrying dead
    * weight? how thin is the worst coverage?). Zero-shuffle scoring
    * against the broadcast picks + one k-group aggregate.
    */
  def coverage(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      picks: Array[(Long, Seq[Double])]
  ): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.VectorExpressions.dotFast
    require(picks.nonEmpty, "empty pick set")
    val corpus = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // struct (sim, -pickId): lexicographic max = highest sim, ties to
    // the LOWEST pick id
    val cands = picks.map { case (pid, c) =>
      struct(
        ((lit(1.0) + dotFast(col("v"), typedLit(c)) /
          (col("nrm") * lit(KMeansLocal.l2Norm(c)))) / 2.0).as("sim"),
        lit(-pid).as("negpid"))
    }
    corpus
      .withColumn("nrm", sqrt(dotFast(col("v"), col("v"))))
      .select(element_at(sort_array(array(cands: _*), asc = false), 1).as("b"))
      .select((-col("b.negpid")).as("center_id"), col("b.sim").as("sim"))
      .groupBy("center_id")
      .agg(
        count(lit(1)).as("attracted"),
        (sum(col("sim").cast(DecimalType(38, 30))).cast("double")
          / count(lit(1))).as("mean_sim"),
        min(col("sim")).as("min_sim"))
  }
}
