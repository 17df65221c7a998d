package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftExtensions
import graft.operators._

import Checks.Nbr
import Inputs.{DocParams, VecParams}

/** Seeded ANN + dedup benchmark over the public operator API in
  * `graft.operators`, with the query catalogue's parameters.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * perfbench.Main --self-test 1 --work <dir>
  * }}}
  *
  * One run: start Spark; generate the inputs and write them as parquet
  * (three times, for a steady set-up time); run one warm-up pass at toy
  * size, with one NN-Descent iteration and one beam round (the same code
  * paths as the measured pass, at a fraction of its job count); then run
  * the workload's measured passes, and more while another one still fits
  * in `--seconds`. The last stdout line is the JSON result.
  *
  * Spark's per-job floor (tens to hundreds of ms on a 4-core box) makes a
  * pass of either chain take tens of seconds even at these sizes, which is
  * what bounds the sizes and the number of workloads.
  */
object Main {

  // catalogue parameters (hnsw_*, knn_graph*, dedup_* queries)
  val K = 10
  val HnswParamsUsed: HnswParams = HnswParams(m = 16, efConstruction = 100)
  val HnswShards = 4
  val PqM = 8
  val PqK = 64
  val NndK = 10
  val NndIters = 2
  val Alpha = 1.2
  val MaxDegree = 8
  val Beam = 24
  val Rounds = 6
  val Shingle = 3
  val MinhashTau = 0.5
  val TfidfTau = 0.4
  val TfidfMaxDfFraction = 0.1
  val TfidfMaxDfAbs = 10000
  val ModelSeed = 42L
  val InputReps = 3
  val PairSample = 48

  /** Which operator chain a workload runs. */
  sealed trait Chain
  /** PQ train -> HNSW build with codes -> raw and PQ search -> NN-Descent
    * graph -> Vamana prune -> raw and PQ beam search -> exact kNN -> recall
    * of each approximate result.
    */
  case object VectorChain extends Chain
  /** MinHash-LSH pairs, tf-idf pairs, connected components of their union. */
  case object DedupChain extends Chain

  /** `passes`: measured passes per run. A dedup pass takes a few seconds
    * and each of the first few is faster than the last as the JIT warms,
    * so its median needs several at a fixed count; a vector pass takes
    * ~30 s.
    */
  final case class Workload(name: String, chain: Chain, vec: VecParams, docs: DocParams, passes: Int)

  private def docs(n: Int) = DocParams(n, vocab = 5000, zipfS = 1.0, minLen = 50, maxLen = 70,
    dupShare = 0.2, editShare = 0.1)
  private def vecs(n: Int, queries: Int) = VecParams(n, dim = 64, clusters = 32, spread = 0.6, queries = queries)

  val workloads: Seq[Workload] = Seq(
    // every vector layer, at sf0.1 scale (where the query suite lives);
    // no dedup layer runs
    Workload("ann", VectorChain, vecs(2048, 128), docs(0), passes = 1),
    // the three dedup calls; no vector layer runs
    Workload("dedup", DedupChain, vecs(0, 0), docs(1500), passes = 5)
  )

  /** The same chain at toy size: the warm-up pass and the self-test. */
  def toy(w: Workload): Workload = w.chain match {
    case DedupChain => w.copy(docs = docs(500))
    case VectorChain => w.copy(vec = vecs(256, 16))
  }

  /** Per-layer spans, named `<Module>.<function>`. */
  val SpanNames: Seq[String] = Seq(
    "ProductQuantizer.train", "DistributedHnsw.build", "DistributedHnsw.search", "DistributedHnsw.search_pq",
    "NNDescent.knnGraph", "NNDescent.robustPrune", "NNDescent.beamSearch", "NNDescent.beamSearchCompressed",
    "BruteForceKNN.knn", "RecallEval.recallAtK", "Dedup.minhashLsh", "Dedup.tfidfPairs",
    "Dedup.connectedComponents")
  /** Spans that also report rows_per_result, their waste ratio. */
  val WasteSpans: Set[String] = Set(
    "NNDescent.knnGraph", "NNDescent.beamSearch", "BruteForceKNN.knn", "Dedup.minhashLsh", "Dedup.tfidfPairs")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts.getOrElse("work", sys.error("--work <dir> is required"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(work, cpus)
    val code =
      try {
        if (opts.contains("self-test")) selfTest(new Bench(spark, work, cpus))
        else {
          val wl = workloads.find(w => opts.get("workload").contains(w.name)).getOrElse(
            sys.error(s"--workload must be one of ${workloads.map(_.name).mkString(", ")}"))
          println(new Bench(spark, work, cpus).run(
            wl, opts("seed").toLong, opts("seconds").toDouble, opts.get("trace").contains("1"), opts.get("trace-out")))
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Each workload at toy size: clean outputs must pass every check, and
    * a seeded defect must make failed_op_share non-zero.
    */
  def selfTest(bench: Bench): Int = {
    val bad = workloads.flatMap { w =>
      val clean = bench.selfTestPass(toy(w), seed = 7, defect = false)
      val broken = bench.selfTestPass(toy(w), seed = 7, defect = true)
      println(s"self-test ${w.name}: clean failed ${clean._2}/${clean._1}, seeded defect failed ${broken._2}/${broken._1}")
      (if (clean._2 != 0) Seq(s"${w.name}: clean outputs failed ${clean._2} checks") else Nil) ++
        (if (broken._2 == 0) Seq(s"${w.name}: the seeded defect was not detected") else Nil)
    }
    bad.foreach(b => println(s"SELF-TEST FAIL $b"))
    if (bad.isEmpty) { println("SELF-TEST PASS"); 0 } else 1
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Everything one pass produced: its spans, outputs for the checks, and
  * failed calls.
  */
final class Pass(val no: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.HashMap.empty[Int, SpanCounts]
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var wallS = 0.0

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def wall(names: String*): Double = names.map(n => named(n).map(_.wallS).sum).sum
  def failed: Int = failures.size
  def out[T](key: String): Option[T] = outputs.get(key).map(_.asInstanceOf[T])
}

final class Bench(spark: SparkSession, work: String, cpus: Int) {
  import Main._
  import spark.implicits._

  // set-up starts with the JVM: session start is part of it
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var tracer: Option[Tracer] = None
  private var nextSpan = 0

  /** Inputs of one workload and seed, plus the driver-side references. */
  final class Data(val wl: Workload, val seed: Long, val dir: String) {
    val vecs: Inputs.Vectors = Inputs.vectors(wl.vec, seed)
    val corpus: Inputs.Docs = Inputs.docs(wl.docs, seed)

    def write(): Unit = {
      if (wl.vec.n > 0) {
        vecs.base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("id", "vec").write.mode("overwrite").parquet(s"$dir/vectors")
        vecs.queries.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
          .toDF("query_id", "qv").write.mode("overwrite").parquet(s"$dir/queries")
      }
      if (wl.docs.n > 0)
        corpus.text.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
          .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    }

    lazy val truth: Array[Array[Nbr]] = Checks.bruteForce(vecs.queries, vecs.base, K)
  }

  // ---- one pass ------------------------------------------------------

  /** Time `body` as one span of `p`; an exception fails the call. */
  private def op[T](p: Pass, name: String)(body: => (T, Long)): Option[T] = {
    p.attempted += 1
    val id = nextSpan
    nextSpan += 1
    tracer.foreach(_.begin(s"span-$id"))
    val (e0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val out = try Right(body) catch { case t: Throwable => Left(t) }
    val (t1, e1) = (System.nanoTime(), System.currentTimeMillis())
    tracer.foreach(t => p.counts(id) = t.end(s"span-$id"))
    p.spans += Span(id, name, e0, e1, (t1 - t0) / 1e9, out.map(_._2).getOrElse(0L))
    System.err.println(f"[perfbench] pass ${p.no} $name ${(t1 - t0) / 1e9}%.3f s")
    out match {
      case Right((v, _)) => Some(v)
      case Left(t) =>
        p.failures(s"$name#$id") = s"${t.getClass.getName}: ${t.getMessage}"
        None
    }
  }

  private def nbrs(rows: Array[Row], q: String, id: String): Seq[Nbr] =
    rows.map(r => Nbr(r.getAs[Long](q), r.getAs[Long](id), r.getAs[Double]("dist"),
      r.getAs[Number]("rnk").intValue)).toSeq

  private def nbrDf(rows: Seq[Nbr]): DataFrame =
    rows.map(n => (n.q, n.id, n.rnk)).toDF("query_id", "neighbor_id", "rnk")

  /** A ranked-neighbor call: collect, keep the output under `key`. */
  private def search(p: Pass, name: String, key: String)(df: => DataFrame): Option[Seq[Nbr]] =
    op(p, name) {
      val r = nbrs(df.collect(), "query_id", "neighbor_id")
      p.outputs(key) = r
      (r, r.size.toLong)
    }

  private def pairs(df: DataFrame, score: String): Seq[(Long, Long, Double)] =
    df.collect().map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"), x.getAs[Double](score))).toSeq

  /** One pass over the workload's parquet inputs, outputs materialized on
    * the driver. The driver GC between operators is hygiene, not part of
    * the pass time.
    */
  def pass(d: Data, no: Int, warmUp: Boolean = false): Pass = {
    val p = new Pass(no)
    val (iters, rounds) = if (warmUp) (1, 1) else (NndIters, Rounds)
    var hygieneNs = 0L
    val hygiene = () => { val t = System.nanoTime(); System.gc(); hygieneNs += System.nanoTime() - t }
    val t0 = System.nanoTime()
    d.wl.chain match {
      case DedupChain => dedupChain(d, p, hygiene)
      case VectorChain => vectorChain(d, p, iters, rounds, hygiene)
    }
    p.wallS = (System.nanoTime() - t0 - hygieneNs) / 1e9
    // release this pass's shards, caches and checkpoints before the next one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    p
  }

  private def vectorChain(d: Data, p: Pass, iters: Int, rounds: Int, hygiene: () => Unit): Unit = {
    val base = spark.read.parquet(s"${d.dir}/vectors")
    val queries = spark.read.parquet(s"${d.dir}/queries")
    val model = op(p, "ProductQuantizer.train") {
      val m = ProductQuantizer.train(base, "vec", m = PqM, k = PqK, seed = ModelSeed)
      p.outputs("pq_model") = m
      (m, 1L)
    }
    hygiene()
    // one trained codebook serves the HNSW build's codes, the HNSW PQ search
    // and the PQ beam search
    val comp = model.map(new PQCompression(_))
    val shards = comp.flatMap { c =>
      op(p, "DistributedHnsw.build") {
        val s = DistributedHnsw.build(base, "id", "vec", HnswParamsUsed, HnswShards, ModelSeed, Some(c))
        val edges = s.edges.count()
        p.outputs("hnsw_edges") = edges
        (s, edges)
      }
    }
    hygiene()
    shards.foreach { s =>
      search(p, "DistributedHnsw.search", "hnsw")(DistributedHnsw.search(s, queries, "query_id", "qv", K))
      hygiene()
      search(p, "DistributedHnsw.search_pq", "hnsw_pq")(
        DistributedHnsw.search(s, queries, "query_id", "qv", K, compression = comp))
      hygiene()
    }
    val graph = op(p, "NNDescent.knnGraph") {
      val g = NNDescent.knnGraph(base, "id", "vec", NndK, iters)
      val r = nbrs(g.withColumnRenamed("src", "query_id").withColumnRenamed("dst", "neighbor_id").collect(),
        "query_id", "neighbor_id")
      p.outputs("knn_graph") = r
      (g, r.size.toLong)
    }
    hygiene()
    val pruned = graph.flatMap { g =>
      op(p, "NNDescent.robustPrune") {
        val pr = NNDescent.robustPrune(g, base, "id", "vec", Alpha, MaxDegree).localCheckpoint()
        val r = pr.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
        p.outputs("pruned") = r
        (pr, r.size.toLong)
      }
    }
    hygiene()
    pruned.foreach { pr =>
      search(p, "NNDescent.beamSearch", "beam")(NNDescent.beamSearch(pr, base, "id", "vec",
        queries, "query_id", "qv", k = K, beam = Beam, rounds = rounds, entryId = 0L))
      hygiene()
      model.foreach { m =>
        val codes = base.select(col("id"), ProductQuantizer.encodeCol(m, col("vec")).as("code"))
        search(p, "NNDescent.beamSearchCompressed", "beam_pq")(NNDescent.beamSearchCompressed(pr, codes, m,
          base, "id", "vec", queries, "query_id", "qv", k = K, beam = Beam, rounds = rounds, entryId = 0L))
      }
      hygiene()
    }
    val exact = search(p, "BruteForceKNN.knn", "exact")(BruteForceKNN.knn(
      queries, base.select(col("id").as("neighbor_id"), col("vec").as("bv")), K))
    hygiene()
    for (ex <- exact; m <- Approx; approx <- p.out[Seq[Nbr]](m)) {
      op(p, "RecallEval.recallAtK") {
        val r = RecallEval.recallAtK(nbrDf(approx), nbrDf(ex), K).collect()
        val mean = r.map(_.getAs[Double]("recall")).sum / r.length
        p.outputs(s"recall:$m") = mean
        (mean, r.length.toLong)
      }
    }
  }

  /** The approximate outputs scored for recall. */
  private val Approx = Seq("hnsw", "hnsw_pq", "beam", "beam_pq")

  private def dedupChain(d: Data, p: Pass, hygiene: () => Unit): Unit = {
    val docs = spark.read.parquet(s"${d.dir}/docs")
    val mh = op(p, "Dedup.minhashLsh") {
      val r = pairs(Dedup.minhashLsh(docs, "doc_id", "text", n = Shingle, numPerms = 16, bands = 4,
        tau = MinhashTau), "jaccard")
      p.outputs("minhash") = r
      (r, r.size.toLong)
    }
    hygiene()
    val tf = op(p, "Dedup.tfidfPairs") {
      val r = pairs(Dedup.tfidfPairs(docs, "doc_id", "text", n = Shingle, maxDfFraction = TfidfMaxDfFraction,
        maxDfAbs = TfidfMaxDfAbs, tau = TfidfTau), "tfidf_cos")
      p.outputs("tfidf") = r
      (r, r.size.toLong)
    }
    hygiene()
    val union = (mh.getOrElse(Nil) ++ tf.getOrElse(Nil)).map(x => (x._1, x._2)).distinct
    p.outputs("union") = union
    op(p, "Dedup.connectedComponents") {
      val r = Dedup.connectedComponents(union.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      p.outputs("components") = r
      (r, r.size.toLong)
    }
  }

  // ---- output checks --------------------------------------------------

  /** Corrupt one output the way a bug would, to show the checks fire. */
  private def seedDefect(wl: Workload, p: Pass): Unit = wl.chain match {
    case VectorChain => // one swapped neighbor id in the exact result
      p.out[Seq[Nbr]]("exact").foreach { r =>
        p.outputs("exact") = r.head.copy(id = (r.head.id + 1) % wl.vec.n) +: r.tail
      }
    case DedupChain => // a near-duplicate pair split across two components
      for (u <- p.out[Seq[(Long, Long)]]("union"); c <- p.out[Seq[(Long, Long)]]("components")) {
        val b = u.head._2
        p.outputs("components") = c.map { case (doc, rep) => (doc, if (doc == b) -1L else rep) }
      }
  }

  /** Full output checks of one pass; a failed check fails its call. */
  def check(d: Data, p: Pass): Unit = {
    val wl = d.wl
    val base = d.vecs.base
    val qv = d.vecs.queries
    def fail(name: String, why: Option[String]): Unit = why.foreach(w => p.failures.getOrElseUpdate(name, w))
    val allQ = 0L until wl.vec.queries.toLong
    val l2 = (q: Long, id: Long) => Checks.l2Sq(qv(q.toInt), base(id.toInt))
    p.out[Seq[Nbr]]("hnsw").foreach(r => fail("DistributedHnsw.search", Checks.ranked(r, allQ, K, l2)))
    for (r <- p.out[Seq[Nbr]]("hnsw_pq"); m <- p.out[PQModel]("pq_model")) {
      val codes = base.map(m.encodeVec)
      fail("DistributedHnsw.search_pq", Checks.ranked(r, allQ, K, (q, id) => m.adc(qv(q.toInt), codes(id.toInt))))
    }
    p.out[Seq[Nbr]]("knn_graph").foreach(r => fail("NNDescent.knnGraph", Checks.ranked(r,
      base.indices.map(_.toLong), NndK, (s, id) => Checks.l2Sq(base(s.toInt), base(id.toInt)))))
    p.out[Seq[(Long, Long, Double)]]("pruned").foreach(r =>
      fail("NNDescent.robustPrune", Checks.pruned(r, base, MaxDegree)))
    p.out[Seq[Nbr]]("beam").foreach(r => fail("NNDescent.beamSearch", Checks.ranked(r, allQ, K, l2)))
    p.out[Seq[Nbr]]("beam_pq").foreach(r => fail("NNDescent.beamSearchCompressed", Checks.ranked(r, allQ, K, l2)))
    p.out[Seq[Nbr]]("exact").foreach(r => fail("BruteForceKNN.knn", Checks.sameAs(r, d.truth)))
    for (m <- Approx; approx <- p.out[Seq[Nbr]](m); got <- p.out[Double](s"recall:$m")) {
      val want = Checks.recall(approx, d.truth, K)
      if (math.abs(got - want) > 1e-12) fail("RecallEval.recallAtK", Some(s"$m recall $got != $want"))
    }
    val text = d.corpus.text
    p.out[Seq[(Long, Long, Double)]]("minhash").foreach(r => fail("Dedup.minhashLsh",
      Checks.pairsHold(r, ps => ps.map { case (a, b) => (a, b) -> Checks.jaccard(text(a.toInt), text(b.toInt), Shingle) }.toMap,
        MinhashTau, 1e-9, PairSample)))
    p.out[Seq[(Long, Long, Double)]]("tfidf").foreach(r => fail("Dedup.tfidfPairs",
      Checks.pairsHold(r, ps => Checks.tfidfCos(text, ps, Shingle, TfidfMaxDfFraction, TfidfMaxDfAbs),
        TfidfTau, 1e-6, PairSample)))
    for (u <- p.out[Seq[(Long, Long)]]("union"); c <- p.out[Seq[(Long, Long)]]("components"))
      fail("Dedup.connectedComponents", Checks.components(u, c))
  }

  /** Fingerprint of every output, for the across-pass comparison. */
  private def fingerprints(p: Pass): Map[String, Int] =
    p.outputs.map {
      case (k, v: Seq[_]) => k -> Checks.fingerprint(v.asInstanceOf[Seq[Product]])
      case (k, m: PQModel) => k -> m.flatCodebook.toSeq.hashCode
      case (k, v) => k -> v.hashCode
    }.toMap

  /** The workload's quality figures from one pass: Recall@10 of each
    * approximate search against exact kNN, or the share of planted
    * near-duplicate pairs the union of pair methods found.
    */
  private def qualities(d: Data, p: Pass): Seq[(String, Double)] = d.wl.chain match {
    case DedupChain =>
      val found = p.out[Seq[(Long, Long)]]("union").getOrElse(Nil).toSet
      val planted = d.corpus.planted.distinct
      Seq("dedup_pair_recall" -> planted.count(found).toDouble / planted.length)
    case VectorChain => Approx.map(m => s"recall_at_10:$m" -> p.out[Double](s"recall:$m").getOrElse(0.0))
  }

  // ---- set-up and the measured run ------------------------------------

  def selfTestPass(wl: Workload, seed: Long, defect: Boolean): (Int, Int) = {
    val d = new Data(wl, seed, s"$work/selftest-${wl.name}")
    d.write()
    val p = pass(d, 1)
    if (defect) seedDefect(wl, p)
    check(d, p)
    p.failures.foreach { case (k, v) => System.err.println(s"[perfbench] ${wl.name} $k: $v") }
    (p.attempted, p.failed)
  }

  def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, traceOut: Option[String]): String = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val inputS = (1 to InputReps).map { _ =>
      val t = System.nanoTime()
      val d = new Data(wl, seed, s"$work/inputs")
      d.write()
      ((System.nanoTime() - t) / 1e9, d)
    }
    System.err.println(s"[perfbench] session ${sessionS} s, inputs ${inputS.map(_._1).mkString(" ")} s")
    val d = inputS.last._2
    val tw = System.nanoTime()
    val toyData = new Data(toy(wl), seed, s"$work/inputs-toy")
    toyData.write()
    pass(toyData, 0, warmUp = true)
    val setupS = sessionS + median(inputS.map(_._1)) + (System.nanoTime() - tw) / 1e9
    println(s"inputs: workload=${wl.name} seed=$seed " +
      (if (wl.vec.n > 0) s"vectors[${wl.vec.describe}] " else "") +
      (if (wl.docs.n > 0) s"docs[${wl.docs.describe}] " else "") +
      s"spark=local[$cpus] shuffle_partitions=$cpus")
    if (wl.vec.n > 0) d.truth

    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    val start = System.nanoTime()
    var last = 0.0
    var fp: Map[String, Int] = null
    // a traced run alternates traced and untraced passes, traced first, so
    // it measures its own overhead (over-stated by the first pass's colder JIT)
    val minPasses = math.max(wl.passes, if (traced) 2 else 1)
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      val on = traced && passes.size % 2 == 0
      if (on) { tracer = Some(new Tracer(spark)); tracer.get.attach() }
      val p = pass(d, passes.size + 1)
      tracer.foreach(_.detach())
      tracer = None
      if (passes.isEmpty) check(d, p)
      val f = fingerprints(p)
      if (fp == null) fp = f
      else f.foreach { case (k, v) =>
        if (!fp.get(k).contains(v)) p.failures.getOrElseUpdate(s"fingerprint:$k", "output differs from pass 1")
      }
      p.failures.foreach { case (k, v) => System.err.println(s"[perfbench] pass ${p.no} $k: $v") }
      passes += ((p, on))
      last = (System.nanoTime() - t) / 1e9
    }
    val all = passes.map(_._1).toSeq
    println("quality: " + qualities(d, all.head).map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val rss = peakRssMb()
    traceOut.foreach(f => writeTrace(f, wl, seed, passes.toSeq))
    System.err.println(s"[perfbench] ${all.size} measured passes: " +
      all.map(p => f"${p.wallS}%.2f").mkString(" ") + " s")
    val metrics =
      if (traced) perLayer(passes.toSeq)
      else endToEnd(d, all, setupS, rss, attempted, failed)
    val body = metrics.map { case (n, (v, u)) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The build calls, the served calls, and the items each served call handles. */
  private def stages(wl: Workload): (Seq[String], Seq[String], Int) = wl.chain match {
    case VectorChain => (
      Seq("ProductQuantizer.train", "DistributedHnsw.build", "NNDescent.knnGraph", "NNDescent.robustPrune"),
      Seq("DistributedHnsw.search", "DistributedHnsw.search_pq", "NNDescent.beamSearch",
        "NNDescent.beamSearchCompressed"),
      wl.vec.queries)
    case DedupChain => (Seq("Dedup.minhashLsh", "Dedup.tfidfPairs"),
      Seq("Dedup.minhashLsh", "Dedup.tfidfPairs", "Dedup.connectedComponents"), wl.docs.n)
  }

  private def endToEnd(d: Data, ps: Seq[Pass], setupS: Double, rss: Double, attempted: Int, failed: Int)
      : Seq[(String, (Double, String))] = {
    def med(f: Pass => Double) = median(ps.map(f))
    val (build, served, items) = stages(d.wl)
    Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (med(_.wallS), "s"),
      "build_s" -> (med(_.wall(build: _*)), "s"),
      "items_per_s" -> (med(p => items * served.size / p.wall(served: _*)), "1/s"),
      "quality" -> (med(p => qualities(d, p).map(_._2).sum / qualities(d, p).size), "ratio"),
      "peak_rss_mb" -> (rss, "MB"),
      "ok_op_share" -> (1.0 - failed.toDouble / attempted, "ratio")
    )
  }

  /** Per-span stats of one traced pass, summed over the spans of a name. */
  private def spanStats(p: Pass, name: String): Seq[(String, (Double, String))] = {
    val cs = p.named(name).map(s => s -> p.counts.getOrElse(s.id, new SpanCounts))
    def sum(f: SpanCounts => Long) = cs.map(c => f(c._2)).sum.toDouble
    val stats = Seq(
      "wall_s" -> (cs.map(_._1.wallS).sum, "s"),
      "plan_s" -> (sum(_.planMs) / 1e3, "s"),
      "driver_gap_s" -> (cs.map { case (s, c) => Tracer.driverGapS(s, c) }.sum, "s"),
      "jobs" -> (sum(_.jobs), "count"),
      "tasks" -> (sum(_.tasks), "count"),
      "task_busy_s" -> (sum(_.busyMs) / 1e3, "s"),
      "shuffle_bytes" -> (sum(_.shuffleBytes), "bytes"),
      "spill_bytes" -> (sum(_.spillBytes), "bytes"),
      "gc_ms" -> (sum(_.gcMs), "ms")
    ) ++ (if (WasteSpans(name))
            Seq("rows_per_result" -> (sum(_.planRows) / math.max(1L, cs.map(_._1.rows).sum), "ratio"))
          else Nil)
    stats.map { case (k, v) => s"$name.$k" -> v }
  }

  /** Medians over the traced passes; a span the workload does not call reads 0. */
  private def perLayer(passes: Seq[(Pass, Boolean)]): Seq[(String, (Double, String))] = {
    val on = passes.filter(_._2).map(_._1)
    val off = passes.filterNot(_._2).map(_._1)
    val layers = SpanNames.flatMap { n =>
      val per = on.map(spanStats(_, n))
      per.head.indices.map(i => per.head(i)._1 -> (median(per.map(_(i)._2._1)), per.head(i)._2._2))
    }
    val tracedS = median(on.map(_.wallS))
    val untracedS = median(off.map(_.wallS))
    layers ++ Seq(
      "traced_pass_s" -> (tracedS, "s"),
      "untraced_pass_s" -> (untracedS, "s"),
      "trace_overhead_ratio" -> (tracedS / untracedS, "ratio"))
  }

  /** Every span of the run, as JSON: name, start, end, parent, pass, and
    * the listener counts of traced passes.
    */
  private def writeTrace(path: String, wl: Workload, seed: Long, passes: Seq[(Pass, Boolean)]): Unit = {
    val spans = passes.flatMap { case (p, on) =>
      val passId = -p.no
      s"""{"id":$passId,"name":"pass","pass":${p.no},"parent":null,"traced":$on,"wall_s":${num(p.wallS)}}""" +:
        p.spans.map { s =>
          val c = p.counts.get(s.id).map(c =>
            s""","jobs":${c.jobs},"tasks":${c.tasks},"task_busy_s":${c.busyMs / 1e3},"plan_s":${c.planMs / 1e3},""" +
              s""""driver_gap_s":${num(Tracer.driverGapS(s, c))},"shuffle_bytes":${c.shuffleBytes},""" +
              s""""spill_bytes":${c.spillBytes},"gc_ms":${c.gcMs},"plan_rows":${c.planRows}""").getOrElse("")
          s"""{"id":${s.id},"name":"${s.name}","pass":${p.no},"parent":$passId,"start_ms":${s.startMs},""" +
            s""""end_ms":${s.endMs},"wall_s":${num(s.wallS)},"rows":${s.rows}$c}"""
        }
    }
    val json = s"""{"workload":"${wl.name}","seed":$seed,"spans":[\n${spans.mkString(",\n")}\n]}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
