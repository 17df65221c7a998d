package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators._

/** ScalaCheck properties from SURVEY.md §5.2.2: recall(BF,BF)=1, top-k ⊆
  * full-sort prefix, decode(encode) error bounded by centroid coverage,
  * k-means inertia not worse than its initialization, SDC symmetry.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._
  import graft.queries.Q

  /** Deterministic ScalaCheck sampling: run `body` over `n` seeded draws. */
  private def forSamples[T](gen: Gen[T], n: Int = 30)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private val vecGen: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](8, Gen.chooseNum(-1.0, 1.0))
  private val dataGen: Gen[Array[Array[Double]]] =
    Gen.containerOfN[Array, Array[Double]](40, vecGen)

  private def bruteTopK(
      data: Array[Array[Double]], q: Array[Double], k: Int): Seq[Int] =
    data.zipWithIndex
      .map { case (v, i) => (KMeansLocal.l2Sq(q, v), i) }
      .sortBy(x => (x._1, x._2)).take(k).map(_._2).toSeq

  test("k-center greedy is a 2-approximation: coverage radius <= 2x brute-force optimum") {
    import graft.operators.Coreset
    // 10 deterministic 2-d points; optimum over all C(10,3) center sets
    val pts = (0 until 10).map { i =>
      (i.toLong, Seq((i * 37 % 11).toDouble, (i * 53 % 13).toDouble))
    }
    val df = pts.toDF("id", "vec")
    val centers = Coreset.kCenterGreedy(df, "id", "vec", k = 3)
      .collect().map(_.getLong(1)).toSet
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def radius(cs: Set[Long]): Double = {
      val cvs = pts.filter(p => cs.contains(p._1)).map(_._2)
      pts.map(p => cvs.map(c => d2(p._2, c)).min).max
    }
    val greedy = math.sqrt(radius(centers))
    val opt = math.sqrt(
      pts.map(_._1).combinations(3).map(c => radius(c.toSet)).min)
    assert(greedy <= 2.0 * opt + 1e-12,
      s"greedy radius $greedy exceeds 2x optimum $opt")
  }

  test("label propagation: labeled set grows monotonically; labels never flip") {
    import graft.operators.LabelProp
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7L), (10L, 9L)).toDF("id", "lab")
    val ids = ((1L to 6L) ++ Seq(10L, 11L, 99L)).toDF("id")
    var prev = Map.empty[Long, Long]
    for (r <- 1 to 4) {
      val cur = LabelProp.labelPropagation(edges, seeds, ids, rounds = r)
        .collect().filter(!_.isNullAt(1))
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(prev.keySet.subsetOf(cur.keySet),
        s"round $r lost labels: ${prev.keySet -- cur.keySet}")
      prev.foreach { case (id, lab) =>
        assert(cur(id) == lab, s"round $r flipped $id: $lab -> ${cur(id)}")
      }
      prev = cur
    }
    assert(prev.keySet == Set(1L, 2L, 3L, 4L, 5L, 10L, 11L))
  }

  test("SNM: pairs at a smaller window are a subset of a larger window's") {
    import graft.operators.Dedup
    val docs = Q.t(spark, sf0001, "documents")
    val small = Dedup.snmPairs(docs, "doc_id", "text", window = 4, 3, 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val large = Dedup.snmPairs(docs, "doc_id", "text", window = 8, 3, 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small.subsetOf(large), s"lost pairs: ${small -- large}")
  }

  test("top-k buffer: NaN ranks after every finite distance (one total order)") {
    // a NaN at the heap root must not reject the finite distances behind it
    val buf = new graft.functions.TopKBuffer(2)
    buf.add(Double.NaN, 0L)
    buf.add(3.0, 1L)
    buf.add(1.0, 2L)
    assert(buf.sortedEntries.toSeq == Seq((1.0, 2L), (3.0, 1L)))
  }

  test("top-k is always a prefix of the full (dist, id) sort") {
    forSamples(Gen.zip(dataGen, vecGen)) { case (data, q) =>
      if (data.nonEmpty) {
        val k = math.min(5, data.length)
        assert(bruteTopK(data, q, k) == bruteTopK(data, q, data.length).take(k))
      }
    }
  }

  test("NFC normalize: idempotent, JVM-reference-equal, astral-plane safe") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // alphabet mixes ASCII, a combining acute, precomposed é, and an
    // astral-plane emoji (surrogate pair) — the code-point edge cases
    val charGen = Gen.oneOf("a", "e", "́", "é", "😀", " ")
    val strGen = for {
      n <- Gen.chooseNum(0, 12)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    val samples = scala.collection.mutable.ArrayBuffer.empty[String]
    forSamples(strGen, n = 80) { s => samples += s }
    val rows = samples.toSeq.toDF("s")
      .select(
        col("s"),
        graft.functions.NfcNormalizeExpr.nfc(col("s")).as("n1"),
        graft.functions.NfcNormalizeExpr.nfc(
          graft.functions.NfcNormalizeExpr.nfc(col("s"))).as("n2"))
      .collect()
    rows.foreach { r =>
      val (s, n1, n2) = (r.getString(0), r.getString(1), r.getString(2))
      // matches the JVM reference implementation exactly
      assert(n1 == java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.NFC), s"input=$s")
      // idempotent
      assert(n2 == n1, s"input=$s")
    }
    // the generator actually produced decomposed sequences that change
    assert(rows.exists(r => r.getString(0) != r.getString(1)))
  }

  test("banded Levenshtein == unbounded DP filter on random string pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val strGen = for {
      n <- Gen.chooseNum(0, 24)
      cs <- Gen.containerOfN[Array, Char](n, Gen.oneOf('a', 'b', 'c', ' '))
    } yield new String(cs)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    forSamples(Gen.zip(strGen, strGen), n = 120) { p => pairs += p }
    val df = pairs.toSeq.toDF("ta", "tb")
      // the operator's per-pair budget shape: a fraction of the longer
      .withColumn("budget",
        floor(lit(0.3) * greatest(length(col("ta")), length(col("tb"))))
          .cast("int"))
      .withColumn("full", levenshtein(col("ta"), col("tb")))
      .withColumn("banded",
        Dedup.levenshteinBounded(col("ta"), col("tb"), col("budget")))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (full, banded, budget) = (r.getInt(3), r.getInt(4), r.getInt(2))
      // in budget: exact distance; over budget: the -1 early-exit marker
      if (full <= budget) assert(banded == full, r)
      else assert(banded == -1, r)
    }
    // both branches must actually occur for the property to mean anything
    assert(rows.exists(r => r.getInt(4) >= 0) && rows.exists(r => r.getInt(4) == -1))
  }

  test("recall(BF, BF) == 1: each base vector's own NN is itself (distinct vecs)") {
    forSamples(dataGen) { data =>
      val distinct = data.map(_.toSeq).distinct.map(_.toArray)
      if (distinct.length > 1) {
        distinct.zipWithIndex.foreach { case (v, i) =>
          assert(bruteTopK(distinct, v, 1).head == i)
        }
      }
    }
  }

  test("L2Sq is symmetric, non-negative, zero iff equal input") {
    forSamples(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val d = KMeansLocal.l2Sq(a, b)
      assert(d >= 0.0)
      assert(d == KMeansLocal.l2Sq(b, a))
      assert(KMeansLocal.l2Sq(a, a) == 0.0)
    }
  }

  test("SQ8: round-trip error bounded by half a step; codes in range; adc == l2(q, decode)") {
    val modelGen = for {
      lo <- Gen.containerOfN[Array, Double](8, Gen.chooseNum(-5.0, 0.0))
      span <- Gen.containerOfN[Array, Double](8, Gen.chooseNum(0.0, 10.0))
    } yield SQModel(lo, lo.zip(span).map { case (l, s) => l + s })
    forSamples(Gen.zip(modelGen, vecGen, vecGen)) { case (m, v, q) =>
      val code = m.encodeVec(v)
      assert(code.forall(c => c >= 0 && c <= 255))
      val r = m.decodeCode(code)
      (0 until m.d).foreach { j =>
        val span = m.hi(j) - m.lo(j)
        if (span > 0 && v(j) >= m.lo(j) && v(j) <= m.hi(j))
          assert(math.abs(r(j) - v(j)) <= span / 255.0 / 2.0 + 1e-12)
        else if (span <= 0)
          assert(r(j) == m.lo(j)) // degenerate dim pins to lo
      }
      // asymmetric distance is exactly L2² against the reconstruction
      assert(m.adc(q, code) == KMeansLocal.l2Sq(q, r))
      // symmetric distance is symmetric and zero on itself
      assert(m.sdc(code, code) == 0.0)
      val code2 = m.encodeVec(q)
      assert(m.sdc(code, code2) == m.sdc(code2, code))
    }
  }

  test("decode(encode(x)) error bounded by max distance to nearest centroid") {
    import spark.implicits._
    forSamples(dataGen, n = 5) { data =>
      if (data.length >= 8) {
        val df = data.toSeq.map(v => Tuple1(v.toSeq)).toDF("v")
        val model = ProductQuantizer.train(df, "v", m = 2, k = 4, seed = 7)
        data.foreach { v =>
          val err = KMeansLocal.l2Sq(v, model.decodeCode(model.encodeVec(v)))
          // per-subspace quantization error is the min over centroids, so
          // total error <= sum over subspaces of max-min coverage; sanity
          // bound: error never exceeds distance to the all-centroid
          // concatenation implied by any single code
          val worst = (0 until model.k).map { kk =>
            val code = Array.fill(model.m)(kk.toShort)
            KMeansLocal.l2Sq(v, model.decodeCode(code))
          }.min
          assert(err <= worst + 1e-9)
        }
      }
    }
  }

  test("k-means result inertia <= inertia of its own init centroids") {
    forSamples(dataGen, n = 10) { data =>
      if (data.length >= 4) {
        def inertia(cs: Array[Array[Double]]): Double =
          data.map(v => cs.map(KMeansLocal.l2Sq(v, _)).min).sum
        val init = KMeansLocal.kMeansPlusPlus(
          data, 3, new scala.util.Random(5))
        val fit = KMeansLocal.fit(data, 3, seed = 5)
        assert(fit.inertia <= inertia(init) + 1e-9)
      }
    }
  }

  test("native PQ expressions == PQModel kernels bit-exact across a random (M,K,D') grid") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, ShortType}
    import graft.functions._
    val cfgGen = Gen.zip(
      Gen.chooseNum(1, 4), // m
      Gen.chooseNum(2, 8), // k
      Gen.chooseNum(1, 5)  // dp
    )
    forSamples(cfgGen, n = 15) { case (m, k, dp) =>
      val rng = new scala.util.Random(m * 100 + k * 10 + dp)
      val model = PQModel(
        m, k, m * dp,
        Array.fill(m)(Array.fill(k)(Array.fill(dp)(rng.nextDouble() * 2 - 1))))
      val flat = model.flatCodebook
      val vs = Array.fill(6)(Array.fill(m * dp)(rng.nextDouble() * 2 - 1))
      def vecLit(v: Array[Double]) = Literal.create(v.toSeq, ArrayType(DoubleType))
      def codeLit(c: Array[Short]) = Literal.create(c.toSeq, ArrayType(ShortType))
      vs.foreach { v =>
        val code = model.encodeVec(v)
        val nEnc = PQEncodeExpr(vecLit(v), flat, m, k, dp)
          .eval(InternalRow.empty).asInstanceOf[ArrayData].toShortArray.toSeq
        assert(nEnc == code.toSeq, s"encode m=$m k=$k dp=$dp")
        val nDec = PQDecodeExpr(codeLit(code), flat, m, k, dp)
          .eval(InternalRow.empty).asInstanceOf[ArrayData].toDoubleArray.toSeq
        assert(nDec == model.decodeCode(code).toSeq, s"decode m=$m k=$k dp=$dp")
        val q = vs.head
        val adc = model.adc(q, code)
        assert(PQAdcExpr(vecLit(q), codeLit(code), flat, m, k, dp)
          .eval(InternalRow.empty) == adc, s"adc m=$m k=$k dp=$dp")
        val lut = model.adcLut(q)
        assert(model.adcFromLut(lut, code) == adc, s"lut m=$m k=$k dp=$dp")
        assert(PQAdcLutExpr(vecLit(lut), codeLit(code), m, k)
          .eval(InternalRow.empty) == adc, s"lutExpr m=$m k=$k dp=$dp")
        assert(PQSdcExpr(codeLit(code), codeLit(model.encodeVec(q)), flat, m, k, dp)
          .eval(InternalRow.empty) == model.sdc(code, model.encodeVec(q)),
          s"sdc m=$m k=$k dp=$dp")
      }
    }
  }

  test("SDC is symmetric; ADC(q, code(q)) equals reconstruction error") {
    import spark.implicits._
    forSamples(dataGen, n = 5) { data =>
      if (data.length >= 8) {
        val df = data.toSeq.map(v => Tuple1(v.toSeq)).toDF("v")
        val model = ProductQuantizer.train(df, "v", m = 2, k = 4, seed = 11)
        val a = model.encodeVec(data(0))
        val b = model.encodeVec(data(1))
        assert(model.sdc(a, b) == model.sdc(b, a))
        val q = data(2)
        val err = KMeansLocal.l2Sq(q, model.decodeCode(model.encodeVec(q)))
        assert(math.abs(model.adc(q, model.encodeVec(q)) - err) < 1e-12)
      }
    }
  }

  test("BQ Hamming is a metric: symmetric, zero-iff-equal-code, triangle") {
    forSamples(dataGen, n = 10) { data =>
      val d = data(0).length
      val m = BQModel(Array.fill(d)(-1.0), Array.fill(d)(1.0)) // thr = 0
      val Seq(a, b, c) = data.take(3).map(m.encodeVec).toSeq
      assert(m.hamming(a, b) == m.hamming(b, a))
      assert(m.hamming(a, a) == 0)
      assert((m.hamming(a, b) == 0) == a.sameElements(b))
      assert(m.hamming(a, c) <= m.hamming(a, b) + m.hamming(b, c))
    }
  }

  test("BQ encode is scale-invariant for positive scaling around the threshold") {
    forSamples(vecGen, n = 20) { v =>
      val d = v.length
      val m = BQModel(Array.fill(d)(-1.0), Array.fill(d)(1.0)) // thr = 0
      val scaled = v.map(_ * 3.0)
      assert(m.encodeVec(v).sameElements(m.encodeVec(scaled)))
    }
  }

  test("MMR: lambda=1 degenerates to plain top-k; picks are a shortlist subset led by the nearest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    forSamples(dataGen, n = 5) { data =>
      val base = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toSeq.toDF("neighbor_id", "bv")
      val q = Seq((0L, data.head)).toDF("query_id", "qv")
      // lambda=1: the redundancy term vanishes -> exactly the relevance
      // ranking, ties on ascending id, i.e. plain kNN order
      val mmr1 = BruteForceKNN
        .knnMmr(q, base, kCand = 10, k = 5, lambda = 1.0)
        .orderBy(col("mmr_rnk")).collect().map(_.getLong(1)).toSeq
      val knn = BruteForceKNN.knn(q, base, 5)
        .orderBy(col("rnk")).collect().map(_.getLong(1)).toSeq
      assert(mmr1 == knn, s"lambda=1 must equal top-k: $mmr1 vs $knn")
      // any lambda: k picks, all from the kCand shortlist, first = nearest
      val mmr = BruteForceKNN
        .knnMmr(q, base, kCand = 10, k = 5, lambda = 0.5)
        .orderBy(col("mmr_rnk")).collect().map(_.getLong(1)).toSeq
      val shortlist = BruteForceKNN.knn(q, base, 10)
        .collect().map(_.getLong(1)).toSet
      assert(mmr.length == 5 && mmr.toSet.subsetOf(shortlist))
      assert(mmr.head == knn.head, "first MMR pick must be the nearest")
    }
  }

  test("chunk start arithmetic: starts cover [0, n) with stride spacing") {
    import spark.implicits._
    val strideGen = for {
      n <- Gen.chooseNum(1, 40)
      size <- Gen.chooseNum(1, 12)
      stride <- Gen.chooseNum(1, 12)
    } yield (n, size, stride)
    forSamples(strideGen, n = 25) { case (n, size, stride) =>
      val text = (0 until n).map(i => s"w$i").mkString(" ")
      val rows = Packing
        .chunk(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", size, stride)
        .collect()
        .map(r => (r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val expectedStarts = 0L.until(n.toLong, stride.toLong)
      assert(rows.map(_._1).toSeq == expectedStarts.toSeq, s"n=$n size=$size stride=$stride")
      rows.foreach { case (start, len) =>
        assert(len == math.min(size.toLong, n - start))
      }
    }
  }

  test("duplicatedSpans == brute-force reference on random small-alphabet corpora") {
    import spark.implicits._
    // small alphabet + short docs force plenty of genuine cross-doc
    // window collisions, the regime where the hash/join/island pipeline
    // has to agree with the obvious quadratic reference
    val w = 6
    val docGen = Gen.containerOfN[List, Char](30, Gen.oneOf('a', 'b'))
      .map(_.mkString)
    val corpusGen = Gen.containerOfN[List, String](8, docGen)
    forSamples(corpusGen, n = 15) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicatedSpans(df, "doc_id", "text", w, minDocs = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // reference: literal window extraction, cross-doc duplicate filter,
      // interval merge — no hashing, no Spark
      val wins = docs.zipWithIndex.flatMap { case (t, d) =>
        (0 to t.length - w).map(s => (t.substring(s, s + w), d, s))
      }
      val dupWins = wins
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
        .values.flatten
      val want = dupWins
        .groupBy(_._2)
        .flatMap { case (d, ws) =>
          val iv = ws.map(x => (x._3, x._3 + w - 1)).toSeq.sortBy(_._1)
          iv.foldLeft(List.empty[(Int, Int)]) {
            case (acc @ ((s0, e0) :: rest), (s, e)) =>
              if (s <= e0 + 1) (s0, math.max(e0, e)) :: rest
              else (s, e) :: acc
            case (Nil, span) => span :: Nil
          }.map { case (s, e) => (d.toLong, s + 1L, e + 1L) }
        }
        .toSet
      assert(got == want, s"docs=$docs")
    }
  }

  test("contaminatedSpans + scrubSpans agree with the quadratic cross-corpus reference") {
    import spark.implicits._
    val w = 6
    val docGen = Gen.containerOfN[List, Char](30, Gen.oneOf('a', 'b'))
      .map(_.mkString)
    val caseGen = for {
      train <- Gen.containerOfN[List, String](6, docGen)
      eval <- Gen.containerOfN[List, String](3, docGen)
    } yield (train, eval)
    forSamples(caseGen, n = 15) { case (train, eval) =>
      val trainDf = train.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val evalDf = eval.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      val spans = Dedup.contaminatedSpans(trainDf, evalDf, "doc_id", "text", w)
      val got = spans.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // reference: literal membership of every train window in the eval
      // window set, then interval merge — no hashing, no Spark
      val evalWins = eval.flatMap(t =>
        (0 to t.length - w).map(s => t.substring(s, s + w))).toSet
      val want = train.zipWithIndex.flatMap { case (t, d) =>
        val hits = (0 to t.length - w)
          .filter(s => evalWins.contains(t.substring(s, s + w)))
          .map(s => (s, s + w - 1))
        hits.foldLeft(List.empty[(Int, Int)]) {
          case (acc @ ((s0, e0) :: rest), (s, e)) =>
            if (s <= e0 + 1) (s0, math.max(e0, e)) :: rest
            else (s, e) :: acc
          case (Nil, span) => span :: Nil
        }.map { case (s, e) => (d.toLong, s + 1L, e + 1L) }
      }.toSet
      assert(got == want, s"train=$train eval=$eval")
      // scrub equals literal span removal on the reference spans
      val cleaned = Dedup.scrubSpans(trainDf, "doc_id", "text", spans)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      train.zipWithIndex.foreach { case (t, d) =>
        val cut = want.filter(_._1 == d.toLong).toSeq.sortBy(_._2)
        val kept = new StringBuilder
        var pos = 1
        cut.foreach { case (_, s, e) =>
          kept ++= t.substring(pos - 1, s.toInt - 1); pos = e.toInt + 1
        }
        kept ++= t.substring(pos - 1)
        assert(cleaned(d.toLong) == kept.result(), s"doc $d")
      }
    }
  }
}
