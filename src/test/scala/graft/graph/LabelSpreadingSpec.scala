package graft.graph

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** LabelSpreading on a hand-built three-cluster graph: two seeded clusters
  * must adopt their seed's label, an unseeded cluster must stay -1.
  * Reference semantics: labelling_pipeline.py:432-475 (knn LabelSpreading,
  * posterior threshold). */
class LabelSpreadingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // Three orthogonal clusters of 4, perturbed so every pairwise cosine is
  // distinct (no tie-break dependence in the expected neighbor sets).
  private def vectors = {
    def v(base: Int, i: Int): Array[Float] = {
      val a = Array.fill(3)(0.001f * (i + 1))
      a(base) = 1f + 0.01f * i
      a
    }
    val rows = (0 until 12).map { id =>
      Row(id.toLong, v(id / 4, id % 4).toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
  }

  test("knnEdges picks within-cluster neighbors") {
    val edges = LabelSpreading.knnEdges(vectors, "vec_id", "embedding", 3)
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with k=3 each node's neighbors are exactly its 3 cluster-mates
    for (id <- 0 until 12) {
      val cluster = (id / 4) * 4
      val expected = (cluster until cluster + 4).filter(_ != id).map(d => (id.toLong, d.toLong))
      assert(expected.forall(got.contains), s"node $id missing cluster edges")
    }
    assert(got.size == 36)
  }

  test("knnEdgesApprox matches exact edges on the cluster fixture") {
    val exact = LabelSpreading.knnEdges(vectors, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the same fixture as array<double>: both builders accept it, and the
    // widened floats hash and score exactly as the float column does
    val doubles = vectors.withColumn("embedding", col("embedding").cast("array<double>"))
    for (v <- Seq(vectors, doubles)) {
      val approx = LabelSpreading.knnEdgesApprox(v, "vec_id", "embedding", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // near-identical within-cluster vectors share every LSH bucket, so the
      // candidate set contains all true neighbors and the identical
      // round/tie-break ranking reproduces the exact edge set bit-for-bit
      assert(approx == exact, v.schema("embedding").dataType.simpleString)
    }
    assert(edgeSet(LabelSpreading.knnEdges(doubles, "vec_id", "embedding", 3)) ==
      exact.map { case (s, d, sim) => (s, d, Some(sim)) })
  }

  test("property: bucketKeys equal the Catalyst sign-bit sum over float hyperplanes") {
    import org.scalacheck.{Gen, Prop, Test}
    import graft.expr.GraftFunctions.dot_product
    // coordinates include NaN, +-Inf and -0.0, which Spark's `>=` orders as
    // NaN highest and -0.0 == 0.0
    val coord = Gen.frequency(
      6 -> Gen.choose(-2f, 2f), 1 -> Gen.const(Float.NaN), 1 -> Gen.const(Float.PositiveInfinity),
      1 -> Gen.const(Float.NegativeInfinity), 1 -> Gen.const(-0f), 1 -> Gen.const(0f))
    val cases = for {
      dim <- Gen.chooseNum(1, 4)
      nPlanes <- Gen.chooseNum(0, 6)
      nTables <- Gen.chooseNum(1, 3)
      planes <- Gen.listOfN(nTables, Gen.listOfN(nPlanes, Gen.listOfN(dim, coord)))
      vs <- Gen.listOfN(12, Gen.listOfN(dim, coord))
    } yield (planes, vs ++ Seq(Seq.fill(dim)(0f), null, Seq.fill(dim + 1)(1f)))
    val schema = StructType(Seq(StructField("embedding", ArrayType(FloatType, containsNull = false))))
    // the reference runs without subexpression elimination: when one
    // projection holds both a [0.0] and a [-0.0] plane, Spark 4.1 evaluates
    // the reused dot_product before computing it for the row, so a row sees
    // the previous row's sign bit (a NULL vector then gets bits)
    val ref = spark.newSession()
    ref.conf.set("spark.sql.subexpressionElimination.enabled", "false")
    val prop = Prop.forAllNoShrink(cases) { case (planes, vs) =>
      val nPlanes = planes.head.size
      // the reference: sum over p of when(dot_product(vec, plane_p) >= 0, 1 << p)
      // against float literals, packed with its table index
      val catalyst = planes.zipWithIndex.map { case (table, t) =>
        table.zipWithIndex.foldLeft(lit(t.toLong << nPlanes)) { case (acc, (plane, p)) =>
          acc + when(dot_product(col("embedding"), typedLit(plane.toArray)) >= 0, lit(1L << p)).otherwise(lit(0L))
        }
      }
      val want = ref.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_)), 2), schema)
        .select(catalyst: _*).collect().map(r => Seq.tabulate(planes.size)(r.getLong)).toSeq
      val keys = LabelSpreading.bucketKeys(planes.map(_.map(_.map(_.toDouble).toArray).toArray).toArray) _
      val got = vs.map(v => keys(if (v == null) null else v.map(_.toDouble).toArray).toSeq)
      Prop(got == want) :| s"planes $planes: got $got, want $want"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("knnEdgesApprox: high recall on a random corpus, no cartesian plan") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { id =>
      // 8 loose directional clusters + noise: a realistic ANN workload
      val base = Array.fill(16)(0f)
      base(id % 8) = 1f
      Row(id.toLong, base.map(_ + rnd.nextGaussian().toFloat * 0.2f).toSeq)
    }
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    val k = 5
    val exact = LabelSpreading.knnEdges(vecs, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxDf = LabelSpreading.knnEdgesApprox(vecs, "vec_id", "embedding", k)
    val approx = approxDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8 (got ${approx.size} edges)")
    // schema parity with the exact path
    assert(approxDf.schema.fieldNames.toSeq == Seq("src", "dst", "sim"))
    // the scale property: candidate generation never cross-joins or
    // broadcast-nested-loops the corpus
    val plan = approxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "approx path must not cartesian-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "approx path must not BNLJ the corpus")
  }

  test("property: knnEdgesApprox edges are exactly scored, at most k per src, no self-edge") {
    import org.scalacheck.{Gen, Prop, Test}
    // small-integer coordinates, so exact ties and duplicate vectors occur;
    // every corpus also holds a zero vector and a copy of its first vector
    val corpus = for {
      dim <- Gen.chooseNum(1, 5)
      n <- Gen.chooseNum(1, 25)
      vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-2, 2).map(_.toFloat)))
    } yield vs ++ Seq(Seq.fill(dim)(0f), vs.head)
    val params = for {
      k <- Gen.chooseNum(1, 4)
      nPlanes <- Gen.chooseNum(1, 6)
      nTables <- Gen.chooseNum(1, 4)
    } yield (k, nPlanes, nTables)
    val prop = Prop.forAllNoShrink(corpus, params) { case (vs, (k, nPlanes, nTables)) =>
      val vecs = spark.createDataFrame(
        spark.sparkContext.parallelize(vs.zipWithIndex.map { case (v, i) => Row(i.toLong * 3, v) }, 3),
        StructType(Seq(
          StructField("vec_id", LongType, nullable = false),
          StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      // with k = corpus size the exact path scores every ordered pair
      val exact = LabelSpreading.knnEdges(vecs, "vec_id", "embedding", vs.size)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val approx = LabelSpreading.knnEdgesApprox(vecs, "vec_id", "embedding", k,
        nPlanes = nPlanes, nTables = nTables)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val badSim = approx.filterNot { case (s, d, sim) => exact.get((s, d)).contains(sim) }
      val overK = approx.groupBy(_._1).collect { case (s, es) if es.size > k => s }
      val selfEdges = approx.filter(e => e._1 == e._2)
      Prop(badSim.isEmpty && overK.isEmpty && selfEdges.isEmpty) :|
        s"k=$k planes=$nPlanes tables=$nTables: sims off exact $badSim, " +
          s"srcs over k $overK, self-edges $selfEdges"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Option[Double])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet

  /** Plain-Scala k-NN over (id, vec): cosine like cosine_sim (NULL vector or
    * dim mismatch -> NULL, zero norm -> 0.0) rounded through Scala's
    * BigDecimal, ranked sim desc with NULLs last, then dst asc. */
  private def bruteKnn(vs: Seq[(Long, Seq[Float])], k: Int): Set[(Long, Long, Option[Double])] = {
    def cos(a: Seq[Float], b: Seq[Float]): Option[Double] =
      if (a == null || b == null || a.size != b.size) None
      else {
        val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
        val dot = x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
        val (na, nb) = (x.foldLeft(0.0)((s, p) => s + p * p), y.foldLeft(0.0)((s, q) => s + q * q))
        val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        Some(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    vs.flatMap { case (src, a) =>
      vs.collect { case (dst, b) if dst != src => (src, dst, cos(a, b)) }
        .sortBy { case (_, dst, sim) => (sim.isEmpty, -sim.getOrElse(0.0), dst) }
        .take(k)
    }.toSet
  }

  test("property: knnEdges equals a brute force on corpora that span several tiles") {
    import org.scalacheck.{Gen, Prop, Test}
    val t = LabelSpreading.TileRows
    // small-integer coordinates, so exact ties and duplicate vectors occur;
    // every corpus also holds a zero vector, a NULL vector and one vector of
    // another dimension; ids are distinct but not in row order
    val corpus = for {
      dim <- Gen.chooseNum(2, 4)
      n <- Gen.oneOf(Gen.chooseNum(1, 3 * t + 5), Gen.chooseNum(t, 3 * t + 5))
      vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-2, 2).map(_.toFloat)))
      k <- Gen.oneOf(1, 6, n + 3)
    } yield (vs ++ Seq(Seq.fill(dim)(0f), null, Seq.fill(dim + 1)(1f)), k)
    val prop = Prop.forAllNoShrink(corpus) { case (vs, k) =>
      val rows = vs.zipWithIndex.map { case (v, i) => ((i * 7919L) % 10007, v) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 3), vecSchema)
      val got = LabelSpreading.knnEdges(df, "vec_id", "embedding", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      val want = bruteKnn(rows, k)
      val overK = got.groupBy(_._1).collect { case (s, es) if es.length > k => s }
      // with no planes every row shares one bucket per table: the LSH path
      // scores every pair twice and must de-duplicate back to the oracle
      val approx = edgeSet(LabelSpreading.knnEdgesApprox(df, "vec_id", "embedding", k,
        nPlanes = 0, nTables = 2))
      Prop(got.toSet == want && got.length == want.size && overK.isEmpty && approx == want) :|
        s"n=${vs.size} k=$k: missing ${(want -- got).take(5)}, extra ${(got.toSet -- want).take(5)}, " +
          s"srcs over k $overK, approx off by ${((approx -- want) ++ (want -- approx)).take(5)}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("round6 equals Spark's round(x, 6), interpreted and codegen'd") {
    import org.scalacheck.Gen
    import spark.implicits._
    val special = Seq(0.1234565, -0.0000005, 0.9999995, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 1.0, -1.0, 5e-7, -5e-7, 4.9999999e-7, 1e300,
      Double.MinPositiveValue)
    val gen = Gen.oneOf(
      Gen.choose(-1.0, 1.0),
      Gen.choose(-10000000L, 10000000L).map(n => (n * 10 + 5) / 1e7), // decimal half-way points
      Gen.choose(-1e9, 1e9),
      org.scalacheck.Arbitrary.arbitrary[Double])
    val xs = special ++ Seq.fill(4000)(gen.sample).flatten
    // a local relation folds round() through the interpreted path; a
    // parallelized one runs the generated code
    val local = xs.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0))
    val codegen = spark.createDataset(spark.sparkContext.parallelize(xs, 4)).toDF("x")
      .select(round(col("x"), 6)).collect().map(_.getDouble(0))
    val lits = spark.range(1).select(special.map(x => round(lit(x), 6)): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    def same(a: Double, b: Double) = java.lang.Double.compare(a, b) == 0
    for ((x, i) <- xs.zipWithIndex) {
      val r = LabelSpreading.round6(x)
      assert(same(r, local(i)), s"round6($x) = $r, local ${local(i)}")
      assert(same(r, codegen(i)), s"round6($x) = $r, codegen ${codegen(i)}")
    }
    for ((x, r) <- special.zip(lits)) assert(same(LabelSpreading.round6(x), r), s"round6($x) vs lit $r")
  }

  test("every k-NN sim equals round(cosine_sim(vec_src, vec_dst), 6)") {
    import graft.expr.GraftFunctions.cosine_sim
    val v = vectors
    for (edges <- Seq(LabelSpreading.knnEdges(v, "vec_id", "embedding", 11),
                      LabelSpreading.knnEdgesApprox(v, "vec_id", "embedding", 11))) {
      val off = edges
        .join(v.select(col("vec_id").as("src"), col("embedding").as("a")), "src")
        .join(v.select(col("vec_id").as("dst"), col("embedding").as("b")), "dst")
        .where(not(col("sim") <=> round(cosine_sim(col("a"), col("b")), 6)))
      assert(edges.count() > 0 && off.isEmpty, off.collect().mkString(", "))
    }
  }

  test("a hot bucket larger than a tile: approx equals exact, copies link to the smallest copy ids") {
    val k = 3
    val copies = (1000 until 2000).map(id => Row(id.toLong, Seq(0.3f, 0.5f, 0.7f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vectors.collect().toSeq ++ copies, 4), vecSchema)
    assert(copies.size > LabelSpreading.TileRows)
    val exact = edgeSet(LabelSpreading.knnEdges(df, "vec_id", "embedding", k))
    val approx = LabelSpreading.knnEdgesApprox(df, "vec_id", "embedding", k)
    assert(edgeSet(approx) == exact)
    assert(approx.count() == exact.size)
    for (c <- 1000L until 2000L) {
      val want = (1000L until 2000L).filter(_ != c).take(k).map(d => (c, d, Some(1.0))).toSet
      assert(exact.filter(_._1 == c) == want, s"copy $c")
    }
  }

  test("k-NN builders reject a non-integral id column and keep an int one") {
    val strIds = vectors.withColumn("vec_id", col("vec_id").cast("string"))
    for (build <- Seq[org.apache.spark.sql.DataFrame => Any](
           LabelSpreading.knnEdges(_, "vec_id", "embedding", 3),
           LabelSpreading.knnEdgesApprox(_, "vec_id", "embedding", 3))) {
      val e = intercept[IllegalArgumentException](build(strIds))
      assert(e.getMessage.contains("vec_id"))
    }
    val intIds = LabelSpreading.knnEdges(vectors.withColumn("vec_id", col("vec_id").cast("int")),
      "vec_id", "embedding", 3)
    assert(intIds.schema("src").dataType == IntegerType && intIds.schema("dst").dataType == IntegerType)
    assert(edgeSet(intIds.select(col("src").cast("long"), col("dst").cast("long"), col("sim"))) ==
      edgeSet(LabelSpreading.knnEdges(vectors, "vec_id", "embedding", 3)))
  }

  test("spread labels seeded clusters, leaves unseeded cluster at -1") {
    val e = vectors
    val edges = LabelSpreading.normalizedEdges(
      LabelSpreading.knnEdges(e, "vec_id", "embedding", 3))
    // seeds: node 0 positive, node 4 negative; cluster 3 (ids 8-11) unseeded
    val y = e.select(col("vec_id"),
      when(col("vec_id") === 0, 1.0).otherwise(0.0).as("y1"),
      when(col("vec_id") === 4, 1.0).otherwise(0.0).as("y0"))
    val f = LabelSpreading.spread(edges, y, "vec_id", alpha = 0.01, iters = 10)
    val out = LabelSpreading.thresholdLabels(f, "vec_id", 0.7)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    for (id <- 0L to 3L) assert(out(id) == 1, s"node $id should be positive")
    for (id <- 4L to 7L) assert(out(id) == 0, s"node $id should be negative")
    for (id <- 8L to 11L) assert(out(id) == -1, s"node $id should stay unlabelled")
  }

  test("seed-folded iteration matches the re-join formulation to ulp level") {
    // r22 rewrote spread's loop body: the per-iteration `y LEFT JOIN msgs`
    // with coalesce(m, 0) became a seed term folded into the message
    // aggregate (max over the constant-within-group y columns). Replay the
    // OLD shape here and require agreement to ~1 ulp per node (the
    // per-group sum order depends on partitioning — under AQE it varies
    // between ANY two plans, old-vs-old included — so exact bit equality
    // is not a property either shape ever had; what the oracle relies on
    // is that ulp-level error vanishes under the 6 dp output rounding).
    val e = vectors
    val edges = LabelSpreading.normalizedEdges(
      LabelSpreading.knnEdges(e, "vec_id", "embedding", 3))
    val y = e.select(col("vec_id"),
      when(col("vec_id") === 0, 1.0).otherwise(0.0).as("y1"),
      when(col("vec_id") === 4, 1.0).otherwise(0.0).as("y0"))
    val alpha = 0.01
    val iters = 5

    def oldShape(sEdges: org.apache.spark.sql.DataFrame): Map[Long, (Double, Double)] = {
      var f = y.select(col("vec_id"), col("y1").as("f1"), col("y0").as("f0"))
      for (_ <- 1 to iters) {
        val msgs = sEdges.join(f, sEdges("dst") === f("vec_id"))
          .groupBy(col("src"))
          .agg(sum(col("s") * col("f1")).as("m1"), sum(col("s") * col("f0")).as("m0"))
        f = y.join(msgs, y("vec_id") === msgs("src"), "left")
          .select(y("vec_id"),
            (lit(alpha) * coalesce(col("m1"), lit(0.0)) + lit(1.0 - alpha) * col("y1")).as("f1"),
            (lit(alpha) * coalesce(col("m0"), lit(0.0)) + lit(1.0 - alpha) * col("y0")).as("f0"))
      }
      f.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }

    val want = oldShape(edges)
    val got = LabelSpreading.spread(edges, y, "vec_id", alpha, iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    def close(a: Double, b: Double): Boolean =
      a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    for ((id, (f1, f0)) <- want) {
      assert(close(got(id)._1, f1), s"f1 mismatch at $id: ${got(id)._1} != $f1")
      assert(close(got(id)._2, f0), s"f0 mismatch at $id: ${got(id)._2} != $f0")
      // and the property the oracle hash actually depends on:
      assert(math.round(got(id)._1 * 1e6) == math.round(f1 * 1e6))
      assert(math.round(got(id)._2 * 1e6) == math.round(f0 * 1e6))
    }
  }

  test("knnEdgesApprox on an empty corpus returns no edges") {
    val empty = vectors.where(lit(false))
    val out = LabelSpreading.knnEdgesApprox(empty, "vec_id", "embedding", 3)
    assert(out.schema.fieldNames.toSeq == Seq("src", "dst", "sim"))
    assert(out.collect().isEmpty)
  }

  test("knnEdges and knnEdgesApprox rank a NULL first vector last") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val clusters = vectors.where(col("vec_id") < 8).collect().toSeq
    // one partition, so the NULL row is the first the dimension read sees
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Row(100L, null) +: clusters, 1), schema)
    val without = spark.createDataFrame(spark.sparkContext.parallelize(clusters, 1), schema)
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.where(col("src") =!= 100L && col("dst") =!= 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = edges(LabelSpreading.knnEdges(without, "vec_id", "embedding", 3))
    assert(exact.size == 24)
    assert(edges(LabelSpreading.knnEdges(withNull, "vec_id", "embedding", 3)) == exact)
    assert(edges(LabelSpreading.knnEdgesApprox(withNull, "vec_id", "embedding", 3)) ==
      edges(LabelSpreading.knnEdgesApprox(without, "vec_id", "embedding", 3)))
    val allNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, null), Row(2L, null)), 1), schema)
    assert(LabelSpreading.knnEdgesApprox(allNull, "vec_id", "embedding", 3).collect().isEmpty)
  }

  test("property: spread equals a dense iteration of F <- alpha*S*F + (1-alpha)*Y") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // no f1 + f0 <= 1 bound: symmetric normalization does not bound row
    // sums of S (a k-leaf star's centre has row sum sqrt(k))
    val graphs = for {
      n <- Gen.chooseNum(1, 12)
      pairs <- Gen.listOf(Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      ys <- Gen.listOfN(n, Gen.oneOf((1.0, 0.0), (0.0, 1.0), (0.0, 0.0)))
      alpha <- Gen.oneOf(0.01, 0.5, 0.99)
      iters <- Gen.chooseNum(1, 6)
    } yield (pairs.filter { case (a, b) => a != b }.distinct, ys, alpha, iters)
    val prop = Prop.forAllNoShrink(graphs) { case (pairs, ys, alpha, iters) =>
      val sEdges = LabelSpreading.normalizedEdges(
        pairs.map { case (a, b) => (a.toLong, b.toLong, 1.0) }.toDF("src", "dst", "sim"))
      val s = sEdges.collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
      val y = ys.zipWithIndex.map { case ((y1, y0), i) => (i.toLong, y1, y0) }.toDF("vec_id", "y1", "y0")
      val got = LabelSpreading.spread(sEdges, y, "vec_id", alpha, iters)
        .collect().map(r => (r.getLong(0).toInt, r.getDouble(1), r.getDouble(2))).toSeq
      var f = ys.toIndexedSeq
      for (_ <- 1 to iters) {
        val msg = s.groupBy(_._1).map { case (src, es) =>
          src -> es.map { case (_, dst, w) => (w * f(dst)._1, w * f(dst)._2) }
            .foldLeft((0.0, 0.0)) { case ((a, b), (c, d)) => (a + c, b + d) }
        }
        f = ys.indices.map { i =>
          val (m1, m0) = msg.getOrElse(i, (0.0, 0.0))
          (alpha * m1 + (1 - alpha) * ys(i)._1, alpha * m0 + (1 - alpha) * ys(i)._2)
        }
      }
      val off = got.filterNot { case (i, f1, f0) =>
        f1 >= 0 && f0 >= 0 && math.abs(f1 - f(i)._1) <= 1e-12 && math.abs(f0 - f(i)._2) <= 1e-12
      }
      Prop(got.map(_._1).sorted == ys.indices && off.isEmpty) :|
        s"n=${ys.size} edges=$pairs alpha=$alpha iters=$iters: ids ${got.map(_._1).sorted}, " +
          s"off the dense reference $off (want $f)"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("spread keeps nodes that have no edge") {
    import spark.implicits._
    // edges only among 0-3; node 4 (seeded positive) and node 5 (unseeded)
    // appear in y but in no edge
    val edges = LabelSpreading.normalizedEdges(
      Seq((0L, 2L, 1.0), (2L, 0L, 1.0), (1L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "sim"))
    val y = Seq((0L, 1.0, 0.0), (1L, 0.0, 1.0), (2L, 0.0, 0.0), (3L, 0.0, 0.0),
      (4L, 1.0, 0.0), (5L, 0.0, 0.0)).toDF("vec_id", "y1", "y0")
    val alpha = 0.01
    val out = LabelSpreading.thresholdLabels(
      LabelSpreading.spread(edges, y, "vec_id", alpha, iters = 5), "vec_id", 0.7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getInt(3))).toMap
    assert(out.keySet == (0L to 5L).toSet)
    // an isolated node keeps f = (1 - alpha) * y and its thresholded label
    assert(out(4L) == ((0.99, 0.0, 1)))
    assert(out(5L) == ((0.0, 0.0, -1)))
    assert(out(2L)._3 == 1 && out(3L)._3 == 0)
  }

  test("thresholdLabels demotes mixed posteriors to -1") {
    import spark.implicits._
    val f = Seq((1L, 0.6, 0.4), (2L, 0.4, 0.6), (3L, 0.0, 0.0), (4L, 0.71, 0.29))
      .toDF("vec_id", "f1", "f0")
    val out = LabelSpreading.thresholdLabels(f, "vec_id", 0.7)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out == Map(1L -> -1, 2L -> -1, 3L -> -1, 4L -> 1))
  }
}
