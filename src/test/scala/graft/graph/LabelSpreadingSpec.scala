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
    val approx = LabelSpreading.knnEdgesApprox(vectors, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // near-identical within-cluster vectors share every LSH bucket, so the
    // candidate set contains all true neighbors and the identical
    // round/tie-break ranking reproduces the exact edge set bit-for-bit
    assert(approx == exact)
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
