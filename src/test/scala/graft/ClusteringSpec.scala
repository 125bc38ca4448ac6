package graft

import org.apache.spark.sql.functions._
import graft.clustering.CaseClustering
import graft.clustering.CaseClustering.{KMeansClusterer, PcaProjector}

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // synthetic "chunk" table from the embeddings testdata
  private lazy val chunks = Tables.embeddings(spark, sfDir)
    .select(
      concat(lit("case_"), ($"vec_id" % 50)).as("case_id"),
      $"embedding".as("vector"),
      (($"vec_id" % 9) + 1).cast("int").as("token_count"))

  private lazy val cases = CaseClustering.caseEmbeddings(chunks).cache()

  test("parameter clamps reproduce the reference formulas") {
    assert(CaseClustering.clampPerplexity(30, 8) == 5.0)    // max(5, 2)
    assert(CaseClustering.clampPerplexity(30, 1000) == 30.0)
    assert(CaseClustering.clampPerplexity(30, 40) == 10.0)  // n/4
    assert(CaseClustering.clampMinClusterSize(5, 10) == 2)  // n/8=1 → 2
    assert(CaseClustering.clampMinClusterSize(5, 100) == 5) // min(m=5, 12)
    assert(CaseClustering.clampMinClusterSize(5, 30) == 3)  // n/8=3
  }

  test("case embeddings: one row per case with derived key columns") {
    assert(cases.count() == 50)
    val r = cases.filter($"case_id" === "case_0").head()
    assert(r.getAs[scala.collection.Seq[Double]]("case_embedding").size == 64)
    assert(r.getAs[String]("term_year") == "case")
    val spanned = cases.filter(size($"case_embedding") =!= 64).count()
    assert(spanned == 0)
  }

  test("scaling yields ~zero mean, ~unit variance per dimension") {
    val scaled = CaseClustering.scale(cases)
    val stats = scaled
      .select(posexplode($"scaled"))
      .groupBy($"pos").agg(avg($"col").as("m"), stddev_samp($"col").as("s"))
      .agg(max(abs($"m")), max(abs($"s" - 1.0))).head()
    assert(stats.getDouble(0) < 1e-9, "mean")
    assert(stats.getDouble(1) < 1e-6, "std")
  }

  test("projection + clustering + representatives + neighbors pipeline") {
    val projected = new PcaProjector().project(CaseClustering.scale(cases), "scaled")
    assert(projected.filter($"x".isNull || $"y".isNull).count() == 0)
    val clustered = new KMeansClusterer().cluster(projected, "scaled").cache()
    val k = clustered.select("cluster").distinct().count()
    assert(k >= 1 && k <= 20)
    assert(clustered.count() == 50) // every case assigned

    val reps = CaseClustering.representatives(clustered).cache()
    assert(reps.count() == k) // exactly one per cluster
    // representative's distance is the minimum of its cluster
    val joined = clustered.join(
        reps.select($"cluster", $"case_id".as("rep_id"), $"dist".as("rep_dist")),
        Seq("cluster"))
      .join(CaseClustering.representatives(clustered)
        .select($"cluster", $"dist"), Seq("cluster"))
    val stats = CaseClustering.clusterStats(clustered)
    assert(stats.agg(sum("cluster_size")).head.getLong(0) == 50)

    val neighbors = CaseClustering.topNeighbors(clustered, reps, k = 5)
    val perCluster = neighbors.groupBy("cluster").count()
      .filter($"count" > 5).count()
    assert(perCluster == 0)
    // neighbors never include the representative itself
    assert(neighbors.filter($"case_id" === $"rep_case_id").count() == 0)
    // similarity within [-1, 1]
    assert(neighbors.filter(abs($"similarity") > 1.0 + 1e-9).count() == 0)
  }

  private def xy(projected: org.apache.spark.sql.DataFrame): Map[String, (Double, Double)] =
    projected.select($"case_id", $"x", $"y").as[(String, Double, Double)]
      .collect().map { case (id, x, y) => id -> (x, y) }.toMap

  test("PCA projector: x/y equal MLlib PCA(k=2) up to each axis's sign") {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val scaled = CaseClustering.scale(cases).cache()
    val got = xy(new PcaProjector().project(scaled, "scaled"))
    // MLlib's PCA, kept only as this test's oracle
    val withVec = scaled.withColumn("__v", array_to_vector($"scaled"))
    val oracle = new org.apache.spark.ml.feature.PCA()
      .setInputCol("__v").setOutputCol("__p").setK(2).fit(withVec)
      .transform(withVec).select($"case_id", vector_to_array($"__p"))
      .as[(String, Seq[Double])].collect()
      .map { case (id, p) => id -> (p(0), p(1)) }.toMap
    assert(got.keySet == oracle.keySet && got.size == 50)
    for (axis <- Seq[((Double, Double)) => Double](_._1, _._2)) {
      val ids = got.keys.toSeq.sorted
      val sign = math.signum(ids.map(i => axis(got(i)) * axis(oracle(i))).sum)
      val err = ids.map(i => math.abs(axis(got(i)) - sign * axis(oracle(i)))).max
      assert(sign != 0 && err <= 1e-9, s"max |x - MLlib x| = $err")
    }
    scaled.unpersist()
  }

  test("PCA projector: two runs are bit-identical") {
    val scaled = CaseClustering.scale(cases)
    val a = xy(new PcaProjector().project(scaled, "scaled"))
    val b = xy(new PcaProjector().project(scaled, "scaled"))
    assert(a == b)
  }

  /** A symmetric d×d matrix (row-major) with the given eigenvalues on the
    * columns of a seeded random orthogonal basis, returned with it. */
  private def planted(eigenvalues: Seq[Double], seed: Long)
      : (Array[Double], Array[Array[Double]]) = {
    val d = eigenvalues.size
    val rnd = new scala.util.Random(seed)
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (basis.size < d) {
      val v = Array.fill(d)(rnd.nextGaussian())
      for (_ <- 0 until 2; u <- basis) {
        val f = u.indices.map(i => u(i) * v(i)).sum
        for (i <- v.indices) v(i) -= f * u(i)
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      basis += v.map(_ / norm)
    }
    val c = Array.tabulate(d * d) { ij =>
      val (i, j) = (ij / d, ij % d)
      eigenvalues.indices.map(k => eigenvalues(k) * basis(k)(i) * basis(k)(j)).sum
    }
    (c, basis.toArray)
  }

  private def dotD(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => a(i) * b(i)).sum

  test("top-2 eigen-solve: sign convention puts each vector's largest |component| positive") {
    import graft.clustering.TopEigen
    val d = 6
    // top eigenvector (−3, 1, 0, 0, 0, 0)/√10: the solver must return (3, −1, …)/√10
    val top = Array(-3.0, 1.0, 0.0, 0.0, 0.0, 0.0).map(_ / math.sqrt(10))
    val c = Array.tabulate(d * d) { ij =>
      val (i, j) = (ij / d, ij % d)
      4 * top(i) * top(j) + (if (i == j) 1.0 else 0.0)
    }
    val (theta, v) = TopEigen(c, d, k = 2)
    assert(math.abs(theta(0) - 5.0) < 1e-12 && math.abs(theta(1) - 1.0) < 1e-12)
    assert(v(0).zip(top).forall { case (a, b) => math.abs(a + b) < 1e-12 }, v(0).toSeq)
    for (u <- v) {
      val m = u.indices.maxBy(i => math.abs(u(i)))
      assert(u(m) > 0, u.toSeq)
    }
  }

  test("top-2 eigen-solve: λ2 ≈ λ3 still yields orthonormal vectors spanning the top eigenspace") {
    import graft.clustering.{EigenNotConverged, TopEigen}
    val lambda = Seq(10.0, 5.0, 5.0 * (1 - 1e-10)) ++ (0 until 61).map(i => math.pow(0.9, i))
    val (c, basis) = planted(lambda, seed = 3)
    try {
      val (theta, v) = TopEigen(c, 64, k = 2)
      for (i <- 0 until 2; j <- 0 until 2)
        assert(math.abs(dotD(v(i), v(j)) - (if (i == j) 1.0 else 0.0)) < 1e-12)
      assert(math.abs(math.abs(dotD(v(0), basis(0))) - 1) < 1e-12)
      val inTop = math.pow(dotD(v(1), basis(1)), 2) + math.pow(dotD(v(1), basis(2)), 2)
      assert(math.abs(inTop - 1) < 1e-10, s"v2 leaves span(e2, e3): $inTop")
      assert(math.abs(theta(0) - 10) < 1e-10 && math.abs(theta(1) - 5) < 1e-8)
    } catch { case _: EigenNotConverged => () } // the other allowed outcome
    // a round cap too small to converge fails by name, never with an answer
    val e = intercept[EigenNotConverged](TopEigen(c, 64, k = 2, maxIter = 1))
    assert(e.getMessage.contains("did not reach"), e.getMessage)
  }

  test("driver-local guard: oversized input fails fast, pointing at distributed substitutes") {
    import graft.clustering.{HdbscanClusterer, TsneProjector}
    val scaled = CaseClustering.scale(cases) // 50 rows
    val eT = intercept[IllegalArgumentException] {
      new TsneProjector(maxDriverRows = 10).project(scaled, "scaled")
    }
    assert(eT.getMessage.contains("maxDriverRows") &&
      eT.getMessage.contains("Sampling"), eT.getMessage)
    val eH = intercept[IllegalArgumentException] {
      new HdbscanClusterer(maxDriverRows = 10).cluster(scaled, "scaled")
    }
    assert(eH.getMessage.contains("maxDriverRows") &&
      eH.getMessage.contains("KMeansClusterer"), eH.getMessage)
    // at exactly the budget the guard stays silent (boundary: n == max)
    val ok = new HdbscanClusterer(minClusterSize = 5, maxDriverRows = 50)
      .cluster(scaled, "scaled")
    assert(ok.count() == 50)
  }

  test("t-SNE projector: deterministic, finite, preserves local structure") {
    val scaled = CaseClustering.scale(cases)
    val tsne = new graft.clustering.TsneProjector(perplexity = 30, iterations = 300)
    val a = tsne.project(scaled, "scaled")
      .select($"case_id", $"x", $"y").as[(String, Double, Double)]
      .collect().sortBy(_._1)
    // deterministic across runs
    val b = tsne.project(scaled, "scaled")
      .select($"case_id", $"x", $"y").as[(String, Double, Double)]
      .collect().sortBy(_._1)
    assert(a.sameElements(b))
    a.foreach { case (_, x, y) => assert(!x.isNaN && !y.isNaN && x.isFinite && y.isFinite) }

    // structure preservation needs structured input (random gaussians
    // have no neighborhoods to keep): 3 well-separated clusters in
    // 16-d must stay together in 2-d — each point's nearest embedded
    // neighbor should share its cluster
    val rnd = new scala.util.Random(7)
    val clustersIn = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.tabulate(16)(d => if (d % 3 == c) 10.0 else 0.0)
      (f"p$i%03d", c, base.map(_ + rnd.nextGaussian()).toSeq)
    }
    val cdf = clustersIn.map { case (id, _, v) => (id, v) }.toDF("case_id", "scaled")
    val emb = tsne.project(cdf, "scaled")
      .select($"case_id", $"x", $"y").as[(String, Double, Double)]
      .collect().sortBy(_._1)
    val label = clustersIn.map(t => t._1 -> t._2).toMap
    val hits = emb.indices.count { i =>
      val nn = emb.indices.filter(_ != i).minBy { j =>
        math.hypot(emb(i)._2 - emb(j)._2, emb(i)._3 - emb(j)._3)
      }
      label(emb(i)._1) == label(emb(nn)._1)
    }
    assert(hits.toDouble / emb.length > 0.9,
      s"only $hits/${emb.length} nearest neighbors share the cluster")
  }

  test("hdbscan: separates planted blobs and labels outliers as noise") {
    // 3 tight blobs + scattered far-away outliers in 8-d
    val rnd = new scala.util.Random(11)
    val pts = (0 until 90).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d % 3 == c) 20.0 else 0.0)
      (f"b$i%03d", c, base.map(_ + rnd.nextGaussian() * 0.5).toSeq)
    } ++ (0 until 8).map { i =>
      // uniform scatter far from every blob
      (f"o$i%03d", -1, Seq.tabulate(8)(d => rnd.nextDouble() * 200 - 100))
    }
    val df = pts.map { case (id, _, v) => (id, v) }.toDF("case_id", "scaled")
    val clustered = new graft.clustering.HdbscanClusterer(minClusterSize = 5)
      .cluster(df, "scaled").cache()
    val byLabel = clustered.select($"case_id", $"cluster")
      .as[(String, Int)].collect().toMap
    val truth = pts.map(t => t._1 -> t._2).toMap
    // noise rows exist and include the planted outliers
    val noise = byLabel.filter(_._2 == -1).keys.toSet
    assert(noise.nonEmpty, "expected noise labels (-1)")
    assert(truth.filter(_._2 == -1).keys.forall(noise), s"outliers not all noise: $noise")
    // the 3 blobs land in 3 distinct non-noise clusters, internally pure
    val blobLabels = (0 until 3).map { c =>
      val labels = truth.filter(_._2 == c).keys.map(byLabel).toSet
      assert(labels.size == 1 && labels.head != -1, s"blob $c split: $labels")
      labels.head
    }
    assert(blobLabels.toSet.size == 3, s"blobs merged: $blobLabels")

    // P8 path: representatives exclude noise, one per real cluster
    val projected = new PcaProjector().project(clustered, "scaled")
    val reps = CaseClustering.representatives(projected)
    assert(reps.count() == 3)
    assert(reps.filter($"cluster" === -1).count() == 0)
  }

  test("hdbscan: deterministic across runs, respects min cluster size clamp") {
    val df = Tables.embeddings(spark, sfDir).limit(40)
      .select(concat(lit("e"), $"vec_id").as("case_id"),
        $"embedding".cast("array<double>").as("scaled"))
    val clusterer = new graft.clustering.HdbscanClusterer(minClusterSize = 5)
    val a = clusterer.cluster(df, "scaled")
      .select("case_id", "cluster").as[(String, Int)].collect().toMap
    val b = clusterer.cluster(df, "scaled")
      .select("case_id", "cluster").as[(String, Int)].collect().toMap
    assert(a == b)
    // every non-noise cluster has at least clamp(5, 40)=5 members
    val sizes = a.values.filter(_ != -1).groupBy(identity).map(_._2.size)
    sizes.foreach(s => assert(s >= CaseClustering.clampMinClusterSize(5, 40)))
  }

  test("clustering is deterministic across runs (seed 42)") {
    val projected = new PcaProjector().project(CaseClustering.scale(cases), "scaled")
    val a = new KMeansClusterer().cluster(projected, "scaled")
      .select("case_id", "cluster").as[(String, Int)].collect().toMap
    val b = new KMeansClusterer().cluster(projected, "scaled")
      .select("case_id", "cluster").as[(String, Int)].collect().toMap
    assert(a == b)
  }
}
