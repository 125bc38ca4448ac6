package graft.clustering

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.StandardScaler
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Covariance, VecWeightedMean, VectorFunctions => VF}

/** Case-clustering stage (SURVEY.md §3.3, reference services/clustering):
  * A1 case embeddings → U6 scaling → 2-D projection → clustering →
  * W4 representatives → W5 top-k neighbors.
  *
  * The reference's t-SNE and HDBSCAN have no MLlib equivalent; per
  * SURVEY §7.3(e) the engine defines the contract at the operator
  * interface (same inputs → same column contract and structural
  * invariants) and ships PCA/KMeans defaults behind [[Projector]]
  * and [[Clusterer]], with the reference's parameter-clamp rules
  * reproduced exactly (perplexity clamp, min_cluster_size clamp,
  * seed 42). A driver-local t-SNE/HDBSCAN can plug in without touching
  * the pipeline.
  */
object CaseClustering {

  /** Reference clamp: perplexity = min(p, max(5, n/4))
    * (clustering/helpers.py:106-107). */
  def clampPerplexity(p: Double, n: Long): Double = math.min(p, math.max(5.0, n / 4.0))

  /** Reference clamp: min_cluster_size = max(2, min(m, max(2, n/8)))
    * (clustering/helpers.py:134-140). */
  def clampMinClusterSize(m: Int, n: Long): Int =
    math.max(2, math.min(m, math.max(2, (n / 8).toInt)))

  /** Ceiling for the driver-local algorithms' input (t-SNE / HDBSCAN
    * are O(n²) in time AND driver memory — at 32k rows the pairwise
    * matrices alone are ~8 GiB). The reference feeds them the
    * case-level matrix (≤ thousands of rows); this guard is what keeps
    * a caller from accidentally handing them a corpus. */
  val DefaultMaxDriverRows = 32768

  /** Deterministic guarded collect for the driver-local algorithms:
    * (id, vector) pairs sorted by id. Collects AT MOST
    * `maxDriverRows + 1` rows (single job, `limit` pushed into the
    * scan) and fails fast when the input exceeds the budget instead of
    * OOM-ing the driver mid-O(n²) — pointing at the distributed
    * substitutes for corpus-scale inputs. */
  private[clustering] def collectMatrix(df: DataFrame, inCol: String,
                                        maxDriverRows: Int, op: String)
      : Array[(String, Array[Double])] = {
    val idCol = df.columns.head
    val rows = df.select(col(idCol).cast("string"), col(inCol).cast("array<double>"))
      .limit(maxDriverRows + 1)
      .collect()
    require(rows.length <= maxDriverRows,
      s"$op is driver-local and O(n²) — input exceeds maxDriverRows=" +
        s"$maxDriverRows. For corpus-scale data use the distributed " +
        "substitutes instead: CaseClustering.PcaProjector / KMeansClusterer, " +
        "graft.ops.Similarity (NearestCentroid assignment, semanticDedup), " +
        "or reduce first with graft.ops.Sampling.")
    rows.map(r => (r.getString(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
  }

  /** A1 + P2 + F1/F2 — per-case token-weighted mean embedding with
    * stats, from the chunk-embedding table. `HAVING COUNT(*) >= 1` is
    * implicit in groupBy. */
  def caseEmbeddings(chunks: DataFrame): DataFrame =
    chunks
      .filter(col("vector").isNotNull && col("token_count") > 0) // P2
      .groupBy(col("case_id"))
      .agg(
        VecWeightedMean(col("vector"), col("token_count").cast("double"))
          .as("case_embedding"),
        sum(col("token_count")).as("total_tokens"),
        count(lit(1)).as("section_count"))
      .withColumn("term_year", substring_index(col("case_id"), "_", 1)) // F1
      .withColumn("docket_name", // F2: split at FIRST '_', '-' → '_'
        regexp_replace(expr("substring(case_id, instr(case_id, '_') + 1)"), "-", "_"))

  /** U6 — StandardScaler (withMean+withStd, as sklearn fit_transform). */
  def scale(cases: DataFrame, inCol: String = "case_embedding",
            outCol: String = "scaled"): DataFrame = {
    val withVec = cases.withColumn("__v", array_to_vector(col(inCol)))
    val model = new StandardScaler()
      .setInputCol("__v").setOutputCol("__s")
      .setWithMean(true).setWithStd(true)
      .fit(withVec)
    model.transform(withVec)
      .withColumn(outCol, vector_to_array(col("__s")))
      .drop("__v", "__s")
  }

  /** U7 — 2-D projection behind an interface (t-SNE in the reference). */
  trait Projector {
    def project(df: DataFrame, inCol: String): DataFrame // adds x, y
  }

  /** PCA(k=2) default projector (SURVEY U7 substitute), MLlib's
    * `PCA(k=2)` without its full SVD: the covariance in one distributed
    * pass ([[Covariance]]), its top-2 eigenvectors on the driver
    * ([[TopEigen]]), then x/y = vᵢ·input on the UNCENTERED input, as
    * `PCAModel.transform` projects. x/y equal MLlib's up to each axis's
    * sign, which here is fixed (largest-|component| of vᵢ positive). */
  final class PcaProjector extends Projector {
    override def project(df: DataFrame, inCol: String): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val moments = df.select(col(inCol).cast("array<double>"))
        .as[Array[Double]].select(Covariance.toColumn).head()
      val d = moments._2.length
      val (_, v) = TopEigen(Covariance.matrix(moments), d, k = 2)
      df.withColumn("x", VF.dot(col(inCol), typedLit(v(0).toSeq)))
        .withColumn("y", VF.dot(col(inCol), typedLit(v(1).toSeq)))
    }
  }

  /** U8 — clustering behind an interface (HDBSCAN in the reference;
    * noise label -1 is part of the contract). */
  trait Clusterer {
    def cluster(df: DataFrame, inCol: String): DataFrame // adds cluster: int
  }

  /** MLlib KMeans default (seed 42 as the reference). k derives from the
    * reference's min_cluster_size clamp: n / clamp bounds the number of
    * clusters of at least that size. KMeans never emits noise, so -1
    * appears only via the pluggable HDBSCAN implementation. */
  final class KMeansClusterer(minClusterSize: Int = 5, seed: Long = 42L)
      extends Clusterer {
    override def cluster(df: DataFrame, inCol: String): DataFrame = {
      val n = df.count()
      val mcs = clampMinClusterSize(minClusterSize, n)
      val k = math.max(1, math.min((n / mcs).toInt, 20))
      val withVec = df.withColumn("__v", array_to_vector(col(inCol)))
      val km = new KMeans().setK(k).setSeed(seed)
        .setFeaturesCol("__v").setPredictionCol("cluster")
        .fit(withVec)
      km.transform(withVec).drop("__v")
    }
  }

  /** W4 — representative per cluster: the case closest to the cluster
    * centroid in projected (x, y) space (clustering/helpers.py:177-183),
    * P8 noise filter applied. Deterministic tie-break on case_id. */
  def representatives(clustered: DataFrame): DataFrame = {
    val live = clustered.filter(col("cluster") =!= -1) // P8
    val centroids = live.groupBy(col("cluster"))
      .agg(avg(col("x")).as("cx"), avg(col("y")).as("cy")) // A10
    val withDist = live.join(broadcast(centroids), Seq("cluster"))
      .withColumn("dist",
        sqrt(pow(col("x") - col("cx"), 2) + pow(col("y") - col("cy"), 2)))
    val w = Window.partitionBy(col("cluster")).orderBy(col("dist"), col("case_id"))
    withDist.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "cx", "cy")
  }

  /** W5 — top-k cosine neighbors of each cluster representative within
    * its cluster, excluding self (clustering/helpers.py:185-226).
    * Ranked with the custom TopKPerGroup operator (graft.plans):
    * map-side bounded heaps instead of a full per-cluster window sort. */
  def topNeighbors(clustered: DataFrame, reps: DataFrame, k: Int = 5,
                   vecCol: String = "case_embedding"): DataFrame = {
    val members = clustered.filter(col("cluster") =!= -1)
      .select(col("cluster"), col("case_id"), col(vecCol).as("__mv"))
    val repVecs = reps.select(col("cluster"), col("case_id").as("rep_case_id"),
      col(vecCol).as("__rv"))
    val sims = members.join(broadcast(repVecs), Seq("cluster"))
      .filter(col("case_id") =!= col("rep_case_id"))
      .withColumn("similarity", VF.cosine(col("__mv"), col("__rv")))
      .select(col("cluster"), col("rep_case_id"), col("case_id"), col("similarity"))
    graft.ops.TopK.perGroup(sims, Seq("cluster"),
      Seq(("similarity", true), ("case_id", false)), k)
      .select(col("cluster"), col("rep_case_id"), col("case_id"),
        col("similarity"), col("rank"))
  }

  /** A7/A8/A10 — per-cluster stats (size, token mean/std, centroid). */
  def clusterStats(clustered: DataFrame): DataFrame =
    clustered.filter(col("cluster") =!= -1)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("cluster_size"),
        avg(col("total_tokens")).as("mean_tokens"),
        stddev(col("total_tokens")).as("std_tokens"),
        avg(col("section_count")).as("mean_sections"),
        avg(col("x")).as("centroid_x"),
        avg(col("y")).as("centroid_y"))
}
