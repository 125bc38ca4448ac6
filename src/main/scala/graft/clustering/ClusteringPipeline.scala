package graft.clustering

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{ObservedPin, Sinks}

/** Clustering analysis entry point (reference services/clustering/main.py
  * run_analysis, SURVEY.md §3.3): chunk table → case embeddings →
  * scale → project → cluster → representatives + neighbors → CSV/JSON
  * export (K5).
  *
  * Usage: runMain graft.clustering.ClusteringPipeline <chunkParquet> <outDir>
  */
object ClusteringPipeline {

  /** The figures one clustering run reports on stdout. */
  case class Counts(cases: Long, clusters: Long, reps: Long, neighbors: Long)

  def main(args: Array[String]): Unit = {
    val outDir = args(1)
    val spark = graft.Sessions.local("graft-clustering")
    val c = run(spark, args(0), outDir)
    println(s"[clustering] cases=${c.cases} clusters=${c.clusters} " +
      s"reps=${c.reps} neighbors=${c.neighbors} -> $outDir")
    spark.stop()
  }

  /** One clustering run over the chunk table at `chunkPath`, exported
    * to `outDir`; the cached frames are dropped on return. */
  def run(spark: SparkSession, chunkPath: String, outDir: String): Counts = {
    val chunks = spark.read.parquet(chunkPath)
    val cases = CaseClustering.caseEmbeddings(chunks).cache()
    val n = cases.count()
    require(n > 0, "no case embeddings")

    val scaled = CaseClustering.scale(cases)
    // GRAFT_PROJECTOR=tsne selects the driver-local exact t-SNE (the
    // reference's projector); default PCA (the scalable substitute)
    val projector: CaseClustering.Projector =
      sys.env.get("GRAFT_PROJECTOR") match {
        case Some("tsne") => new TsneProjector()
        case _ => new CaseClustering.PcaProjector()
      }
    val projected = projector.project(scaled, "scaled")
    // default = the reference's clusterer (driver-local HDBSCAN with
    // noise label -1, exercising the P8 noise-filter path);
    // GRAFT_CLUSTERER=kmeans selects the distributed MLlib substitute
    val clusterer: CaseClustering.Clusterer =
      sys.env.get("GRAFT_CLUSTERER") match {
        case Some("kmeans") => new CaseClustering.KMeansClusterer()
        case _ => new HdbscanClusterer()
      }
    val clustered = clusterer.cluster(projected, "scaled").cache()
    val reps = CaseClustering.representatives(clustered).cache()
    val neighbors = CaseClustering.topNeighbors(clustered, reps)

    // n_clusters and the reps and neighbors counts ride the exports' own
    // jobs as observed metrics; a metric timeout falls back to a count
    def observed(obs: Observation)(fallback: => Long): Long =
      ObservedPin.await(obs).map(ObservedPin.long(_, "n")).getOrElse(fallback)
    val (resultsObs, repsObs, neighborsObs) = (Observation(), Observation(), Observation())
    lazy val nClusters = observed(resultsObs)(CaseClustering.clusterStats(clustered).count())
    Sinks.csvWithMetadata(
      clustered.observe(resultsObs,
          size(collect_set(when(col("cluster") =!= -1, col("cluster")))).cast("long").as("n"))
        .select(col("case_id"), col("term_year"), col("docket_name"),
          col("total_tokens"), col("section_count"), col("x"), col("y"), col("cluster")),
      outDir,
      s"""{"n_cases": $n, "seed": 42,
         |"perplexity_clamped": ${CaseClustering.clampPerplexity(30.0, n)},
         |"min_cluster_size_clamped": ${CaseClustering.clampMinClusterSize(5, n)},
         |"n_clusters": $nClusters}""".stripMargin)
    // dashboard-layer exports (SURVEY S8/S9/A8: what the Streamlit app
    // re-aggregated client-side, precomputed here)
    graft.analytics.Dashboard.clusterSizeHistogram(clustered)
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/cluster_histogram")
    graft.analytics.Dashboard.termComparison(clustered)
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/term_comparison")
    reps.observe(repsObs, count(lit(1)).as("n"))
      .select(col("cluster"), col("case_id"), col("dist"))
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/representatives")
    neighbors.observe(neighborsObs, count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/neighbors")
    val counts = Counts(n, nClusters, observed(repsObs)(reps.count()),
      observed(neighborsObs)(neighbors.count()))
    Seq(cases, clustered, reps).foreach(_.unpersist())
    counts
  }
}
