package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.reflect.io.Directory
import org.scalatest.BeforeAndAfterAll
import graft.clustering.ClusteringPipeline
import graft.etl.TranscriptPipeline

/** The two pipeline mains' `run` bodies, end to end on the transcript
  * fixtures: the ingest's reported and recorded counts, its idempotent
  * re-run, the clustering exports, and the sink file counts that the
  * cached frames' partitioning sets. The mains themselves build and stop
  * a session, so the spec calls `run` on the shared one. */
class PipelineMainsSpec extends SparkSpec with BeforeAndAfterAll {

  private val fixtures = Paths.get(getClass.getResource("/transcripts").getPath)
  private lazy val root = Files.createTempDirectory("graft_pipeline_mains")
  private lazy val out = root.resolve("out").toString

  // the 5 fixtures (2 valid, 3 junk) plus 8 renamed copies of the valid
  // ones: 10 cases, enough for the clusterer
  private lazy val rawGlob = {
    val raw = Files.createDirectories(root.resolve("raw"))
    Files.list(fixtures).iterator().asScala
      .foreach(f => Files.copy(f, raw.resolve(f.getFileName)))
    for (i <- 1 to 4) {
      Files.copy(fixtures.resolve("1981_plyler-v-doe.json"),
        raw.resolve(s"199${i}_plyler-copy-$i.json"))
      Files.copy(fixtures.resolve("1990_united-states_v_nixon.json"),
        raw.resolve(s"200${i}_nixon-copy-$i.json"))
    }
    s"$raw/*.json"
  }

  private lazy val first = TranscriptPipeline.run(spark, rawGlob, out, dim = 64)

  override def afterAll(): Unit = {
    new Directory(root.toFile).deleteRecursively()
    super.afterAll()
  }

  private def partFiles(table: String): Int =
    Files.list(Paths.get(out, table)).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))

  test("ingest reports and records the raw/valid/junk split") {
    assert((first.raw, first.valid, first.junk) == (13L, 10L, 3L))
    assert(first.utterances > 0 && first.utterancesInserted == first.utterances)
    assert(first.chunksInserted > 0)
    val summary = Files.readString(Paths.get(out, "ingestion_summary", "summary.json"))
    for ((k, v) <- Seq("raw_documents" -> 13, "valid_documents" -> 10, "junk_documents" -> 3))
      assert(summary.contains(s""""$k": $v"""), summary)
  }

  test("sinks over the cached frames write at most one file per core") {
    first
    for (t <- Seq("oa_text", "document_chunk_embeddings"))
      assert(partFiles(t) <= Sessions.cpus().toInt, s"$t: ${partFiles(t)} part files")
  }

  test("a second run on the same input inserts no utterances and no chunks") {
    first
    val again = TranscriptPipeline.run(spark, rawGlob, out, dim = 64)
    assert(again.utterances == first.utterances)
    assert((again.utterancesInserted, again.chunksInserted) == (0L, 0L))
  }

  test("clustering run writes every export") {
    first
    val dir = root.resolve("clusters")
    val c = ClusteringPipeline.run(spark, s"$out/document_chunk_embeddings", dir.toString)
    assert(c.cases == 10)
    assert(c.reps == c.clusters)
    for (f <- Seq("results", "cluster_histogram", "term_comparison",
                  "representatives", "neighbors", "metadata.json"))
      assert(Files.exists(dir.resolve(f)), s"missing $f")
    assert(Files.readString(dir.resolve("metadata.json")).contains(s""""n_clusters": ${c.clusters}"""))
    // the observed cluster count is the exported labels', noise excluded
    val labels = spark.read.option("header", "true").csv(dir.resolve("results").toString)
      .select("cluster").distinct().collect().map(_.getString(0).toInt).toSet
    assert(c.clusters == (labels - (-1)).size, s"labels: $labels")
    val exported = Seq("representatives", "neighbors")
      .map(f => spark.read.option("header", "true").csv(dir.resolve(f).toString).count())
    assert(exported == Seq(c.reps, c.neighbors))
  }
}
