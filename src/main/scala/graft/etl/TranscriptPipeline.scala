package graft.etl

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end transcript pipeline (the Spark translation of the
  * reference's Step Functions state machine, SURVEY.md §3.1): one
  * lineage raw JSON → junk routing → utterances → chunks → embeddings
  * → XML, with the reference's verification gates as count assertions.
  *
  * Usage: runMain graft.etl.TranscriptPipeline <rawJsonGlob> <outDir> [dim]
  */
object TranscriptPipeline {

  /** The figures one ingest run reports (stdout line and summary.json). */
  case class Counts(raw: Long, valid: Long, junk: Long, utterances: Long,
                    utterancesInserted: Long, chunksInserted: Long)

  def main(args: Array[String]): Unit = {
    val outDir = args(1)
    val spark = graft.Sessions.local("graft-transcript-pipeline")
    val c = run(spark, args(0), outDir, if (args.length > 2) args(2).toInt else 1024)
    println(s"[pipeline] raw=${c.raw} valid=${c.valid} " +
      s"junk=${c.junk} utterances=${c.utterances} (+${c.utterancesInserted}) " +
      s"chunks=+${c.chunksInserted} -> $outDir")
    spark.stop()
  }

  /** One ingest of `rawPath` into `outDir` on `spark`. Every frame that
    * feeds more than one write is cached, so the JSON is parsed and the
    * chunks embedded once per run; the caches are dropped on return. */
  def run(spark: SparkSession, rawPath: String, outDir: String, dim: Int): Counts = {
    val t0 = System.nanoTime()
    val raw = Transcripts.readRaw(spark, rawPath).cache()
    val valid = Transcripts.valid(raw)
    // the raw and valid counts ride the junk write's own job, observed
    // above its filter; a metric timeout falls back to explicit counts
    val split = Observation()
    Sinks.writeJunk(Transcripts.junk(raw.observe(split,
      count(lit(1)).as("raw"), count_if(Transcripts.isValid).as("valid"))), s"$outDir/junk")
    val (nRaw, nValid) = ObservedPin.await(split)
      .map(m => (ObservedPin.long(m, "raw"), ObservedPin.long(m, "valid")))
      .getOrElse((raw.count(), valid.count()))
    val nJunk = nRaw - nValid

    val utterances = Transcripts.flatten(valid).cache()
    // verification gate (data_verification.py:31-65): rows must exist
    val nUtt = utterances.count()
    require(nUtt > 0, "verification gate: no utterances produced")
    val nUttInserted = Sinks.idempotentAppend(utterances, s"$outDir/oa_text", Seq("id"))

    val chunks = Transcripts.sectionChunks(utterances)
    val embedded = new HashingEmbedder(dim).embed(chunks, "chunk_text", "vector").cache()
    val nChunkInserted = Sinks.idempotentAppend(
      embedded, s"$outDir/document_chunk_embeddings", Seq("id"))
    // gate 2 (data_verification.py:67-106)
    require(spark.read.parquet(s"$outDir/document_chunk_embeddings").count() > 0,
      "verification gate: no chunk embeddings")

    Transcripts.toXml(utterances)
      .select("case_id", "xml") // text sink: one value column + partition col
      .write.mode("overwrite").partitionBy("case_id").text(s"$outDir/xml")

    // Legacy transcript-level embedding table (schema.sql:12-26): one row
    // per (case, oa) with the token-weighted mean of its chunk vectors
    // (A1) and the speaker list as a JSON column.
    import graft.functions.VecWeightedMean
    val transcriptEmbeddings = embedded
      .groupBy(col("case_id"), col("oa_id"), col("source_key"))
      .agg(
        concat_ws("\n", transform(
          sort_array(collect_list(struct(col("section_id").as("s"), col("chunk_text").as("t")))),
          x => x.getField("t"))).as("text"),
        VecWeightedMean(col("vector"), col("token_count").cast("double")).as("vector"))
      .join(utterances.groupBy(col("case_id"))
        .agg(to_json(sort_array(collect_set(col("speaker_name")))).as("speaker_list")),
        Seq("case_id"))
      .select(
        concat(col("case_id"), lit("_te")).as("id"), col("text"), col("vector"),
        expr("substring(case_id, instr(case_id, '_') + 1)").as("case_name"),
        substring_index(col("case_id"), "_", 1).as("term"),
        col("case_id"), col("oa_id"), col("source_key"),
        lit(null).cast("string").as("xml_uri"), col("speaker_list"))
      .cache()
    transcriptEmbeddings.write.mode("overwrite")
      .parquet(s"$outDir/transcript_embeddings")

    // dbt medallion (SURVEY §3.2): bronze/silver inline, gold persisted.
    import graft.analytics.Medallion
    val bronzeOa = Medallion.bronzeOaText(
      spark.read.parquet(s"$outDir/oa_text"))
    val bronzeTe = Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings)
    val silver = Medallion.silverCaseSummaries(bronzeOa, bronzeTe)
    // gold tables: partitioned by term (partition pruning replaces the
    // reference's btree indexes), sorted within files by the old index
    // keys (PERFORMANCE.md §5)
    Medallion.goldSpeakerAnalytics(bronzeOa, bronzeTe)
      .repartition(col("term")).sortWithinPartitions("speaker_name", "case_id")
      .write.mode("overwrite").partitionBy("term")
      .parquet(s"$outDir/gold_speaker_analytics")
    Medallion.goldOralArgumentsAnalytics(silver, bronzeTe)
      .repartition(col("term")).sortWithinPartitions("case_id")
      .write.mode("overwrite").partitionBy("term")
      .parquet(s"$outDir/gold_oral_arguments_analytics")
    Sinks.runSummary(s"$outDir/ingestion_summary/summary.json", Map(
      "raw_documents" -> nRaw,
      "valid_documents" -> nValid,
      "junk_documents" -> nJunk,
      "utterances" -> nUtt,
      "utterances_inserted" -> nUttInserted,
      "chunks_inserted" -> nChunkInserted,
      "duration_s" -> (System.nanoTime() - t0) / 1e9))
    Seq(raw, utterances, embedded, transcriptEmbeddings).foreach(_.unpersist())
    Counts(nRaw, nValid, nJunk, nUtt, nUttInserted, nChunkInserted)
  }
}
