package graft

import org.apache.spark.sql.functions._
import graft.analytics.Medallion
import graft.etl.{HashingEmbedder, Transcripts}

class MedallionSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = getClass.getResource("/transcripts").getPath
  private lazy val utterances =
    Transcripts.flatten(Transcripts.valid(Transcripts.readRaw(spark, s"$fixtures/*.json")))
  private lazy val chunks = new HashingEmbedder(64)
    .embed(Transcripts.sectionChunks(utterances), "chunk_text", "vector")

  // legacy transcript_embeddings fixture built from the pipeline outputs
  private lazy val transcriptEmbeddings = chunks
    .groupBy($"case_id", $"oa_id", $"source_key")
    .agg(
      concat_ws("\n", collect_list($"chunk_text")).as("text"),
      first($"vector").as("vector"))
    .join(
      utterances.groupBy($"case_id")
        .agg(to_json(collect_set($"speaker_name")).as("speaker_list")),
      Seq("case_id"))
    .select(
      concat($"case_id", lit("_te")).as("id"), $"text", $"vector",
      regexp_replace($"case_id", "^\\d+_", "").as("case_name"),
      substring($"case_id", 1, 4).as("term"),
      $"case_id", $"oa_id", $"source_key",
      lit(null).cast("string").as("xml_uri"),
      $"speaker_list")

  test("bronze_oa_text: role classifier reproduces the ILIKE precedence quirk") {
    val roles = Seq(
      ("Justice Thurgood Marshall", "Justice"),
      ("Chief Justice Warren E. Burger", "Justice"), // QUIRK: %JUSTICE% wins
      ("Chief Burger", "Chief Justice"),
      ("Solicitor General Smith", "Solicitor General"),
      ("John Q. Advocate", "Attorney"),
      ("chief justice roberts", "Justice"),
      ("Chief burger", "Chief Justice"),
      ("mr. GENERAL counsel", "Solicitor General"),
      ("sOlIcItOr gEnErAl jones", "Solicitor General"),
      ("justıce (dotless i)", "Justice"))
    val in = roles.map(_._1).zipWithIndex.map { case (n, i) =>
      (s"c_utterance_$i", "c", "oa", i, "sid", n, "hello world one two", 4, 4,
        Some(0L), Some(1000L), 0L, 19L, "sk")
    }.toDF("id", "case_id", "oa_id", "utterance_index", "speaker_id",
      "speaker_name", "text", "word_count", "token_count", "start_time_ms",
      "end_time_ms", "char_start_offset", "char_end_offset", "source_key")
    val got = Medallion.bronzeOaText(in)
      .select("speaker_name", "speaker_role").as[(String, String)].collect().toMap
    roles.foreach { case (n, want) => assert(got(n) == want, n) }
    // the reference's UPPER(speaker_name) LIKE chain agrees on every name
    val upperChain =
      when(upper($"speaker_name").contains("JUSTICE"), "Justice")
        .when(upper($"speaker_name").contains("CHIEF"), "Chief Justice")
        .when(upper($"speaker_name").contains("GENERAL"), "Solicitor General")
        .otherwise("Attorney")
    assert(Medallion.bronzeOaText(in)
      .filter(not($"speaker_role" <=> upperChain)).count() == 0)
  }

  test("bronze_transcript_embeddings: speaker_count from JSON with COALESCE-0") {
    val bte = Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings)
    val counts = bte.select("case_id", "speaker_count").as[(String, Int)].collect().toMap
    assert(counts("1981_plyler-v-doe") == 3)
    assert(counts("1990_united-states_v_nixon") == 2)
    // null speaker_list → 0, not -1
    val nullRow = Medallion.bronzeTranscriptEmbeddings(
      transcriptEmbeddings.withColumn("speaker_list", lit(null).cast("string")))
      .select("speaker_count").as[Int].head()
    assert(nullRow == 0)
  }

  test("silver_case_summaries: per-case aggregates line up with raw counts") {
    val silver = Medallion.silverCaseSummaries(
      Medallion.bronzeOaText(utterances),
      Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings))
    val plyler = silver.filter($"case_id" === "1981_plyler-v-doe").head()
    assert(plyler.getAs[Long]("total_utterances") == 4)
    assert(plyler.getAs[Long]("unique_speakers") == 3)
    assert(plyler.getAs[Long]("total_embeddings") == 1)
    val wordSum = utterances.filter($"case_id" === "1981_plyler-v-doe")
      .agg(sum("word_count")).head.getLong(0)
    assert(plyler.getAs[Long]("total_words") == wordSum)
  }

  test("gold_speaker_analytics: per-speaker rollup with case context") {
    val gold = Medallion.goldSpeakerAnalytics(
      Medallion.bronzeOaText(utterances),
      Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings))
    val burger = gold.filter($"speaker_name" === "Warren E. Burger").head()
    assert(burger.getAs[Long]("total_utterances") == 2)
    assert(burger.getAs[String]("case_name") == "plyler-v-doe")
    assert(burger.getAs[Int]("utterance_span") == 2) // indexes 0..1
    // single-utterance speaker: gap defaults to 0
    val marshall = gold.filter($"speaker_name" === "Thurgood Marshall").head()
    assert(marshall.getAs[Double]("avg_utterance_gap") == 0.0)
  }

  test("gold_oral_arguments_analytics: ratios and null-guards") {
    val silver = Medallion.silverCaseSummaries(
      Medallion.bronzeOaText(utterances),
      Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings))
    val gold = Medallion.goldOralArgumentsAnalytics(
      silver, Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings))
    val plyler = gold.filter($"case_id" === "1981_plyler-v-doe").head()
    // fixture speakers contain no JUSTICE/CHIEF/GENERAL names → all Attorney
    assert(plyler.getAs[Double]("attorney_participation_pct") == 100.0)
    assert(plyler.getAs[Double]("justice_participation_pct") == 0.0)
    assert(plyler.getAs[Double]("utterances_per_minute") > 0)
  }

  test("dbt schema tests: not_null + unique on silver/gold keys") {
    val silver = Medallion.silverCaseSummaries(
      Medallion.bronzeOaText(utterances),
      Medallion.bronzeTranscriptEmbeddings(transcriptEmbeddings))
    assert(silver.filter($"case_id".isNull || $"oa_id".isNull).count() == 0)
    assert(silver.select("case_id", "oa_id").distinct().count() == silver.count())
    // assert_positive_durations.sql: 0 rows with non-positive durations
    val bronzeOa = Medallion.bronzeOaText(utterances)
    assert(bronzeOa.filter($"duration_seconds" <= 0).count() == 0)
  }
}
