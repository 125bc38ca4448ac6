package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's dbt medallion (bronze/silver/gold) re-expressed as
  * pure `DataFrame => DataFrame` transforms (SURVEY.md §3.2).
  *
  * Bronze/silver stay unmaterialized (Catalyst inlines them like dbt
  * views); gold outputs are what a caller would persist. The reference's
  * btree indexes have no Spark analog — at scale the gold tables are
  * written partitioned by `term` and sorted within files by the old
  * index keys instead.
  *
  * Faithfulness notes (SURVEY §7.3):
  *  - the speaker_role CASE chain keeps the reference's precedence QUIRK
  *    (bronze_oa_text.sql:34-39): 'CHIEF JUSTICE …' matches '%JUSTICE%'
  *    first and classifies as 'Justice'; the 'Chief Justice' arm only
  *    catches names with CHIEF but not JUSTICE.
  *  - speaker_count reproduces COALESCE(jsonb_array_length(...), 0) —
  *    json_array_length returns NULL (not -1) for null/invalid JSON.
  *  - ROUND(x::numeric, 2) maps to Spark round() (both HALF_UP).
  */
object Medallion {

  /** bronze_oa_text.sql — renames + duration + role classification. */
  def bronzeOaText(oaText: DataFrame): DataFrame =
    oaText.select(
      col("id").as("utterance_id"),
      col("case_id"), col("oa_id"), col("utterance_index"),
      col("speaker_id"), col("speaker_name"),
      col("text").as("utterance_text"),
      col("word_count"), col("token_count"),
      col("start_time_ms"), col("end_time_ms"),
      col("char_start_offset"), col("char_end_offset"),
      col("source_key"),
      when(col("start_time_ms").isNotNull && col("end_time_ms").isNotNull,
        (col("end_time_ms") - col("start_time_ms")) / 1000.0).as("duration_seconds"),
      when(nameHas("JUSTICE"), "Justice")
        .when(nameHas("CHIEF"), "Chief Justice")
        .when(nameHas("GENERAL"), "Solicitor General")
        .otherwise("Attorney").as("speaker_role"))

  /** `UPPER(speaker_name) LIKE '%<word>%'` for an upper-case ASCII word,
    * as a case-insensitive regex: Spark 4.1's `upper` initializes ICU's
    * case-map tables on first use (76 of a pipeline pass's 1416 CPU
    * samples, PERFORMANCE.md), and this is the path's only case
    * mapping. The two agree on every
    * name but those spelling the word with a character whose upper case
    * is several characters (the ligature ﬆ in "JUﬆICE") or whose lower
    * case is ASCII but upper case is not ('İ'). */
  private def nameHas(word: String): Column =
    col("speaker_name").rlike(s"(?iu)$word")

  /** bronze_transcript_embeddings.sql — renames + text_length +
    * JSONB-array-length speaker count. */
  def bronzeTranscriptEmbeddings(te: DataFrame): DataFrame =
    te.select(
      col("id").as("embedding_id"),
      col("text").as("embedding_text"),
      col("vector").as("embedding_vector"),
      col("case_name"), col("term"), col("case_id"), col("oa_id"),
      col("source_key"),
      col("speaker_list"),
      length(col("text")).as("text_length"),
      coalesce(json_array_length(col("speaker_list")), lit(0)).as("speaker_count"))

  /** silver_case_summaries.sql — A2 + A3 + A4 with J1/J2 left joins. */
  def silverCaseSummaries(bronzeOa: DataFrame, bronzeTe: DataFrame): DataFrame = {
    val utteranceStats = bronzeOa
      .groupBy(col("case_id"), col("oa_id"))
      .agg(
        countDistinct(col("utterance_id")).as("total_utterances"),
        countDistinct(col("speaker_name")).as("unique_speakers"),
        sum(col("word_count")).as("total_words"),
        sum(col("token_count")).as("total_tokens"),
        avg(col("duration_seconds")).as("avg_utterance_duration"),
        (max(col("end_time_ms")) / 1000.0).as("total_duration_seconds"))
    val speakerBreakdown = bronzeOa
      .groupBy(col("case_id"), col("oa_id"))
      .agg(
        count(when(col("speaker_role") === "Justice", 1)).as("justice_utterances"),
        count(when(col("speaker_role") === "Chief Justice", 1)).as("chief_justice_utterances"),
        count(when(col("speaker_role") === "Attorney", 1)).as("attorney_utterances"),
        count(when(col("speaker_role") === "Solicitor General", 1)).as("solicitor_general_utterances"))
    val embeddingStats = bronzeTe
      .groupBy(col("case_id"))
      .agg(
        count(lit(1)).as("total_embeddings"),
        avg(col("text_length")).as("avg_embedding_text_length"),
        max(col("speaker_count")).as("max_speakers_in_embedding"))
    utteranceStats
      .join(speakerBreakdown, Seq("case_id", "oa_id"), "left")
      .join(embeddingStats, Seq("case_id"), "left")
      .withColumn("total_duration_minutes", col("total_duration_seconds") / 60.0)
  }

  /** gold_speaker_analytics.sql — A5 per-speaker stats + J3 broadcast
    * dim join + A6 derived ratios + W6 sort.
    *
    * @param roundFn ROUND(x::numeric, 2)'s stand-in. Defaults to Spark
    *   round() (HALF_UP, the faithful Postgres mapping); oracle-checked
    *   exemplars pass Rounding.exactRound, whose pure-IEEE formulation
    *   is bit-identical across engines (see Rounding's scaladoc). */
  def goldSpeakerAnalytics(bronzeOa: DataFrame, bronzeTe: DataFrame,
      roundFn: (Column, Int) => Column = (c, n) => round(c, n)): DataFrame = {
    val speakerStats = bronzeOa
      .filter(col("speaker_name").isNotNull)
      .groupBy(col("speaker_name"), col("speaker_role"), col("case_id"), col("oa_id"))
      .agg(
        count(lit(1)).as("total_utterances"),
        sum(col("word_count")).as("total_words"),
        sum(col("token_count")).as("total_tokens"),
        avg(col("word_count")).as("avg_words_per_utterance"),
        sum(col("duration_seconds")).as("total_speaking_time"),
        avg(col("duration_seconds")).as("avg_utterance_duration"),
        min(col("utterance_index")).as("first_utterance_index"),
        max(col("utterance_index")).as("last_utterance_index"))
    val caseContext = bronzeTe
      .select(col("case_id"), col("case_name"), col("term")).distinct()
    speakerStats
      .join(broadcast(caseContext), Seq("case_id"), "left")
      .select(
        col("speaker_name"), col("speaker_role"), col("case_id"),
        col("case_name"), col("term"), col("oa_id"),
        col("total_utterances"), col("total_words"), col("total_tokens"),
        col("avg_words_per_utterance"),
        roundFn(col("total_speaking_time") / 60.0, 2).as("total_speaking_minutes"),
        col("avg_utterance_duration"),
        (col("last_utterance_index") - col("first_utterance_index") + 1)
          .as("utterance_span"),
        when(col("total_utterances") > 1,
          roundFn((col("last_utterance_index") - col("first_utterance_index"))
            .cast("double") / (col("total_utterances") - 1), 2))
          .otherwise(0.0).as("avg_utterance_gap"),
        when(col("total_speaking_time") > 0,
          roundFn(col("total_words").cast("double") /
            (col("total_speaking_time") / 60.0), 2)).as("words_per_minute"))
      .orderBy(col("total_utterances").desc)
  }

  /** gold_oral_arguments_analytics.sql — case dim + silver metrics +
    * participation/engagement ratios. */
  def goldOralArgumentsAnalytics(silver: DataFrame, bronzeTe: DataFrame,
      roundFn: (Column, Int) => Column = (c, n) => round(c, n)): DataFrame = {
    val caseInfo = bronzeTe
      .filter(col("case_name").isNotNull)
      .select(col("case_id"), col("case_name"), col("term")).distinct()
    caseInfo
      .join(silver, Seq("case_id"), "inner")
      .select(
        col("case_id"), col("case_name"), col("term"), col("oa_id"),
        col("total_utterances"), col("unique_speakers"),
        col("total_words"), col("total_tokens"),
        col("total_duration_minutes"), col("avg_utterance_duration"),
        roundFn(col("justice_utterances").cast("double") /
          nullif(col("total_utterances"), lit(0)) * 100, 2)
          .as("justice_participation_pct"),
        roundFn(col("attorney_utterances").cast("double") /
          nullif(col("total_utterances"), lit(0)) * 100, 2)
          .as("attorney_participation_pct"),
        roundFn(col("total_utterances").cast("double") /
          nullif(col("total_duration_minutes"), lit(0.0)), 2)
          .as("utterances_per_minute"),
        roundFn(col("total_words").cast("double") /
          nullif(col("total_duration_minutes"), lit(0.0)), 2)
          .as("words_per_minute"),
        col("total_embeddings"), col("avg_embedding_text_length"))
      .orderBy(col("term").desc, col("case_name"))
  }
}
