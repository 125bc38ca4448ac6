package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Transcript
import graft.functions.TextFunctions._

/** Transcript ETL (SURVEY.md §2.8 G1/G2, §2.5 W1–W3, §2.2 P1/P11,
  * §2.1 S5/K2/K6): raw nested Oyez JSON → utterances → section chunks.
  *
  * Everything here is declarative DataFrame code: the triple unnest is
  * chained `posexplode`, ordering/offsets are window functions
  * partitioned by case (narrow per-case sorts), and chunk assembly is a
  * deterministic `sort_array(collect_list(struct(...)))`. At 100 TB the
  * only shuffles are (1) the per-case window sort and (2) the chunk
  * groupBy — both keyed on case_id, so Catalyst reuses one exchange.
  */
object Transcripts {

  /** S5 — schema'd PERMISSIVE scan of raw transcript JSON; malformed
    * documents land in `_corrupt_record` instead of failing the job
    * (per-file fault isolation, processors.py:75-82). */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(Transcript.schema)
      .json(path)
      .withColumn("source_key", input_file_name())

  /** F7 — derive (term, case_name, case_id, oa_id) from the source key
    * `.../{term}_{case-name}.json` exactly as transformers/helpers.py:21-37:
    * split the basename at the FIRST underscore. */
  def withCaseKeys(df: DataFrame): DataFrame = {
    val base = regexp_extract(col("source_key"), "([^/]+)\\.json$", 1)
    df
      .withColumn("oa_id", concat(base, lit(".json")))
      .withColumn("case_term", substring_index(base, "_", 1))
      .withColumn("case_name",
        expr("substring(regexp_extract(source_key, '([^/]+)\\\\.json$', 1), " +
          "instr(regexp_extract(source_key, '([^/]+)\\\\.json$', 1), '_') + 1)"))
      .withColumn("doc_case_id", concat(col("case_term"), lit("_"), col("case_name")))
  }

  /** P11 — shape validation: transcript.sections present and non-empty. */
  def isValid: Column =
    col("_corrupt_record").isNull &&
      col("transcript").isNotNull &&
      col("transcript.sections").isNotNull &&
      size(col("transcript.sections")) > 0

  /** Valid documents (complement of [[junk]]). */
  def valid(raw: DataFrame): DataFrame = raw.filter(isValid)

  /** K2 — dead-letter rows: corrupt or shape-invalid
    * (helpers.py:122-127,238-246). */
  def junk(raw: DataFrame): DataFrame = raw.filter(!isValid || isValid.isNull)

  /** G1 + W1 + W2 + P1 — flatten sections→turns→text_blocks into the
    * utterance table (oa_text shape, schema.sql:28-45).
    *
    * @param minWords drop blocks with <= minWords words (reference: 3)
    */
  def flatten(docs: DataFrame, minWords: Int = 3): DataFrame = {
    val keyed = withCaseKeys(docs)
    val exploded = keyed
      .select(col("doc_case_id").as("case_id"), col("oa_id"), col("source_key"),
        posexplode(col("transcript.sections")).as(Seq("section_id", "section")))
      .select(col("case_id"), col("oa_id"), col("source_key"), col("section_id"),
        posexplode(col("section.turns")).as(Seq("turn_idx", "turn")))
      .select(col("case_id"), col("oa_id"), col("source_key"), col("section_id"),
        col("turn_idx"),
        col("turn.speaker.identifier").as("speaker_id"),
        col("turn.speaker.name").as("speaker_name"),
        posexplode(col("turn.text_blocks")).as(Seq("block_idx", "block")))
      .select(col("case_id"), col("oa_id"), col("source_key"), col("section_id"),
        col("turn_idx"), col("block_idx"), col("speaker_id"), col("speaker_name"),
        col("block.text").as("text"),
        (col("block.start") * 1000).cast("long").as("start_time_ms"),
        (col("block.stop") * 1000).cast("long").as("end_time_ms"))
      .filter(wordCount(col("text")) > minWords)

    // W1: document-order global index per case (posexplode ordinals give
    // the total order); W2: running char offsets over kept utterances.
    val order = Window.partitionBy(col("case_id"))
      .orderBy(col("section_id"), col("turn_idx"), col("block_idx"))
    val offsets = order.rowsBetween(Window.unboundedPreceding, -1)
    exploded
      .withColumn("utterance_index", row_number().over(order) - 1)
      .withColumn("char_start_offset",
        coalesce(sum(length(col("text")) + 1).over(offsets), lit(0L)))
      .withColumn("char_end_offset", col("char_start_offset") + length(col("text")))
      .withColumn("word_count", wordCount(col("text")))
      .withColumn("token_count", tokenCount(col("text")))
      .withColumn("id",
        concat(col("case_id"), lit("_utterance_"), col("utterance_index")))
  }

  /** G2 + W3 + U1/U2 — assemble per-section chunks: ordered
    * "speaker: text" lines joined by \n, token-capped (reference 8000,
    * helpers.py:178-199). Deterministic via sort_array over
    * (utterance_index, line) structs — collect_list alone has no order
    * guarantee. */
  def sectionChunks(utterances: DataFrame, maxTokens: Int = 8000): DataFrame = {
    val line = concat_ws(": ", col("speaker_name"), col("text"))
    utterances
      .groupBy(col("case_id"), col("oa_id"), col("section_id"))
      .agg(
        concat_ws("\n",
          transform(
            sort_array(collect_list(struct(col("utterance_index").as("i"), line.as("l")))),
            x => x.getField("l"))).as("raw_text"),
        sum(col("word_count")).as("word_count"),
        min(col("utterance_index")).as("start_utterance_index"),
        max(col("utterance_index")).as("end_utterance_index"),
        countDistinct(col("speaker_name")).as("speaker_count"),
        first(col("source_key")).as("source_key"))
      .withColumn("chunk_text", truncateToTokens(col("raw_text"), maxTokens))
      .withColumn("token_count", tokenCount(col("chunk_text")))
      .withColumn("utterance_count",
        col("end_utterance_index") - col("start_utterance_index") + 1)
      .withColumn("id", concat(col("case_id"), lit("_section_"), col("section_id")))
      .drop("raw_text")
  }

  /** K6 — XML serialization per oral argument, byte-identical to the
    * reference's output (helpers.py:367-399 writes ElementTree with
    * `encoding="unicode"`; examples/25650_20250521_194825.xml is the
    * golden sample — single line, no declaration, no trailing newline,
    * a `speaker_id` attribute on every utterance, ET escaping rules).
    * XmlGoldenSpec round-trips the golden file through this writer and
    * asserts byte equality. */
  def toXml(utterances: DataFrame): DataFrame = {
    // missing speaker name defaults to "Unknown" (helpers.py:379)
    val attrs = concat(
      lit("<utterance speaker=\""),
      xmlEscapeAttr(coalesce(col("speaker_name"), lit("Unknown"))),
      lit("\" speaker_id=\""),
      xmlEscapeAttr(coalesce(col("speaker_id"), lit(""))),
      lit("\""))
    // The reference filters falsy text at ingest, so its writer never
    // sees empty/null — but this operator's contract is TOTAL: a
    // null/empty text serializes as ElementTree would serialize an
    // empty element (self-closing `<utterance ... />`), never as a
    // silently dropped element (concat would null the whole utterance
    // and concat_ws would swallow it).
    val el = when(col("text").isNull || col("text") === "",
        concat(attrs, lit(" />")))
      .otherwise(concat(attrs,
        lit(">"), xmlEscapeText(col("text")), lit("</utterance>")))
    utterances
      .groupBy(col("case_id"), col("oa_id"))
      .agg(concat_ws("",
        transform(
          sort_array(collect_list(struct(col("utterance_index").as("i"), el.as("e")))),
          x => x.getField("e"))).as("body"))
      .select(col("case_id"), col("oa_id"),
        concat(lit("<transcript>"), col("body"), lit("</transcript>")).as("xml"))
  }
}
