package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Sink operators (SURVEY.md §2.1 K1–K5, K7, J5-incremental).
  *
  * The reference's "idempotent insert" is a per-row INSERT that catches
  * unique-key violations (helpers.py:250-346). Spark has no upsert into
  * parquet, so the equivalent is anti-join-then-append: left_anti the
  * incoming batch against the sink's existing keys, then append only the
  * novel rows. At scale the existing-key read prunes to the key columns
  * only (columnar scan), and the anti-join shuffles just the key.
  * Concurrent writers are out of scope (so were they for the reference —
  * its uniqueness came from a Postgres constraint).
  */
object Sinks {

  /** Store existence via the Hadoop FS API — java.nio only speaks the
    * local filesystem, and a silently-false exists on `hdfs://`/`s3a://`
    * would skip the anti-join dedup entirely, making "idempotent"
    * append duplicate rows on exactly the storage these sinks claim
    * to serve. "Exists" means HAS DATA: a dir holding only a
    * `_graft_meta` sidecar (the pin-leads-data bootstrap of the
    * parameter-pinned stores) has no keys to anti-join, and aiming
    * `spark.read.parquet` at it would fail schema inference. */
  private def storeExists(spark: SparkSession, path: String): Boolean =
    StoreMeta.hasData(spark, path)

  /** K3/K4 — insert-if-absent append keyed on `keys`. Returns the number
    * of rows actually appended. */
  def idempotentAppend(df: DataFrame, path: String, keys: Seq[String]): Long = {
    val spark = df.sparkSession
    val novel =
      if (storeExists(spark, path)) {
        val existing = spark.read.parquet(path).select(keys.map(col): _*).distinct()
        df.join(existing, keys, "left_anti")
      } else df
    // localCheckpoint, not cache(): the anti-join must be evaluated
    // exactly once, BEFORE the append touches `path`. A cached plan
    // re-evaluates from source on block loss/eviction — and by then the
    // sink already contains the partially-appended batch, so the re-run
    // would see its own output and drop or duplicate rows. The checkpoint
    // truncates lineage so the write can only read the materialized rows.
    // The inserted-row count rides the pin's own job (r17, ObservedPin).
    val (materialized, m) = ObservedPin(novel, Seq(count(lit(1)).as("__n")))
    val n = m.map(ObservedPin.long(_, "__n")).getOrElse(materialized.count())
    if (n > 0) materialized.write.mode(SaveMode.Append).parquet(path)
    n
  }

  /** [[idempotentAppend]] for a PARTITIONED store: appends land in
    * their partition directories (`partitionBy`), so a bucketed store
    * (e.g. the SemDeDup assignment store, partitioned by cluster
    * bucket) keeps its partition-pruning layout across incremental
    * upkeep. Same exactly-once discipline as the flat variant.
    *
    * The novelty read is PARTITION-PRUNED (r15 verdict's top ask): a
    * key's partition value is a pure function of the row (the stores'
    * bucketing contract — same key ⇒ same bucket), so an existing row
    * with a delta key can only live in a delta-touched partition dir.
    * The anti-join therefore reads O(delta-touched buckets), not
    * O(store), however many batches have accumulated. */
  def idempotentAppendPartitioned(df: DataFrame, path: String,
                                  keys: Seq[String],
                                  partitionCol: String): Long = {
    val spark = df.sparkSession
    // heal leaf-swap crash artifacts FIRST: a parked `<col>=v__compact_old`
    // dir would poison partition discovery (its name parses as a
    // partition value of the wrong type) before the pruned read runs
    BucketCompaction.heal(spark, path)
    // the touched-partition list rides the delta pin's own job (r17,
    // ObservedPin — was a separate collect job); ≤ |partition values|,
    // driver-bounded by the store's bucket count either way
    val (delta, dm) = ObservedPin(df,
      Seq(collect_set(col(partitionCol)).as("__touched")))
    val novel =
      if (storeExists(spark, path)) {
        val touched = dm.map(ObservedPin.values(_, "__touched"))
          .getOrElse(delta.select(col(partitionCol)).distinct()
            .collect().map(_.get(0)).toSeq)
        val existing = spark.read.parquet(path)
          .filter(col(partitionCol).isin(touched: _*))
          .select(keys.map(col): _*).distinct()
        delta.join(existing, keys, "left_anti")
      } else delta
    val (materialized, nm) = ObservedPin(novel, Seq(count(lit(1)).as("__n")))
    val n = nm.map(ObservedPin.long(_, "__n")).getOrElse(materialized.count())
    if (n > 0) materialized.write.mode(SaveMode.Append)
      .partitionBy(partitionCol).parquet(path)
    n
  }

  /** Default bucket count for the keyed-log layout: coarse enough that
    * fixture-scale stores don't drown in parquet footers, fine enough
    * that a small delta's novelty read prunes ~64× of the accumulated
    * log. A 100 TB deployment sizes it at store creation (the pin
    * freezes it); with daily deltas at 0.1% of corpus, kb = 1024 keeps
    * the anti-join read delta-scale. */
  val DefaultLogBuckets = 64

  /** The self-pinning keyed logs' sidecar family. */
  private[graft] val KeyedLogFamily = "keyed_log"

  /** The key tuple's bucket column: pure function of the key columns,
    * so the same key always lands in — and is probed from — the same
    * `__kb=` directory. Cast to int so the partition-column type Spark
    * infers back from the dir names matches what we filter with. */
  private[graft] def keyBucket(keys: Seq[String], kb: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(kb)).cast("int")

  /** The bucketed anti-join-append CORE — [[idempotentAppend]] with the
    * novelty read made O(delta), not O(store). The store is parquet
    * partitioned by `__kb = xxhash64(keys) mod kb`; a replayed or
    * duplicate key carries the same hash, so scanning ONLY the delta's
    * own bucket dirs for existing keys is sound (the r13
    * signature-pruned recipe, `Similarity.appendToIndex`). `kb` is the
    * caller-resolved pin — the pair logs resolve it from their own
    * `keyed_log` sidecar ([[idempotentAppendBucketed]]), the
    * signature/token/hood stores from the `kb` key their families pin
    * alongside their layout parameters. Returns inserted row count. */
  /** The existing-key frame of [[bucketedNoveltyAppend]]'s anti-join:
    * a partition-pruned scan of the delta-touched `__kb=` dirs only
    * (exposed so PrunedNoveltySpec can assert the scan's file metric
    * on the exact plan the append runs). */
  private[graft] def prunedExistingKeys(spark: SparkSession, path: String,
                                        keys: Seq[String],
                                        touched: Seq[Int]): DataFrame =
    spark.read.parquet(path)
      .filter(col("__kb").isin(touched: _*)) // partition-pruned scan
      .select(keys.map(col): _*).distinct()

  private[graft] def bucketedNoveltyAppend(df: DataFrame, path: String,
                                           keys: Seq[String], kb: Int): Long = {
    require(kb > 0, s"bucketedNoveltyAppend: kb must be positive, got $kb")
    val spark = df.sparkSession
    // heal before partition discovery can see a crashed leaf swap
    BucketCompaction.heal(spark, path)
    // touched-bucket list rides the delta pin (r17, ObservedPin — was
    // a separate collect job); ≤ kb values, driver-bounded either way
    val (delta, dm) = ObservedPin(
      df.withColumn("__kb", keyBucket(keys, kb)),
      Seq(collect_set(col("__kb")).as("__touched")))
    val novel =
      if (storeExists(spark, path)) {
        val touched = dm.map(ObservedPin.values(_, "__touched")
            .map(_.asInstanceOf[Int]))
          .getOrElse(delta.select(col("__kb")).distinct()
            .collect().map(_.getInt(0)).toSeq)
        delta.join(prunedExistingKeys(spark, path, keys, touched),
          keys, "left_anti")
      } else delta
    // same exactly-once discipline as the flat face: materialize the
    // anti-join BEFORE the append touches the files it read; the
    // inserted-row count rides the pin
    val (materialized, nm) = ObservedPin(novel, Seq(count(lit(1)).as("__n")))
    val n = nm.map(ObservedPin.long(_, "__n")).getOrElse(materialized.count())
    if (n > 0) materialized.write.mode(SaveMode.Append)
      .partitionBy("__kb").parquet(path)
    n
  }

  /** [[idempotentAppend]] for an unboundedly-growing keyed LOG (the
    * streaming pair/op logs): self-pinning `keyed_log` store, bucketed
    * by key hash so the per-batch novelty anti-join reads only the
    * delta-touched `__kb=` dirs — the last O(store)-per-batch pattern
    * (r15 verdict #1) closed. Day zero pins (kb, keys) BEFORE the
    * first data write (the pin-leads-data crash discipline); a resumed
    * writer resolves kb from the pin (`buckets` 0 = resolve; an
    * explicit value that disagrees fail-fasts — the Sketches merge
    * discipline) and fail-fasts on a key-tuple mismatch (rows bucketed
    * under different keys would silently miss the anti-join). Readers
    * are unaffected beyond an extra `__kb` partition column — drains
    * select their columns explicitly. */
  def idempotentAppendBucketed(df: DataFrame, path: String, keys: Seq[String],
                               buckets: Int = 0): Long = {
    val spark = df.sparkSession
    val keySpec = keys.mkString(",")
    val kb = StoreMeta.requireFamily(spark, path, KeyedLogFamily) match {
      case Some(m) =>
        require(m.contains("kb"),
          s"keyed log at $path pins no 'kb' — sidecar: $m")
        val pinned = m("kb").toInt
        require(buckets <= 0 || buckets == pinned,
          s"keyed log at $path is bucketed with kb=$pinned but the caller " +
            s"passed $buckets — a mismatched modulus silently mis-prunes " +
            "the novelty read; pass 0 to resolve from the pin")
        require(m.getOrElse("keys", "") == keySpec,
          s"keyed log at $path is bucketed on keys=[${m.getOrElse("keys", "")}] " +
            s"but this append keys on [$keySpec] — the novelty anti-join " +
            "would silently miss existing rows; use the store's key tuple")
        pinned
      case None =>
        val kb0 = if (buckets > 0) buckets else DefaultLogBuckets
        StoreMeta.pinFamily(spark, path, KeyedLogFamily,
          Map("kb" -> kb0.toString, "keys" -> keySpec))
        kb0
    }
    bucketedNoveltyAppend(df, path, keys, kb)
  }

  /** K1 — partitioned JSON sink (ingest/main.py:299-310 writes
    * raw/oral_arguments/term_{t}/...). */
  def partitionedJson(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).json(path)

  /** K2 — junk / dead-letter sink with context (ingest/main.py:96-119). */
  def writeJunk(junk: DataFrame, path: String): Unit =
    junk
      .withColumn("junked_at", current_timestamp())
      .write.mode(SaveMode.Append).json(path)

  /** K5 — single-file CSV export + driver-side metadata JSON
    * (clustering/helpers.py:261-315). coalesce(1) is deliberate: the
    * export is a small, final, human-facing artifact (the reference
    * uploads one CSV); never use this for large outputs. The metadata
    * is evaluated after the CSV is written, so it may read metrics
    * observed on that write. */
  def csvWithMetadata(df: DataFrame, dir: String, metadataJson: => String): Unit = {
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(s"$dir/results")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/metadata.json"), metadataJson)
  }

  /** Dynamic partition overwrite: replace exactly the partitions
    * present in `df`, leave every other partition untouched. This is
    * the idempotent unit of a scheduled backfill — re-running a day
    * replaces that day, never duplicates it and never clobbers its
    * neighbors (plain Overwrite+partitionBy truncates the WHOLE
    * table). The mode is set per-writer, not on the shared session. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Streaming sinks and per-batch
    * idempotent appends accrete files; at 100 TB the file count —
    * not the byte count — becomes the scan/listing bottleneck
    * (footer reads, task-per-file scheduling). One coalescing pass,
    * sized from the ACTUAL on-disk bytes, staged through a temp dir
    * so a crash mid-compact never leaves the directory truncated.
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    // coalesce, not repartition: compaction only ever reduces the file
    // count, and coalesce does it without a shuffle — the read tasks
    // write straight through
    spark.read.parquet(path).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(p, true)
    fs.rename(tmp, p)
    val after = fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }

  /** Bucketed catalog table — the co-located-join layout a 100 TB
    * warehouse keys its fact tables on: `bucketBy` the join key and
    * `sortBy` within buckets, so equi-joins between tables bucketed the
    * SAME way plan with ZERO Exchange and zero per-task sort (asserted
    * in BucketedJoinSpec). Bucketing requires the session catalog
    * (`saveAsTable`), not a path write — Spark persists the bucket
    * spec in table metadata and trusts it at read time. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String],
                    sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty && buckets > 0)
    val spark = df.sparkSession
    // A managed table's location can outlive the catalog entry (a new
    // process starts with an empty in-memory catalog but the same
    // warehouse dir), and CTAS refuses an existing location even under
    // Overwrite — so drop the entry AND clear any orphaned directory,
    // or a restarted process can never rebuild its layout.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val orphan = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(orphan)) fs.delete(orphan, true)
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val s = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    s.format("parquet").saveAsTable(table)
  }

  /** K7 — run summary metrics as a driver-side JSON write; counts come
    * from `observe()` metrics or cheap aggregates upstream. Keys and
    * string values are ESCAPED (backslash, quote, all control chars),
    * so a metric value carrying a quote, newline or tab cannot corrupt
    * the document — the reader of a run summary is usually a machine. */
  def runSummary(path: String, metrics: Map[String, Any]): Unit = {
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = metrics.map {
      case (k, v: String) => s"${esc(k)}: ${esc(v)}"
      case (k, v) => s"${esc(k)}: $v"
    }.mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }
}
